"""Extraction benchmark: one workload, closed loop, one client.

    python3 perfbench/run.py --workload synth_flagship --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout. Steps:

1. ``perfbench/gen.py`` generates (or re-verifies) the seeded inputs in its
   own process, before Spark starts;
2. a bare-kernel ceiling probe (``BENCH/hardware_ceiling.py`` ``level()``,
   sized to the CPU count) records host noise before and after the run;
3. the workload's Spark session is set up twice: the first set-up
   launches the JVM, the second restarts the SparkContext on it. Each
   set-up is ``get_spark`` plus the workload's warm-up, one untimed
   repetition;
4. with ``--trace 0``, the restarted session runs ``--seconds`` of timed
   repetitions (at least one) on ``local[<cpus>]``;
5. with ``--trace 1``, the cold session runs one repetition confined to a
   quarter of the CPUs (``scaling.eff``) and half of ``--seconds`` of
   untraced repetitions; the restarted session writes a Spark event
   log, runs half of ``--seconds`` of traced repetitions, and then the
   per-layer ledger (``perfbench/ledger.py``).

Every repetition's output is checked against the reference. The last
line of standard output is one JSON object with the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, "perfbench", ".work")

CEILING_PROBE = """
import json, os, sys
sys.path.insert(0, os.getcwd())
from BENCH.hardware_ceiling import level
n = len(os.sched_getaffinity(0))
print(json.dumps(level(n, 12, pin=False)))
"""


def _preflight() -> None:
    need = ("ocr_platform_spark/session.py", "tests/test_extract_real.py",
            "BENCH/hardware_ceiling.py")
    missing = [p for p in need if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        sys.stderr.write(f"perfbench: run from a checkout root; missing "
                         f"{', '.join(missing)}\n")
        sys.exit(2)


def _environment(work: str, cpus: int) -> None:
    """Worker import path, thread pinning and scratch locations; set
    before the JVM starts so that it and every Python worker inherit them."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)


def spark_conf(work: str, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "hadoop"),
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        # uncompressed and non-rolling: Spark 4.1 defaults to zstd logs
        os.makedirs(os.path.join(WORK, "events"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _generate(workload: str, seed: int) -> dict:
    res = subprocess.run(
        [sys.executable, "perfbench/gen.py", "--workload", workload,
         "--seed", str(seed)],
        cwd=ROOT, stdout=subprocess.PIPE, check=True, timeout=170)
    return json.loads(res.stdout.decode().strip().splitlines()[-1])


def ceiling_probe() -> float:
    """Aggregate pages/s of the bare OCR kernels on every CPU, no Spark."""
    res = subprocess.run([sys.executable, "-c", CEILING_PROBE],
                         cwd=ROOT, stdout=subprocess.PIPE, check=True,
                         timeout=120)
    return float(res.stdout.decode().strip().splitlines()[-1])


def stop_jvm() -> None:
    """End the JVM that PySpark launched and wait for it: its gateway
    server exits when its stdin closes. Idempotent."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def run(args) -> dict:
    from perfbench.procs import TreeMonitor, set_affinity
    from perfbench.workloads import WORKLOADS
    from ocr_platform_spark.session import get_spark

    all_cpus = os.sched_getaffinity(0)
    cpus = len(all_cpus)
    small_cpus = set(sorted(all_cpus)[:max(1, cpus // 4)])
    timeline = {}
    t_run = time.perf_counter()
    # a crawl_mix input directory also holds the synthetic media and the
    # oracle: the traced run's ledger needs both, whatever the workload
    manifest = _generate("crawl_mix" if args.trace else args.workload,
                         args.seed)
    inputs = os.path.join(ROOT, manifest["dir"])
    pages = manifest["pages"]
    timeline["generate"] = time.perf_counter() - t_run
    ceiling_before = ceiling_probe()

    reps, setups, starts, warms = [], [], [], []
    attempted = failed = 0
    ledger = None
    # untraced: the cold session only sets up, the restarted one measures;
    # traced: the cold session measures untraced (and on a quarter of the
    # CPUs), the restarted one traced
    phase_s = args.seconds / 2 if args.trace else args.seconds
    with TreeMonitor() as mon:
        for i in range(2):
            traced = bool(args.trace) and i == 1
            t0 = time.perf_counter()
            spark = get_spark(f"perfbench-{args.workload}",
                              master=f"local[{cpus}]",
                              extra_conf=spark_conf(WORK, traced))
            # a restarted SparkContext logs one harmless accumulator
            # error per task for module-level pandas UDFs
            spark.sparkContext.setLogLevel("FATAL")
            starts.append(time.perf_counter() - t0)
            if traced:
                from perfbench.ledger import LAYER, Ledger

                # runs the session's first Python job, before the warm-up
                ledger = Ledger(spark, WORK, inputs)
                ledger.worker_init(cpus)
            t1 = time.perf_counter()
            wl = WORKLOADS[args.workload](spark, inputs, WORK)
            # the warm-up job is one untimed repetition: a repetition's
            # cost is mostly per-job, so a slice would save little time
            # and leave the first timed repetitions slower
            failed += wl.rep()[1]
            attempted += len(wl.reference)
            warms.append(time.perf_counter() - t1)
            setups.append(starts[-1] + warms[-1])
            timeline[f"session{i}"] = time.perf_counter() - t_run
            if i == 0 and not args.trace:
                spark.stop()
                continue
            if args.trace and not traced:
                # the same repetition with the whole process tree confined
                # to a quarter of the CPUs; it also warms the cold JVM
                # further before the untraced repetitions
                set_affinity(mon.root, small_cpus)
                try:
                    wall, bad = wl.rep()
                finally:
                    set_affinity(mon.root, all_cpus)
                failed += bad
                attempted += len(wl.reference)
                small_pps = pages / wall
                timeline["scaling"] = time.perf_counter() - t_run
            if traced:
                spark.sparkContext.setLocalProperty(LAYER, "rep")
            end = time.perf_counter() + phase_s
            while True:
                with mon.window() as w:
                    wall, bad = wl.rep()
                reps.append(dict(w, wall=wall, traced=traced))
                failed += bad
                attempted += len(wl.reference)
                if time.perf_counter() >= end:
                    break
            timeline[f"reps{i}"] = time.perf_counter() - t_run
            if traced:
                spark.sparkContext.setLocalProperty(LAYER, None)
                timeline["ledger_steps"] = ledger.run()
                timeline["ledger"] = time.perf_counter() - t_run
            spark.stop()
    stop_jvm()
    ceiling_after = ceiling_probe()
    timeline["total"] = time.perf_counter() - t_run
    timeline = {k: v if isinstance(v, dict) else round(v, 2)
                for k, v in timeline.items()}

    plain = [r for r in reps if not r["traced"]]
    pps = statistics.median([pages / r["wall"] for r in plain])
    res = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus,
        "docs": manifest["docs"], "pages": pages,
        "reps": len(plain), "attempted": attempted, "failed": failed,
        "ceiling_pages_per_s_before": ceiling_before,
        "ceiling_pages_per_s_after": ceiling_after,
        "input_digest": manifest["digest"],
        "timeline_s": timeline,
        "rep_walls_s": [round(r["wall"], 3) for r in reps],
        "rep_rss_mb": [round(r["peak_rss_mb"]) for r in reps],
        "setups_s": [round(x, 3) for x in setups],
    }
    if args.trace:
        traced = [r for r in reps if r["traced"]]
        metrics = ledger.finish(os.path.join(WORK, "events"), len(traced))
        res["failed"] += ledger.failed
        res["attempted"] += ledger.attempted
        # the cold start, with the JVM launch; restarts take ~0.1 s
        metrics["session.start_s"] = (starts[0], "s")
        metrics["session.warmup_s"] = (statistics.median(warms), "s")
        metrics["trace.overhead"] = (
            pps / statistics.median([pages / r["wall"] for r in traced]) - 1, "fraction")
        metrics["scaling.eff"] = (
            pps / (cpus / len(small_cpus) * small_pps), "ratio")
    else:
        metrics = {
            "pages_per_s": (pps, "pages/s"),
            "cpu_s_per_kpage": (statistics.median(
                [r["cpu_s"] / pages * 1000 for r in plain]), "CPU-s/kpage"),
            "peak_rss_mb": (statistics.median([r["peak_rss_mb"] for r in plain]), "MB"),
            "setup_s": (statistics.median(setups), "s"),
        }
    res["failed_frac"] = res["failed"] / res["attempted"]
    res["metrics"] = metrics
    return res


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("synth_flagship", "crawl_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    _preflight()
    shutil.rmtree(WORK, ignore_errors=True)
    _environment(WORK, len(os.sched_getaffinity(0)))
    try:
        res = run(args)
    finally:
        stop_jvm()
        shutil.rmtree(WORK, ignore_errors=True)
    metrics = res.pop("metrics")
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    print("failed_frac = {:.6g} fraction".format(res["failed_frac"]))
    print("run: " + json.dumps(res, sort_keys=True))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {name: {"value": value, "unit": unit}
                    for name, (value, unit) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
