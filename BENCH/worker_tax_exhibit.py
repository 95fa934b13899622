"""The per-task Python tax: what each Python task pays before its UDF runs,
and where a benchmark repetition's CPU goes.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task. Two measurements, in one ``local[<cpus>]`` session:

1. for each perfbench workload, its seed-1 inputs (``perfbench/gen.py``)
   after one warm-up repetition: the CPU seconds of each timed repetition,
   split over the process tree into the driver's Python, the JVM and the
   Python workers (the PySpark daemon and its forked workers). CPU is
   ``utime + stime + cutime + cstime`` per process, read from ``/proc``
   through ``perfbench/procs.py``;
2. then, inside every Python worker that already ran tasks: the number of
   zip importers in ``sys.path_importer_cache``, the
   ``zipimport._read_directory`` calls made by one
   ``importlib.invalidate_caches()`` and its wall time.

Usage, from anywhere:

    python BENCH/worker_tax_exhibit.py [--reps 3] [--root DIR] [--label L]

``--root`` points at another checkout (for example an exported parent
commit) whose package and perfbench inputs are measured; ``--label``
names the run. The run is appended to ``BENCH/WORKER_TAX.json`` next to
this script.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PARTS = ("driver", "jvm", "python_workers")


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:  # exited
        return ""


def cpu_split(root: int) -> dict[str, float]:
    """CPU seconds of ``root``'s process tree by part: ``root`` itself,
    the JVM it launched, and every other process (the Python workers)."""
    from perfbench.procs import tree

    tick = os.sysconf("SC_CLK_TCK")
    out = dict.fromkeys(PARTS, 0.0)
    for pid, fields in tree(root).items():
        part = ("driver" if pid == root
                else "jvm" if _comm(pid) == "java" else "python_workers")
        out[part] += sum(int(x) for x in fields[11:15]) / tick
    return out


def _worker_probe():
    """A ``mapInPandas`` function (shipped by value) that measures one
    ``importlib.invalidate_caches()`` in the worker that runs it."""
    def probe(batches):
        import importlib
        import zipimport

        import pandas as pd

        import ocr_platform_spark  # noqa: F401  (as every package UDF does)

        for batch in batches:
            importers = sum(isinstance(f, zipimport.zipimporter)
                            for f in sys.path_importer_cache.values())
            real, calls = zipimport._read_directory, []

            def counting(archive):
                calls.append(archive)
                return real(archive)

            zipimport._read_directory = counting
            try:
                t0 = time.perf_counter()
                importlib.invalidate_caches()
                ms = (time.perf_counter() - t0) * 1000
            finally:
                zipimport._read_directory = real
            yield pd.DataFrame({"pid": [os.getpid()] * len(batch),
                                "importers": importers,
                                "reads": len(calls), "ms": ms})
    return probe


def workload_split(spark, name: str, work: str, reps: int) -> dict:
    from perfbench.run import _generate
    from perfbench.workloads import WORKLOADS

    manifest = _generate(name, 1)
    wl = WORKLOADS[name](spark, os.path.join(os.getcwd(), manifest["dir"]),
                         work)
    failed = wl.rep()[1]  # warm-up
    rows = []
    for _ in range(reps):
        before = cpu_split(os.getpid())
        wall, bad = wl.rep()
        after = cpu_split(os.getpid())
        failed += bad
        cpu = {p: round(after[p] - before[p], 2) for p in PARTS}
        rows.append({"wall_s": round(wall, 2), **cpu,
                     "tree": round(sum(cpu.values()), 2)})
    median = {k: round(statistics.median(r[k] for r in rows), 2)
              for k in rows[0]}
    return {"pages": manifest["pages"], "failed": failed,
            "median_cpu_s_per_rep": median, "reps": rows}


def worker_invalidation(spark, cpus: int) -> dict:
    df = spark.range(0, 2 * cpus, numPartitions=cpus)
    schema = "pid long, importers int, reads int, ms double"
    rows = [df.mapInPandas(_worker_probe(), schema).collect()
            for _ in range(2)][-1]
    return {"tasks": len(rows), "workers": len({r.pid for r in rows}),
            "zip_importers": sorted(r.importers for r in rows),
            "read_directory_calls": sorted(r.reads for r in rows),
            "invalidate_ms_median": round(
                statistics.median(r.ms for r in rows), 2)}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--root", default=os.path.dirname(HERE))
    ap.add_argument("--label", default="working tree")
    args = ap.parse_args()
    os.chdir(args.root)  # perfbench/run.py works from its checkout root
    sys.path.insert(0, args.root)
    from perfbench.run import WORK, _environment, spark_conf, stop_jvm

    cpus = len(os.sched_getaffinity(0))
    shutil.rmtree(WORK, ignore_errors=True)
    _environment(WORK, cpus)
    from ocr_platform_spark.session import get_spark

    spark = get_spark("worker-tax", master=f"local[{cpus}]",
                      extra_conf=spark_conf(WORK, False))
    spark.sparkContext.setLogLevel("FATAL")
    try:
        run = {"label": args.label, "cpus": cpus,
               "python": sys.version.split()[0],
               "workloads": {name: workload_split(spark, name, WORK,
                                                  args.reps)
                             for name in ("synth_flagship", "crawl_mix")},
               "worker_invalidation": worker_invalidation(spark, cpus)}
    finally:
        spark.stop()
        stop_jvm()
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(run))
    out = os.path.join(HERE, "WORKER_TAX.json")
    doc = {"exhibit": "BENCH/worker_tax_exhibit.py", "runs": []}
    if os.path.exists(out):
        with open(out) as f:
            doc = json.load(f)
    doc["runs"].append(run)
    with open(out, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
