"""Alternating-pairs A/B runner for the perfbench workloads (stdlib only).

    python3 tools/ab_pairs.py --parent REV --workload crawl_mix --pairs 10
    python3 tools/ab_pairs.py --parent REV --workload crawl_mix --pairs 10 \
        --trace 1

Exports revision ``REV`` (``git archive``) and the current working tree
(tracked and untracked, non-ignored files) into two temporary
checkouts, then runs ``perfbench/run.py --trace T`` (default 0) once
per side per pair, for ``BENCHMARK.json``'s ``run_seconds``. Pair ``i`` uses seed
``i`` (1-based) on both sides, and the side that runs first alternates
from pair to pair, so slow drift of the host lands on both sides evenly.
Each run's metrics are printed as it finishes.

Printed per end-to-end metric of ``BENCHMARK.json``: the parent's and
the change's median and quartiles, the change's wins (pairs where it is
better, in the metric's direction), the median's relative change and
whether it stays inside the metric's bound. With ``--trace 1`` the
same is printed for every per-layer ledger metric of ``BENCHMARK.json``
(those have no bound). Also printed: the summed ``failed`` count of
each side.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _git(*args: str) -> bytes:
    return subprocess.run(["git", "-C", ROOT, *args], check=True,
                          capture_output=True).stdout


def export_rev(rev: str, dest: str) -> None:
    """``git archive`` of ``rev`` unpacked into ``dest``."""
    os.makedirs(dest)
    tar = _git("archive", "--format=tar", rev)
    subprocess.run(["tar", "-x", "-C", dest], input=tar, check=True)


def export_worktree(dest: str) -> None:
    """The working tree's tracked and untracked non-ignored files."""
    names = _git("ls-files", "-z", "--cached", "--others",
                 "--exclude-standard").split(b"\0")
    for raw in names:
        name = raw.decode()
        src = os.path.join(ROOT, name)
        if not name or not os.path.isfile(src):
            continue  # deleted in the working tree
        out = os.path.join(dest, name)
        os.makedirs(os.path.dirname(out), exist_ok=True)
        shutil.copy2(src, out)


def run_once(checkout: str, workload: str, seed: int,
             seconds: float, trace: int) -> dict:
    """One ``perfbench/run.py`` run; its last stdout line as a dict."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace)],
        cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        raise SystemExit(f"perfbench failed in {checkout} (seed {seed})")
    res = json.loads(lines[-1])
    return {"failed": res["failed"], "attempted": res["attempted"],
            **{k: v["value"] for k, v in res["metrics"].items()}}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs: dict[str, list[dict]], spec: list[dict]) -> list[dict]:
    """Per metric: medians, quartiles, wins, bound check (``None``
    for a metric without a bound)."""
    rows = []
    for m in spec:
        name, higher = m["name"], m["better"] == "higher"
        a = [r[name] for r in runs["parent"] if name in r]
        b = [r[name] for r in runs["change"] if name in r]
        if not a or not b:
            continue
        wins = sum((y > x) if higher else (y < x) for x, y in zip(a, b))
        qa, qb = quartiles(a), quartiles(b)
        rel = (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
        worse = -rel if higher else rel
        bound = m.get("bound")
        rows.append({"metric": name, "unit": m["unit"],
                     "parent_q1_med_q3": qa, "change_q1_med_q3": qb,
                     "change_wins": wins, "pairs": len(a),
                     "median_rel_change": rel, "bound": bound,
                     "inside_bound": None if bound is None
                     else worse <= bound})
    return rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="git revision (side A)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0,
                    help="1: traced runs, per-layer ledger metrics")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    work = tempfile.mkdtemp(prefix="ab_pairs-")
    try:
        sides = {"parent": os.path.join(work, "parent"),
                 "change": os.path.join(work, "change")}
        export_rev(args.parent, sides["parent"])
        os.makedirs(sides["change"])
        export_worktree(sides["change"])
        runs: dict[str, list[dict]] = {"parent": [], "change": []}
        for i in range(args.pairs):
            seed = i + 1
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                res = run_once(sides[side], args.workload, seed,
                               bench["run_seconds"], args.trace)
                runs[side].append(res)
                print(f"pair {seed} {side}: " + json.dumps(res),
                      flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    rows = summarize(runs, bench["per_layer" if args.trace
                                 else "end_to_end"])
    print(f"\n{args.workload}: {args.pairs} pairs, parent {args.parent} "
          f"vs working tree, --trace {args.trace}")
    for r in rows:
        pa, pb = r["parent_q1_med_q3"], r["change_q1_med_q3"]
        bound = ("" if r["bound"] is None else
                 f"  {'inside' if r['inside_bound'] else 'OUTSIDE'} "
                 f"bound {r['bound']:.0%}")
        print(f"{r['metric']:>38} parent {pa[1]:9.4g} "
              f"[{pa[0]:.4g}-{pa[2]:.4g}]  change {pb[1]:9.4g} "
              f"[{pb[0]:.4g}-{pb[2]:.4g}]  wins {r['change_wins']}/{r['pairs']}"
              f"  {100 * r['median_rel_change']:+.1f}%{bound}")
    failed = {side: sum(r["failed"] for r in rs) for side, rs in runs.items()}
    print(f"{'failed':>38} parent {failed['parent']}  "
          f"change {failed['change']}")


if __name__ == "__main__":
    main()
