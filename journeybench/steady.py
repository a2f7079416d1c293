#!/usr/bin/env python3
"""Steadiness self-check for the journey benchmark.

    python3 journeybench/steady.py [--seeds 5] [--workloads a,b] [--out f]

Runs every workload of BENCHMARK.json over two disjoint seed sets
(1..N and 1001..1000+N), one fresh process per run, then:

* reports each end-to-end metric's median and quartile spread
  (``statistics.quantiles(n=4)``, IQR / median) per set and over both;
* fails when a metric other than ``setup_s`` spreads wider than its
  bound over both sets, or when the two sets' medians differ by more
  than the bound (``setup_s`` included);
* runs each workload twice more with ``--trace 1`` and fails unless
  every job and stage count is identical across the two traced runs;
* reports each set's failed operations, and fails when the two sets
  disagree on them;
* reports the mean and largest wall time of a run, for the run budget.

Exit code 0 means the benchmark agrees with itself on this machine.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One run's result, with the run's whole wall time (process start
    to exit) added as ``wall_s``."""
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "journeybench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited "
                           f"{proc.returncode}:\n{proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["wall_s"] = time.perf_counter() - t0
    return result


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, default=5,
                    help="seeds per set (default 5: ten runs a workload)")
    ap.add_argument("--workloads", default=None,
                    help="comma-separated subset (default: all)")
    ap.add_argument("--out", default=None, help="write all results here")
    args = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    sets = {"A": range(1, args.seeds + 1),
            "B": range(1001, 1001 + args.seeds)}
    ok = True
    results: dict = {}
    for wl in workloads:
        runs = {name: [run_once(wl, s, bench["run_seconds"], 0)
                       for s in seeds] for name, seeds in sets.items()}
        traced = [run_once(wl, 1, bench["run_seconds"], 1) for _ in range(2)]
        results[wl] = {"runs": runs, "traced": traced}
        failed = {k: sum(r["failed"] for r in rs) for k, rs in runs.items()}
        attempted = {k: sum(r["attempted"] for r in rs)
                     for k, rs in runs.items()}
        walls = [r["wall_s"] for rs in runs.values() for r in rs]
        print(f"{wl}: failed operations A {failed['A']}/{attempted['A']}, "
              f"B {failed['B']}/{attempted['B']}; run wall mean "
              f"{statistics.mean(walls):.1f} s, max {max(walls):.1f} s")
        ok &= failed["A"] * attempted["B"] == failed["B"] * attempted["A"]
        print(f"{wl}:  metric  median A  median B  spread A  spread B  "
              f"spread all  bound")
        for name, bound in bounds.items():
            vals = {k: [r["metrics"][name]["value"] for r in rs]
                    for k, rs in runs.items()}
            all_vals = vals["A"] + vals["B"]
            ma, mb = (statistics.median(vals["A"]),
                      statistics.median(vals["B"]))
            sa, sb, s_all = spread(vals["A"]), spread(vals["B"]), \
                spread(all_vals)
            bad = abs(mb / ma - 1) > bound or (
                name != "setup_s" and s_all > bound)
            ok &= not bad
            print(f"  {name:12s} {ma:10.4g} {mb:10.4g} {sa:9.3f} "
                  f"{sb:9.3f} {s_all:10.3f} {bound:6.2f}"
                  + ("  FAIL" if bad else ""))
        counts = [{k: v["value"] for k, v in t["metrics"].items()
                   if k.endswith((".jobs", ".stages"))
                   or ".jobs_per_request." in k} for t in traced]
        if counts[0] != counts[1]:
            ok = False
            print(f"  traced job/stage counts differ: {counts}")
        else:
            print(f"  traced job/stage counts repeat: {counts[0]}")
    if args.out:
        Path(args.out).write_text(json.dumps(results, indent=1))
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
