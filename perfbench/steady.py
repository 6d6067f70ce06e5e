"""Steadiness check: two sets of ten runs of the same code, spread
against the bounds of BENCHMARK.json.

    python3 perfbench/steady.py [--workloads lake_extract,curate]

Runs ``perfbench/run.py`` untraced for ``run_seconds`` (from
BENCHMARK.json) once per seed: set 0 uses seeds 1..10, set 1 seeds
11..20.  The two sets are interleaved (seed 1, seed 11, seed 2, ...),
each seed running every workload in turn, so that a drift in host speed
lands on both sets alike.  For every workload and end-to-end metric it
prints each set's median, quartiles and spread (IQR / median) next to
the metric's bound, and how far the second set's median moved from the
first's in the worse direction.  The share of failed operations must be
identical across all runs.  Exit status 1 when a spread or a median
shift exceeds its bound, or a run is incorrect.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS, RUNS = 2, 10


def run_once(workload: str, seed: int, seconds: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def summary(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    names = ap.parse_args().workloads.split(",")
    metrics = {m["name"]: m for m in bench["end_to_end"]}

    results = {w: [[] for _ in range(SETS)] for w in names}
    for i in range(RUNS):
        for s in range(SETS):
            seed = 1 + s * RUNS + i
            for w in names:
                r = run_once(w, seed, bench["run_seconds"])
                results[w][s].append(r)
                print(f"set {s} {w} seed {seed}: correct={r['correct']} "
                      f"attempted={r['attempted']} failed={r['failed']} " +
                      " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                      flush=True)

    ok = True
    for w in names:
        runs = [r for rs in results[w] for r in rs]
        shares = {r["failed"] / r["attempted"] for r in runs}
        bad_runs = sum(not r["correct"] for r in runs)
        print(f"\n{w}: failed share {sorted(shares)}, incorrect runs {bad_runs}")
        ok &= len(shares) == 1 and bad_runs == 0
        for name, m in metrics.items():
            row, meds = [], []
            for rs in results[w]:
                med, q1, q3, spread = summary([r["metrics"][name]["value"] for r in rs])
                meds.append(med)
                flag = "" if spread <= m["bound"] else " OVER"
                ok &= not flag
                row.append(f"med {med:.4g} [{q1:.4g}, {q3:.4g}] spread {spread:.3f}{flag}")
            worse = (meds[1] / meds[0] - 1) * (1 if m["better"] == "lower" else -1)
            flag = " OVER" if worse > m["bound"] else ""
            ok &= not flag
            print(f"  {name:16s} bound {m['bound']:.2f} | " + " | ".join(row)
                  + f" | 2nd worse by {worse:+.3f}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
