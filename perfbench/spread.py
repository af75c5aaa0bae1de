#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Runs perfbench once per seed (1 to --seeds) on each workload (untraced) and prints, per
workload and metric, the median and the interquartile range as a share of
the median, next to the metric's bound from BENCHMARK.json. A benchmark is
steady when every spread but setup_s's is below a third of its bound.

    python3 perfbench/spread.py [--seeds 10] [--workload NAME ...]

Run from the repository root. Results also land in .perfbench/results.jsonl.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    steady = True
    for w in workloads:
        values = {m: [] for m in bounds}
        for seed in range(1, a.seeds + 1):
            r = subprocess.run(bench["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True)
            if r.returncode != 0:
                print(f"{w} seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}")
                sys.exit(1)
            result = json.loads(r.stdout.strip().splitlines()[-1])
            for m in values:
                values[m].append(result["metrics"][m]["value"])
            print(f"{w} seed {seed}: " + ", ".join(
                f"{m} {values[m][-1]:.4g}" for m in values), flush=True)
        for m, xs in values.items():
            med = statistics.median(xs)
            q1, _, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            ok = m == "setup_s" or spread < bounds[m] / 3
            steady &= ok
            print(f"{w:20s} {m:20s} median {med:12.4f}  spread {spread:7.2%}  "
                  f"bound {bounds[m]:.2f}  {'ok' if ok else 'TOO WIDE'}")
    sys.exit(0 if steady else 1)


if __name__ == "__main__":
    main()
