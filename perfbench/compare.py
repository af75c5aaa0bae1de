#!/usr/bin/env python3
"""Compare two sets of perfbench results.

    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl

Each file holds run records as perfbench/run.py appends them to
.perfbench/results.jsonl (copy that file aside between commits). Self-test
runs (--toy, --fault) are ignored.

Failures come first. For each workload (untraced runs) the change is worse
when either side has no run whose output checks passed, when more of the
change's runs failed a check, or when its median failed_frac (failed days,
reads or passes / attempted) is higher than the base's. Metrics are then
compared over the runs whose checks passed.

For each workload and end-to-end metric (untraced runs) the verdict is:
  worse       the change's median is worse than the base's by more than the
              metric's bound in BENCHMARK.json;
  unresolved  otherwise, when either side's run-to-run spread (interquartile
              range over median) is wider than the bound, unless every run
              of the change beats every run of the base (then better);
  better      the change wins at least 9 in 10 (base run, change run) pairs
              and its median is better by more than the base's spread;
  unchanged   neither.
Then, for traced runs, every per-layer metric's median on both sides and
the ratio change / base.

Exit status: 1 when any verdict is worse, else 0.
"""

import argparse
import json
import statistics
import sys


def load(path):
    runs = {}
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            r = json.loads(line)
            if r.get("toy") or r.get("fault"):
                continue
            runs.setdefault((r["workload"], r["trace"]), []).append(r)
    return runs


def correct(runs):
    return [r for r in runs if r.get("correct")]


def failures(runs):
    """(runs whose checks failed, median failed_frac) over every run."""
    return (sum(not r.get("correct") for r in runs),
            statistics.median(r["failed"] / r["attempted"] if r.get("attempted") else 1.0
                              for r in runs) if runs else None)


def failure_verdict(rb, rc):
    """'worse' with the reason when the change fails more than the base."""
    (bad_b, frac_b), (bad_c, frac_c) = failures(rb), failures(rc)
    if not correct(rb) or not correct(rc):
        side = "base" if not correct(rb) else "change"
        return "worse", f"no run with passing checks on {side}"
    if bad_c / len(rc) > bad_b / len(rb):
        return "worse", f"checks failed in {bad_c}/{len(rc)} runs (base {bad_b}/{len(rb)})"
    if frac_c > frac_b:
        return "worse", f"median failed_frac {frac_c:.4f} (base {frac_b:.4f})"
    return "ok", f"median failed_frac {frac_c:.4f} (base {frac_b:.4f})"


def values(runs, metric):
    return [r["metrics"][metric]["value"] for r in runs if metric in r["metrics"]]


def spread(xs):
    if len(xs) < 2:
        return float("inf")
    q1, _, q3 = statistics.quantiles(xs, n=4)
    med = statistics.median(xs)
    return (q3 - q1) / med if med else float("inf")


def verdict(base, change, bound, lower_is_better):
    sign = 1 if lower_is_better else -1
    b, c = statistics.median(base), statistics.median(change)
    delta = sign * (c - b) / b if b else 0.0  # > 0: the change is worse
    # share of (base run, change run) pairs that the change wins
    wins = sum(sign * (y - x) < 0 for x in base for y in change) / (len(base) * len(change))
    if delta > bound:
        return "worse", delta
    if spread(base) > bound or spread(change) > bound:
        return ("better" if wins == 1 else "unresolved"), delta
    if wins >= 0.9 and -delta > spread(base):
        return "better", delta
    return "unchanged", delta


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default="BENCHMARK.json")
    a = ap.parse_args()
    with open(a.benchmark) as fh:
        bench = json.load(fh)
    base, change = load(a.base), load(a.change)
    workloads = sorted({w for w, _ in base} | {w for w, _ in change})
    worse = False

    print("end-to-end (untraced runs)")
    for w in workloads:
        rb, rc = base.get((w, 0), []), change.get((w, 0), [])
        v, why = failure_verdict(rb, rc)
        print(f"  {w:20s} {'failures':20s} {v:10s} {why}")
        if v == "worse":
            worse = True
            if not correct(rb) or not correct(rc):
                continue
        rb, rc = correct(rb), correct(rc)
        for m in bench["end_to_end"]:
            xb, xc = values(rb, m["name"]), values(rc, m["name"])
            if not xb or not xc:
                continue
            v, delta = verdict(xb, xc, m["bound"], m["better"] == "lower")
            worse |= v == "worse"
            print(f"  {w:20s} {m['name']:20s} {v:10s} "
                  f"base {statistics.median(xb):.4g} (n={len(xb)}, spread {spread(xb):.1%}) "
                  f"change {statistics.median(xc):.4g} (n={len(xc)}, spread {spread(xc):.1%}) "
                  f"{'worse' if delta > 0 else 'better'} by {abs(delta):.1%} "
                  f"(bound {m['bound']:.0%}) [{m['unit']}]")

    print("per-layer (traced runs): change / base, with the base")
    for w in workloads:
        rb, rc = correct(base.get((w, 1), [])), correct(change.get((w, 1), []))
        if not rb or not rc:
            print(f"  {w}: no traced runs with passing checks on "
                  f"{'base' if not rb else 'change'}")
            continue
        for m in bench["per_layer"]:
            xb, xc = values(rb, m["name"]), values(rc, m["name"])
            if not xb or not xc:
                continue
            b, c = statistics.median(xb), statistics.median(xc)
            if b == 0 and c == 0:
                continue
            ratio = f"{c / b:.3f}x" if b else "new"
            print(f"  {w:20s} {m['name']:44s} {ratio:>8s}  base {b:.4g} -> {c:.4g} {m['unit']}")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
