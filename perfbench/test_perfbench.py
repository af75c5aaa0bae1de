#!/usr/bin/env python3
"""Self-tests for perfbench. Run from the repository root:

    python3 perfbench/test_perfbench.py

Each workload runs at toy size and must emit every metric BENCHMARK.json
names, with its unit. Planted faults (one index row dropped, one chunk
altered) must make the output checks fail loudly. A directory holding only
the benchmark must make the command fail without printing a result. The
comparator must call a change that fails more than its base worse.
"""

import json
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.getcwd()
SCRATCH = os.path.join(ROOT, ".perfbench", "selftest")
RESULTS = os.path.join(SCRATCH, "results.jsonl")

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


def run(workload, trace=0, fault=None, cwd=ROOT):
    cmd = BENCH["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                              "--trace", str(trace), "--toy", "--results", RESULTS]
    if fault:
        cmd += ["--fault", fault]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


class Metrics(unittest.TestCase):
    def check_emits(self, workload, trace, section):
        r = run(workload, trace)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        result = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        want = {m["name"]: m["unit"] for m in BENCH[section]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for name, v in result["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), name)
            self.assertIn(f"metric {name} = ", r.stdout)

    def test_end_to_end_metrics(self):
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                self.check_emits(w["name"], 0, "end_to_end")

    def test_per_layer_metrics(self):
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                self.check_emits(w["name"], 1, "per_layer")


class PlantedFaults(unittest.TestCase):
    def assert_fails(self, workload, fault, check):
        r = run(workload, fault=fault)
        self.assertNotEqual(r.returncode, 0, r.stdout[-2000:])
        self.assertIn(f"check {check}: FAIL", r.stdout)
        self.assertFalse(json.loads(r.stdout.strip().splitlines()[-1])["correct"])

    def test_dropped_index_row(self):
        self.assert_fails("marketviz_daily", "drop_index_row", "marketviz.index_window")

    def test_altered_chunk(self):
        self.assert_fails("curation_dupheavy", "alter_chunk", "curation.chunks_vs_q81")


class Comparator(unittest.TestCase):
    """A change that fails more than its base is worse, however fast."""

    def compare(self, base, change):
        paths = []
        for name, runs in (("base", base), ("change", change)):
            paths.append(os.path.join(SCRATCH, f"compare-{name}.jsonl"))
            with open(paths[-1], "w") as fh:
                for r in runs:
                    fh.write(json.dumps(r) + "\n")
        return subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "compare.py")]
                              + paths, cwd=ROOT, capture_output=True, text=True, timeout=60)

    @staticmethod
    def runs(value, failed=0, correct=True, n=5):
        return [{"workload": "w", "trace": 0, "seed": s, "correct": correct,
                 "attempted": 30, "failed": failed,
                 "metrics": {m["name"]: {"value": value * (1 + s / 100), "unit": m["unit"]}
                             for m in BENCH["end_to_end"]}} for s in range(n)]

    def test_same_runs_pass(self):
        r = self.compare(self.runs(10.0), self.runs(10.0))
        self.assertEqual(r.returncode, 0, r.stdout)

    def test_failed_reads_are_worse(self):
        r = self.compare(self.runs(10.0), self.runs(5.0, failed=2))
        self.assertEqual(r.returncode, 1, r.stdout)
        self.assertRegex(r.stdout, r"failures\s+worse")

    def test_no_correct_run_is_worse(self):
        r = self.compare(self.runs(10.0), self.runs(5.0, correct=False))
        self.assertEqual(r.returncode, 1, r.stdout)
        self.assertIn("no run with passing checks on change", r.stdout)


class IncompleteCheckout(unittest.TestCase):
    def test_benchmark_alone_fails_without_result(self):
        alone = os.path.join(SCRATCH, "alone")
        shutil.rmtree(alone, ignore_errors=True)
        os.makedirs(alone)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), alone)
        for p in BENCH["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(alone, p),
                            ignore=shutil.ignore_patterns("target"))
        r = run(BENCH["workloads"][0]["name"], cwd=alone)
        self.assertNotEqual(r.returncode, 0)
        self.assertFalse(r.stdout.strip())
        shutil.rmtree(alone)


if __name__ == "__main__":
    os.makedirs(SCRATCH, exist_ok=True)
    unittest.main(argv=sys.argv[:1] + sys.argv[1:], verbosity=2)
