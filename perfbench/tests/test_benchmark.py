#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny input size.

Checks that every metric BENCHMARK.json names is emitted with its unit
for every workload (end-to-end metrics with --trace 0, per-layer metrics
with --trace 1), that a wrong pinned digest is reported as a failed run,
and that a directory holding only the benchmark (no program sources)
exits non-zero without a result.

    python3 -m unittest perfbench/tests/test_benchmark.py   # from the repo root

Takes a few minutes: every case starts a JVM and a Spark session.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SCRATCH = ROOT / ".bench_build" / "selftest"
SEED = 7
SCALE = "0.05"


def bench(workload, trace, *extra, cwd=ROOT):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
           "--scale", SCALE, *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)


def result(proc):
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


class BenchmarkSelfTest(unittest.TestCase):

    def check_metrics(self, res, wanted):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(res["attempted"], 1)
        for m in wanted:
            self.assertIn(m["name"], res["metrics"])
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_every_metric_with_its_unit(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"], trace=0):
                res = result(bench(w["name"], 0))
                self.assertTrue(res["correct"], res)
                self.assertEqual(res["failed"], 0)
                self.check_metrics(res, SPEC["end_to_end"])
            with self.subTest(workload=w["name"], trace=1):
                res = result(bench(w["name"], 1))
                self.assertTrue(res["correct"], res)
                self.check_metrics(res, SPEC["per_layer"])

    def test_wrong_pinned_digest_is_a_failed_run(self):
        SCRATCH.mkdir(parents=True, exist_ok=True)
        w = SPEC["workloads"][0]["name"]
        digests = SCRATCH / "digests.json"
        digests.write_text(json.dumps({f"{w}:{SEED}:{float(SCALE):g}": "0:0:0"}))
        res = result(bench(w, 0, "--digests", str(digests)))
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], res["attempted"])

    def test_no_program_sources_fails_without_result(self):
        bare = SCRATCH / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        w = SPEC["workloads"][0]["name"]
        proc = bench(w, 0, cwd=bare)
        self.assertNotEqual(proc.returncode, 0)
        self.assertNotIn('"metrics"', proc.stdout)


if __name__ == "__main__":
    unittest.main()
