"""Smoke test of the benchmark itself: tiny inputs, a few ops per workload.

For every workload, untraced and traced, it checks that the run is correct,
that every metric BENCHMARK.json names is printed with its unit, and that the
output checks ran against recorded digests and passed. Run from the root of
the repo:

    python3 -m unittest perfbench/test_smoke.py
"""
import json
import os
import re
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload, trace):
    r = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload",
         workload, "--seed", "1", "--seconds", "1", "--trace", str(trace),
         "--smoke"], cwd=ROOT, capture_output=True, text=True, timeout=400)
    assert r.returncode == 0, r.stderr[-3000:]
    log = os.path.join(ROOT, ".bench_build", "work", "logs",
                       f"{workload}-1-smoke.log")
    with open(log) as f:
        checks = re.findall(
            r"checks=(\d+) failed_checks=(\d+) against_record=(\w+)", f.read())
    return json.loads(r.stdout.strip().splitlines()[-1]), checks


class SmokeTest(unittest.TestCase):
    def test_every_workload_prints_every_metric(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        sets = {0: bench["end_to_end"], 1: bench["per_layer"]}
        for w in (x["name"] for x in bench["workloads"]):
            for trace, wanted in sets.items():
                with self.subTest(workload=w, trace=trace):
                    res, checks = run(w, trace)
                    self.assertEqual(set(res), {"correct", "attempted",
                                                "failed", "metrics"})
                    self.assertTrue(res["correct"])
                    self.assertEqual(res["failed"], 0)
                    self.assertGreaterEqual(res["attempted"], 1)
                    self.assertEqual(
                        {k: v["unit"] for k, v in res["metrics"].items()},
                        {m["name"]: m["unit"] for m in wanted})
                    self.assertEqual(len(checks), 1)
                    ran, failed, recorded = checks[0]
                    self.assertGreaterEqual(int(ran), res["attempted"])
                    self.assertEqual(int(failed), 0)
                    self.assertEqual(recorded, "true")


if __name__ == "__main__":
    unittest.main()
