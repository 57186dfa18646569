#!/usr/bin/env python3
"""The benchmark's own test: every workload in smoke mode (smallest tables,
a few seconds of stream), traced and untraced.

    python3 perfbench/test_smoke.py

Checks that each run prints every metric BENCHMARK.json names for its mode,
with its unit, that outputs were checked (`correct`, `attempted`, `failed`)
and that the run record carries `error_rate` and the host validity fields;
also that unknown workloads and flags are refused.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
sys.path.insert(0, str(HERE))

import report  # noqa: E402


def run(*args, timeout=900):
    return subprocess.run([sys.executable, str(HERE / "run.py"), *args], cwd=ROOT,
                          capture_output=True, text=True, timeout=timeout)


class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        r = run("--workload", workload, "--seed", "1", "--seconds", "4",
                "--trace", str(trace), "--smoke")
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        lines = r.stdout.strip().splitlines()
        result, record = json.loads(lines[-1]), json.loads(lines[-2])["record"]
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
        self.assertEqual({k: v["unit"] for k, v in result["metrics"].items()}, want)
        for v in result["metrics"].values():
            self.assertIsInstance(v["value"], float)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(record["error_rate"], result["failed"] / result["attempted"])
        self.assertTrue(result["correct"], record["failures"])
        for k in ("host.load_1_start", "host.load_15_start", "host.steal_s", "host.throttled_s"):
            self.assertIn(k, record)

    def test_catalog_cold(self):
        self.check("catalog_cold", 0)
        self.check("catalog_cold", 1)

    def test_catalog_warm(self):
        self.check("catalog_warm", 0)
        self.check("catalog_warm", 1)

    def test_event_route(self):
        self.check("event_route", 0)
        self.check("event_route", 1)

    def test_refuses_unknown_names(self):
        for args in (["--workload", "catalog", "--seed", "1", "--seconds", "4", "--trace", "0"],
                     ["--workload", "event_route", "--seed", "1", "--seconds", "4", "--trace", "0",
                      "--sead", "2"]):
            r = run(*args, timeout=60)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"metrics"', r.stdout)


class Verdicts(unittest.TestCase):
    def test_rules(self):
        same = [10.0, 10.1, 9.9, 10.0, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0]
        pairs = lambda a, b: list(zip(a, b))
        self.assertEqual(report.verdict(same, same, 0.1, False, pairs(same, same)), "agree")
        slow = [x * 1.3 for x in same]
        self.assertEqual(report.verdict(same, slow, 0.1, False, pairs(same, slow)), "worse")
        fast = [x * 0.8 for x in same]
        self.assertEqual(report.verdict(same, fast, 0.1, False, pairs(same, fast)), "better")
        noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        self.assertEqual(report.verdict(same, noisy, 0.1, False, pairs(same, noisy)), "unresolved")


if __name__ == "__main__":
    unittest.main()
