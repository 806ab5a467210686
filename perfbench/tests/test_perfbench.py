#!/usr/bin/env python3
"""Tests of the benchmark itself. Run from the root of a checkout:

    python3 perfbench/tests/test_perfbench.py      # ~4 min

The self-test (graftbench.SelfTest) checks that the generator writes
identical bytes for one seed, and feeds every checker a deliberately
wrong result to show the op is counted as failed. The smoke runs drive
each workload untraced, and dedup_daily and dedup_serve traced, at smoke
size through run.py, so every check runs and every metric named in
BENCHMARK.json is printed; the workloads BENCHMARK.json lists must pass
their checks.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import build  # noqa: E402
import run  # noqa: E402


class SelfTest(unittest.TestCase):
    def test_generator_and_checkers(self):
        classes, jars = build.build()
        scratch = os.path.join(os.getcwd(), ".bench_run", "selftest")
        shutil.rmtree(scratch, ignore_errors=True)
        r = subprocess.run(
            ["java", "-XX:-UsePerfData", "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
             "graftbench.SelfTest", scratch],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=170)
        shutil.rmtree(scratch, ignore_errors=True)
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertIn("selftest: ok", r.stdout)


class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        r = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
             "--seed", "3", "--seconds", "2", "--trace", str(trace), "--size", "smoke"],
            stdout=subprocess.PIPE, text=True, timeout=180)
        self.assertEqual(r.returncode, 0, r.stdout)
        res = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(res["attempted"], 1)
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            spec = json.load(f)
        want = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
        if workload in {w["name"] for w in spec["workloads"]}:
            self.assertEqual(set(res["metrics"]), want)
            self.assertTrue(res["correct"], r.stdout)
        else:
            # dedup_serve adds its own metrics; the engine's known
            # n_neardup defect may fail its ops, which the report names
            self.assertLessEqual(want, set(res["metrics"]))
            if res["failed"]:
                self.assertIn("failed check", r.stdout)
        for name, m in res["metrics"].items():
            self.assertIn(name, r.stdout)
            self.assertIn("unit", m)

    def test_workloads(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                self.check(w, 0)

    def test_traced(self):
        for w in ("dedup_daily", "dedup_serve"):
            with self.subTest(workload=w):
                self.check(w, 1)


if __name__ == "__main__":
    unittest.main()
