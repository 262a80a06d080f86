"""The benchmark's own tests: every workload prints every named metric with
its unit at a small size, a corrupted output fails the checks, and the
benchmark refuses to run without the engine's sources.

Run from the root of a checkout (each run takes about a minute):

    python3 -m unittest enginebench/test_enginebench.py
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(CHECKOUT, "BENCHMARK.json")))


def bench(*args, cwd=CHECKOUT):
    done = subprocess.run([sys.executable, "enginebench/run.py", "--seed", "3", "--seconds", "1",
                           "--scale", "0.3"] + list(args),
                          cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = done.stdout.strip().splitlines()
    return done.returncode, (json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None)


class EngineBenchTest(unittest.TestCase):

    def assert_metrics(self, result, spec):
        self.assertEqual({m["name"]: m["unit"] for m in spec},
                         {k: v["unit"] for k, v in result["metrics"].items()})
        for k, v in result["metrics"].items():
            self.assertIsInstance(v["value"], float, k)

    def test_every_workload_prints_every_end_to_end_metric(self):
        for w in SPEC["workloads"]:
            code, result = bench("--workload", w["name"], "--trace", "0")
            self.assertEqual(code, 0, w["name"])
            self.assertTrue(result["correct"], w["name"])
            self.assertEqual(result["failed"], 0)
            self.assertGreaterEqual(result["attempted"], 1)
            self.assert_metrics(result, SPEC["end_to_end"])

    def test_traced_run_prints_every_per_layer_metric(self):
        code, result = bench("--workload", "bom_dense", "--trace", "1")
        self.assertEqual(code, 0)
        self.assertTrue(result["correct"])
        self.assert_metrics(result, SPEC["per_layer"])

    def test_a_dropped_row_raises_the_error_rate(self):
        code, result = bench("--workload", "default_mix", "--trace", "0", "--corrupt")
        self.assertEqual(code, 0)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"] / result["attempted"], 0)

    def test_refuses_to_run_without_the_engine(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(CHECKOUT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "enginebench"),
                            ignore=shutil.ignore_patterns("target"))
            code, result = bench("--workload", "default_mix", "--trace", "0", cwd=d)
            self.assertNotEqual(code, 0)
            self.assertIsNone(result)


if __name__ == "__main__":
    unittest.main()
