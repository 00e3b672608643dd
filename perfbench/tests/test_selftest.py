"""Self-test of the benchmark: every workload at the smallest length.

    python3 -m unittest discover -s perfbench/tests

Each run builds on first use and takes about half a minute.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace, *extra):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), *extra],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {p.returncode}:\n"
                             f"{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class SelfTest(unittest.TestCase):
    def check_metrics(self, result, spec):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(result["metrics"]), {m["name"] for m in spec})
        for m in spec:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_every_workload_prints_every_metric(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                plain = run(w["name"], 0)
                self.assertTrue(plain["correct"], plain)
                self.assertEqual(plain["failed"], 0)
                self.assertGreaterEqual(plain["attempted"], 1)
                self.check_metrics(plain, SPEC["end_to_end"])
                traced = run(w["name"], 1)
                self.assertTrue(traced["correct"], traced)
                self.check_metrics(traced, SPEC["per_layer"])
                self.assertEqual(traced["metrics"]["error_frac"]["value"], 0)

    def test_forced_mismatch_raises_error_frac(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                r = run(w["name"], 1, "--corrupt-expected")
                self.assertFalse(r["correct"])
                self.assertGreater(r["failed"], 0)
                self.assertGreater(r["metrics"]["error_frac"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
