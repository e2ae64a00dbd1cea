"""The benchmark's own tests: a tiny-size smoke run of every workload, traced
and untraced, and the check that each workload's ground-truth comparison
rejects a corrupted output.

    python3 -m unittest perfbench/test_perfbench.py      (from the checkout root)

About five minutes on four cores; the first run also builds.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def bench(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args], cwd=ROOT,
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900)
    return p.returncode, p.stdout


def metric_names(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[kind]]


class SmokeTest(unittest.TestCase):
    def test_every_workload_tiny(self):
        for workload in run.WORKLOADS:
            for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=workload, trace=trace):
                    code, out = bench("--workload", workload, "--seed", "3", "--seconds", "1",
                                      "--trace", str(trace), "--size", "tiny")
                    self.assertEqual(code, 0, out)
                    result = json.loads(out.strip().splitlines()[-1])
                    self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(result["correct"])
                    self.assertEqual(result["failed"], 0)
                    self.assertGreaterEqual(result["attempted"], 1)
                    self.assertEqual(list(result["metrics"]), metric_names(kind))

    def test_corrupted_output_is_rejected(self):
        code, out = bench("--selftest")
        self.assertEqual(code, 0, out)
        self.assertEqual(out.count(": ok;"), len(run.WORKLOADS), out)


if __name__ == "__main__":
    unittest.main()
