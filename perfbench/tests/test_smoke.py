"""A short run of each mode prints every metric BENCHMARK.json names,
each with its unit (about three minutes: two JVM runs with 2-second
loop windows, after the first build).

    python3 -m unittest discover -s perfbench/tests -p 'test_smoke.py'
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class SmokeTest(unittest.TestCase):
    def run_bench(self, trace):
        workload = spec()["workloads"][0]["name"]
        r = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                            "--workload", workload, "--seed", "7", "--seconds", "2",
                            "--trace", str(trace)],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                           timeout=900, env=dict(os.environ, PYTHONDONTWRITEBYTECODE="1"))
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        result = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(result["attempted"], 1)
        return result

    def check(self, result, metrics):
        self.assertEqual(sorted(result["metrics"]), sorted(m["name"] for m in metrics))
        for m in metrics:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_untraced_run_prints_every_end_to_end_metric(self):
        result = self.run_bench(0)
        self.check(result, spec()["end_to_end"])
        for m in spec()["end_to_end"]:
            self.assertGreater(result["metrics"][m["name"]]["value"], 0, m["name"])

    def test_traced_run_prints_every_per_layer_metric(self):
        self.check(self.run_bench(1), spec()["per_layer"])


if __name__ == "__main__":
    unittest.main()
