"""Smoke test: every workload end to end at the tiniest size, untraced and
traced, through the real command. Builds the program on first use, so it
takes a few minutes.

    python3 -m unittest discover -s perfbench/tests -p 'test_smoke.py'
"""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import analysis  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


def run(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


class SmokeTest(unittest.TestCase):
    def test_workloads(self):
        for workload in analysis.WORKLOADS:
            for trace, names in ((0, analysis.END_TO_END), (1, analysis.PER_LAYER)):
                with self.subTest(workload=workload, trace=trace):
                    r = run(workload, trace)
                    self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(r["correct"])
                    self.assertEqual(r["failed"], 0)
                    self.assertGreater(r["attempted"], 0)
                    self.assertEqual(set(r["metrics"]), set(names))
                    for k, v in r["metrics"].items():
                        self.assertEqual(v["unit"], names[k])
                        self.assertIsInstance(v["value"], (int, float))
                    if trace == 0:
                        for k, v in r["metrics"].items():
                            self.assertGreater(v["value"], 0, k)
                    else:
                        self.assertGreater(r["metrics"]["spark.jobs"]["value"], 0)
                        self.assertGreater(r["metrics"]["fs.creates"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
