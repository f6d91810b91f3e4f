"""Self-test of the benchmark: tiny runs of every workload.

    python3 perfbench/test_bench.py

- an untraced tiny run of each workload is correct, checks every op, and
  prints every end-to-end metric of BENCHMARK.json with its unit;
- a traced tiny run of each workload, fed one deliberately wrong result
  (--inject-wrong 1), counts exactly that op as failed and prints every
  per-layer metric of BENCHMARK.json with its unit.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(workload, trace, inject=0):
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "3", "--trace", str(trace), "--scale", "tiny",
           "--inject-wrong", str(inject)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


class BenchSelfTest(unittest.TestCase):
    def assert_metrics(self, res, spec):
        self.assertEqual(set(res["metrics"]), {m["name"] for m in spec})
        for m in spec:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_untraced_runs_are_correct_and_emit_end_to_end_metrics(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                res = run(w, trace=0)
                self.assertTrue(res["correct"], res)
                self.assertEqual(res["failed"], 0)
                self.assertGreater(res["attempted"], 0)
                self.assert_metrics(res, SPEC["end_to_end"])
                for m in SPEC["end_to_end"]:
                    self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])

    def test_traced_runs_count_a_wrong_result_and_emit_per_layer_metrics(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                res = run(w, trace=1, inject=1)
                self.assertFalse(res["correct"])
                self.assertEqual(res["failed"], 1, res)
                self.assert_metrics(res, SPEC["per_layer"])


if __name__ == "__main__":
    unittest.main(verbosity=2)
