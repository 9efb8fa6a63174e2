"""The benchmark's own test: every workload at smoke size prints every
metric BENCHMARK.json names, with its unit, and passes every check.

Run from the root of a checkout:  python3 -m pytest perfbench/test_smoke.py
(the first test also builds graft and the harness).
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(workload, trace, size="smoke", seed=1):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--size", size],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


class Smoke(unittest.TestCase):
    def assert_complete(self, workload, trace):
        lines, res = bench(workload, trace)
        want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
        self.assertEqual(sorted(res["metrics"]), sorted(want))
        for name, unit in want.items():
            self.assertEqual(res["metrics"][name]["unit"], unit, name)
            self.assertIsInstance(res["metrics"][name]["value"], (int, float), name)
        self.assertEqual([l for l in lines if l.startswith("check FAIL")], [])
        self.assertTrue(any(l.startswith("check PASS") for l in lines))
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        return lines, res

    def test_workloads(self):
        for w in SPEC["workloads"]:
            for trace in (0, 1):
                with self.subTest(workload=w["name"], trace=trace):
                    lines, res = self.assert_complete(w["name"], trace)
                    self.assertTrue(any(l.startswith("input ") for l in lines))
                    if trace and w["name"] == "etl_closure":
                        attributed = res["metrics"]["trace.attributed_frac"]["value"]
                        self.assertGreaterEqual(attributed, 0.95)

    def test_query_mix(self):
        lines, _ = self.assert_complete("query_mix", 0)
        self.assertTrue(any(l.startswith("check PASS query.each_once") for l in lines))

    @unittest.expectedFailure
    def test_etl_closure_mixed_seed_105_known_defect(self):
        """etl_closure with each delta's deletes and adds in one run. Seed
        105 deletes edge 1367->1175 and adds 1180->1175 in one run; the
        incremental closure never stores (1175, 1276, 2) and
        (1175, 1468, 3). This fails until that defect is fixed."""
        _, res = bench("etl_closure_mixed", 0, size="full", seed=105)
        self.assertTrue(res["correct"])


if __name__ == "__main__":
    unittest.main()
