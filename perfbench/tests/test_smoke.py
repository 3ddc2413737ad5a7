"""Smoke test of the benchmark command on the sf0.001 corpus.

Runs every workload briefly, untraced and traced, and checks that the
last stdout line names every metric of BENCHMARK.json with a finite
value, that the outputs were judged correct, and that a directory
without the engine sources is refused. Run from the repository root:

    python3 -m unittest perfbench/tests/test_smoke.py
"""
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SMOKE_CORPUS = os.path.join(ROOT, "perfbench", "corpus", "sf0.001")


def bench(workload, trace, cwd=ROOT, seconds=2):
    return subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7",
         "--seconds", str(seconds), "--trace", str(trace), "--corpus", SMOKE_CORPUS],
        cwd=cwd, capture_output=True, text=True, timeout=900)


class SmokeTest(unittest.TestCase):
    def check(self, workload, trace):
        p = bench(workload, trace)
        self.assertEqual(p.returncode, 0, p.stdout[-2000:] + p.stderr[-2000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        names = [m["name"] for m in SPEC["per_layer" if trace else "end_to_end"]]
        self.assertEqual(sorted(res["metrics"]), sorted(names))
        for name, m in res["metrics"].items():
            self.assertTrue(math.isfinite(m["value"]), name)

    def test_workloads(self):
        for w in SPEC["workloads"]:
            for trace in (0, 1):
                with self.subTest(workload=w["name"], trace=trace):
                    self.check(w["name"], trace)

    def test_refuses_without_sources(self):
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, "perfbench", ".work")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".work", "target", "project"))
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload",
                 SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
                 "--trace", "0"], cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)


if __name__ == "__main__":
    unittest.main()
