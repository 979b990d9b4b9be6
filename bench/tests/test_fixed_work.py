"""Self-test of the benchmark's fixed-work and refusal contracts.

Run from the repository root (about five minutes on a 4-core host):

    python3 bench/tests/test_fixed_work.py

- Two runs of one seed issue the same number of operations and get the
  same replies (same digest over every reply's status and hash), with no
  failed operation.
- A run in a directory that holds only the benchmark fails fast and
  prints no result.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import unittest

ROOT = os.getcwd()
RUN = os.path.join("bench", "run.py")


def run(workload, seed, cwd=ROOT):
    p = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", str(seed),
                        "--seconds", "20", "--trace", "0"],
                       cwd=cwd, capture_output=True, text=True, timeout=1200)
    return p.returncode, p.stdout.splitlines()


def report_and_result(lines):
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


class FixedWork(unittest.TestCase):
    def check_repeatable(self, workload):
        seen = []
        for _ in range(2):
            code, lines = run(workload, 5)
            self.assertEqual(code, 0, lines[-5:])
            report, result = report_and_result(lines)
            self.assertTrue(result["correct"], report["failures"])
            self.assertEqual(result["failed"], 0)
            seen.append((report["ops"], result["attempted"], report["digest"]))
        self.assertEqual(seen[0], seen[1])

    def test_serving_read_repeats(self):
        self.check_repeatable("serving_read")

    def test_analytics_sweep_repeats(self):
        self.check_repeatable("analytics_sweep")

    def test_bare_directory_fails(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "bench"), os.path.join(d, "bench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            t0 = time.time()
            code, lines = run("serving_read", 1, cwd=d)
            self.assertNotEqual(code, 0)
            self.assertLess(time.time() - t0, 180)
            self.assertFalse(lines and lines[-1].startswith('{"correct"'))


if __name__ == "__main__":
    unittest.main(verbosity=2)
