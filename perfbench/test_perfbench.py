"""Self-tests of the benchmark: python3 -m unittest perfbench/test_perfbench.py

Run from the repository root. Each workload runs at toy size twice: once
clean, where every output check must pass, and once with a seeded defect
(a swapped exact-kNN neighbor id; a near-duplicate pair split across two
components), where failed_op_share must become non-zero.
"""

import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(HERE, "run.py")


class SelfTest(unittest.TestCase):
    def test_checks_pass_clean_and_fire_on_seeded_defects(self):
        r = subprocess.run([sys.executable, RUN, "--self-test"], capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-4000:])
        self.assertIn("SELF-TEST PASS", r.stdout)
        for w in ("ann", "dedup"):
            self.assertRegex(r.stdout, rf"self-test {w}: clean failed 0/\d+, seeded defect failed [1-9]\d*/\d+")

    def test_refuses_without_engine_sources(self):
        bare = os.path.join(os.getcwd(), ".bench_build", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
        try:
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ann", "--seed", "1",
                                "--seconds", "1"], cwd=bare, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"metrics"', r.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
