"""The corrupted-expectation self-test: every workload, run once with one
expected value corrupted, must report the failed check and exit 1.

  python3 -m unittest perfbench/test_selftest.py

It builds the engine on first use and takes a few minutes.
"""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


class SelfTest(unittest.TestCase):
    def test_corrupted_expectation_fails_the_run(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                p = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                     "--seed", "1", "--seconds", "2", "--trace", "0", "--corrupt"],
                    capture_output=True, text=True, timeout=900)
                self.assertEqual(p.returncode, 1, p.stderr[-2000:])
                self.assertFalse(json.loads(p.stdout.strip().splitlines()[-1])["correct"])
                self.assertIn("FAILED", p.stdout)


if __name__ == "__main__":
    unittest.main()
