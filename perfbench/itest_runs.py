"""End-to-end checks of the benchmark itself: each workload runs briefly and
is correct, and a corrupted expected answer fails every op instead of
reading as a fast one. Slow (a JVM per case, a few minutes in all):

    python3 -m unittest discover -s perfbench -p 'itest_*.py'
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def bench(*args):
    out = subprocess.run([sys.executable, str(RUN), "--seed", "5",
                          "--seconds", "1"] + list(args),
                         cwd=RUN.parent.parent, capture_output=True,
                         text=True, timeout=900)
    if out.returncode != 0:
        raise AssertionError(out.stderr[-3000:])
    return json.loads(out.stdout.strip().splitlines()[-1])


class WorkloadRunsTest(unittest.TestCase):
    def test_every_workload_is_correct(self):
        for w in ("ingest_bulk", "near_dup", "curation", "ingest_trickle"):
            with self.subTest(workload=w):
                r = bench("--workload", w, "--trace", "1")
                self.assertTrue(r["correct"], r)
                self.assertGreaterEqual(r["attempted"], 1)
                self.assertEqual(r["failed"], 0)

    def test_corrupted_expected_answer_fails_every_op(self):
        r = bench("--workload", "curation", "--trace", "0",
                  "--corrupt-expected")
        self.assertFalse(r["correct"])
        self.assertEqual(r["failed"], r["attempted"])
        self.assertIsNone(r["metrics"]["op_p50_s"]["value"])


if __name__ == "__main__":
    unittest.main()
