"""Self-test of the benchmark's correctness checks: a run whose recorded
results are corrupted after timing must report `correct: false` and count
the corrupted result as failed.

    python3 -m unittest perfbench/test_perfbench.py     # from a checkout root

Each case is one full run of a workload (about a minute).
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

RUN = [sys.executable, str(Path(__file__).resolve().parent / "run.py")]


def run(workload: str, *extra: str) -> dict:
    p = subprocess.run(RUN + ["--workload", workload, "--seed", "7", "--seconds", "1",
                              "--trace", "0", *extra], capture_output=True, text=True)
    assert p.returncode == 0, p.stderr[-2000:]
    return json.loads(p.stdout.splitlines()[-1])


class WrongResultCountsAsFailed(unittest.TestCase):
    def check(self, workload: str) -> None:
        clean = run(workload)
        self.assertTrue(clean["correct"])
        self.assertEqual(clean["failed"], 0)
        bad = run(workload, "--inject-fault")
        self.assertFalse(bad["correct"])
        self.assertEqual(bad["failed"], 1)
        self.assertEqual(bad["attempted"], clean["attempted"])

    def test_curate(self):
        self.check("curate")

    def test_frames(self):
        self.check("frames")


if __name__ == "__main__":
    unittest.main()
