"""graft's results are layout-independent: two workload seeds stage the
same rows into different files, and every checked output must have the
same digest under both. Runs each workload twice (several minutes):

    python3 -m unittest perfbench/test_seeds.py
"""
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))


def digests(workload, seed):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", "1", "--trace", "0"],
                         cwd=os.path.dirname(HERE), capture_output=True, text=True,
                         timeout=600, check=True).stdout
    return {p[1]: p[2] for p in (l.split() for l in out.splitlines())
            if p and p[0] == "[digest]"}


class SeedsGiveIdenticalOutputs(unittest.TestCase):
    def test_each_workload(self):
        for workload in ("warehouse", "corpus"):
            with self.subTest(workload=workload):
                a, b = digests(workload, 1), digests(workload, 2)
                self.assertTrue(a)
                self.assertEqual(a, b)


if __name__ == "__main__":
    unittest.main()
