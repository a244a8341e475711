#!/usr/bin/env python3
"""Unit test of ``scripts/ab_pairs.py --report`` against a committed capture.

    python3 -m unittest discover -s scripts -p 'test_*.py'

``bench/r10_simplicity/`` holds the runs of a 10-pair A/B and the summary
that ``--report`` printed for them (``summary.txt``, after its ``#`` header
lines). Re-running the report on the same runs must print the same medians,
quartiles and pair-win lines, since every A/B decision is read off them.
"""
import os
import re
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CAPTURE = os.path.join(ROOT, "bench", "r10_simplicity")


class ReportTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(CAPTURE, "summary.txt")) as fh:
            cls.want = [ln.rstrip("\n") for ln in fh if not ln.startswith("#")]
        out = subprocess.run(
            [sys.executable, os.path.join(ROOT, "scripts", "ab_pairs.py"),
             "--report", os.path.join(CAPTURE, "reads_sf0.1.jsonl"),
             os.path.join(CAPTURE, "lifecycle.jsonl")],
            check=True, stdout=subprocess.PIPE, text=True).stdout
        cls.got = out.rstrip("\n").split("\n")

    def lines(self, lines, pattern):
        return [ln for ln in lines if re.search(pattern, ln)]

    def test_quartile_lines(self):
        # "  p50_ms        parent     2242.971   2447.346   2590.684"
        pattern = r"^  \S+\s+(parent|change)\s+[-\d.]+\s+[-\d.]+\s+[-\d.]+$"
        want = self.lines(self.want, pattern)
        self.assertEqual(len(want), 16)  # 4 metrics x 2 sides x 2 workloads
        self.assertEqual(self.lines(self.got, pattern), want)

    def test_pair_win_lines(self):
        pattern = r"change wins \d+/\d+ pairs; median"
        want = self.lines(self.want, pattern)
        self.assertEqual(len(want), 8)
        self.assertEqual(self.lines(self.got, pattern), want)

    def test_side_lines(self):
        pattern = r"^(== |  (parent|change): )"
        want = self.lines(self.want, pattern)
        self.assertEqual(len(want), 6)
        self.assertEqual(self.lines(self.got, pattern), want)

    def test_whole_summary(self):
        self.assertEqual(self.got, self.want)


if __name__ == "__main__":
    unittest.main()
