#!/usr/bin/env python3
"""Unit test of ``scripts/loc.py``, the code/comment/blank line counter.

    python3 -m unittest discover -s scripts -p 'test_*.py'

Each case feeds ``classify`` a small Scala text whose counts are known by
hand: trailing comments, comment markers inside string literals, nested
block comments. The last case counts the ``src/main`` tree at a fixed
revision and checks that code + comment + blank lines add up to what
``wc -l`` counts for the same files.
"""
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts"))
import loc  # noqa: E402

# a revision whose src/main tree every later checkout still holds
REV = "f9dd04d"


class ClassifyTest(unittest.TestCase):

    def counts(self, text):
        """(code, comment, blank) of `text`."""
        return loc.classify(text)

    def test_trailing_comment_is_code(self):
        self.assertEqual(self.counts("val x = 1 // the answer\n"), (1, 0, 0))
        self.assertEqual(self.counts("val y = 2 /* inline */\n"), (1, 0, 0))

    def test_comment_only_and_blank_lines(self):
        text = "// a comment\n\n   \n/** scaladoc */\nval x = 1\n"
        self.assertEqual(self.counts(text), (1, 2, 2))

    def test_comment_markers_inside_strings(self):
        text = ('val url = "http://host/x"\n'
                'val glob = "src/*.scala"\n'
                'val slash = "a \\" // still the string"\n')
        self.assertEqual(self.counts(text), (3, 0, 0))

    def test_triple_quoted_strings(self):
        text = ('val sql = """SELECT 1\n'
                '  // not a comment\n'
                '  /* nor this */\n'
                '"""\n'
                'val z = 3\n')
        self.assertEqual(self.counts(text), (5, 0, 0))

    def test_char_literal_quote_opens_no_string(self):
        text = "val q = '\"' // a quote\nval w = 4\n"
        self.assertEqual(self.counts(text), (2, 0, 0))

    def test_nested_block_comments(self):
        text = ("/* outer\n"
                "   /* inner */\n"
                "   still outer */\n"
                "val a = 1\n")
        self.assertEqual(self.counts(text), (1, 3, 0))
        # the first `*/` closes only the inner comment
        self.assertEqual(self.counts("/* a /* b */ c */ val b = 2\n"), (1, 0, 0))


class TotalsTest(unittest.TestCase):

    def test_totals_equal_wc_l(self):
        def git(*args):
            return subprocess.run(("git", "-C", ROOT) + args, check=True,
                                  capture_output=True).stdout
        paths = [p for p in git("ls-tree", "-r", "--name-only", REV, "--",
                                "src/main").decode().splitlines()
                 if p.endswith(".scala")]
        wc = 0
        for p in paths:
            out = subprocess.run(["wc", "-l"], input=git("show", f"{REV}:{p}"),
                                 check=True, capture_output=True).stdout
            wc += int(out.split()[0])
        files, code, comment, blank = loc.count(REV)
        self.assertEqual(files, len(paths))
        self.assertEqual(code + comment + blank, wc)


if __name__ == "__main__":
    unittest.main()
