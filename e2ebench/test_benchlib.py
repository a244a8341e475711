"""Unit tests of the benchmark's helpers: spread, worse_by, fingerprint
and span self times.

    python3 -m unittest discover -s e2ebench -p 'test_*.py'
"""
import statistics
import unittest

import benchlib


class SpreadTest(unittest.TestCase):
    def test_uses_statistics_quantiles(self):
        xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(benchlib.spread(xs), (q3 - q1) / med)

    def test_constant_samples_have_no_spread(self):
        self.assertEqual(benchlib.spread([2.0] * 10), 0.0)

    def test_worse_by_direction(self):
        self.assertAlmostEqual(benchlib.worse_by("lower", 100.0, 110.0), 0.1)
        self.assertAlmostEqual(benchlib.worse_by("higher", 100.0, 110.0), -0.1)
        self.assertAlmostEqual(benchlib.worse_by("higher", 100.0, 90.0), 0.1)


class FingerprintTest(unittest.TestCase):
    def test_order_insensitive(self):
        a = benchlib.fingerprint(["b", "a"], ["INTEGER", "VARCHAR"],
                                 [(1, "x"), (2, "y")])
        b = benchlib.fingerprint(["a", "b"], ["VARCHAR", "INTEGER"],
                                 [("y", 2), ("x", 1)])
        self.assertEqual(a, b)
        self.assertEqual(a["rows"], 2)

    def test_sensitive_to_values_and_types(self):
        base = benchlib.fingerprint(["a"], ["DOUBLE"], [(1.0,)])
        self.assertNotEqual(base, benchlib.fingerprint(["a"], ["DOUBLE"], [(1.0000001,)]))
        self.assertNotEqual(base, benchlib.fingerprint(["a"], ["FLOAT"], [(1.0,)]))
        self.assertEqual(len(base["sha256"]), 64)


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(i, parent, layer, lo, hi):
        return {"id": i, "parent": parent, "layer": layer,
                "start_ms": lo, "end_ms": hi}

    def test_children_are_subtracted_once(self):
        spans = [self.span(1, 0, "api.sql", 0.0, 100.0),
                 self.span(2, 1, "exec.job", 10.0, 40.0),
                 self.span(3, 1, "exec.job", 30.0, 60.0),  # overlaps span 2
                 self.span(4, 1, "exec.job", 80.0, 90.0)]
        t = benchlib.self_times(spans)
        self.assertAlmostEqual(t["api.sql"], 100.0 - 50.0 - 10.0)
        self.assertAlmostEqual(t["exec.job"], 30.0 + 30.0 + 10.0)

    def test_window_and_clipping(self):
        spans = [self.span(1, 0, "store.read", 0.0, 10.0),
                 self.span(2, 1, "exec.job", 5.0, 15.0),  # runs past its parent
                 self.span(3, 0, "store.read", 50.0, 70.0)]
        self.assertAlmostEqual(benchlib.self_times(spans, 0.0, 20.0)["store.read"], 5.0)
        self.assertAlmostEqual(benchlib.self_times(spans)["store.read"], 25.0)


if __name__ == "__main__":
    unittest.main()
