"""Tests for the benchmark's metric maths and output canonicalization.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_reported_only_with_ten_samples_beyond(self):
        self.assertIsNone(stats.percentile(range(19), 50))
        self.assertEqual(stats.percentile(range(1, 21), 50), 10)
        self.assertIsNone(stats.percentile(range(99), 90))
        self.assertEqual(stats.percentile(range(1, 101), 90), 90)
        self.assertIsNone(stats.percentile(range(999), 99))
        self.assertEqual(stats.percentile(range(1, 1001), 99), 990)

    def test_nearest_rank_ignores_input_order(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5
        self.assertEqual(stats.percentile(xs, 50), 3.0)

    def test_out_of_range_or_empty(self):
        self.assertIsNone(stats.percentile([], 50))
        self.assertIsNone(stats.percentile(range(100), 0))
        self.assertIsNone(stats.percentile(range(100), 100))

    def test_highest_reportable(self):
        self.assertEqual(stats.highest_percentile(range(1, 201)), (95, 190))
        self.assertEqual(stats.highest_percentile(range(1, 31)), (50, 15))
        self.assertEqual(stats.highest_percentile(range(5)), (None, None))


class TrendAndSpreadTest(unittest.TestCase):
    def test_trend_ratio(self):
        self.assertIsNone(stats.trend_ratio([1, 2, 3]))
        self.assertEqual(stats.trend_ratio([2, 2, 1, 1]), 0.5)
        self.assertEqual(stats.trend_ratio([3, 3, 3, 3, 3]), 1.0)


class CanonicalTest(unittest.TestCase):
    def setUp(self):
        import checks
        self.checks = checks

    def test_type_strict_values(self):
        n = self.checks.norm
        self.assertNotEqual(n(1), n(1.0))
        self.assertNotEqual(n(True), n(1))
        self.assertEqual(n(0.1 + 0.2), n(0.3))  # nine significant digits
        self.assertEqual(n([1, [2.0, None]]), "[i:1,[f:2,n:]]")
        self.assertEqual(n({"b": 1, "a": "x"}), "{a=s:x,b=i:1}")


if __name__ == "__main__":
    unittest.main()
