"""Unit tests of the benchmark's metric rules.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import metrics  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_rung_with_ten_beyond(self):
        self.assertEqual(metrics.tail_rung(1000), 99.0)   # 10 beyond p99
        self.assertEqual(metrics.tail_rung(999), 95.0)    # 9.99 beyond p99
        self.assertEqual(metrics.tail_rung(200), 95.0)
        self.assertEqual(metrics.tail_rung(100), 90.0)
        self.assertEqual(metrics.tail_rung(50), 80.0)
        self.assertEqual(metrics.tail_rung(40), 75.0)
        self.assertEqual(metrics.tail_rung(39), 50.0)
        self.assertEqual(metrics.tail_rung(20), 50.0)

    def test_too_few_samples(self):
        self.assertIsNone(metrics.tail_rung(19))
        self.assertIsNone(metrics.tail_rung(0))

    def test_p999_needs_ten_thousand(self):
        self.assertEqual(metrics.tail_rung(10_000), 99.9)
        self.assertEqual(metrics.tail_rung(9_999), 99.0)

    def test_tail_at_the_highest_supported_rung(self):
        xs = list(range(1, 101))
        value, rung = metrics.tail({"a": xs[:50], "b": xs[50:]})
        self.assertEqual(rung, 90.0)
        self.assertAlmostEqual(value, metrics.percentile(xs, 90.0))
        value, rung = metrics.tail({"a": list(range(1, 41))})   # p80 would leave 8
        self.assertEqual(rung, 75.0)

    def test_tail_of_few_samples_is_the_slowest_ops_median(self):
        value, rung = metrics.tail({"a": [0.3, 0.4], "b": [2.5, 2.1], "c": [0.6, 9.0]})
        self.assertEqual((value, rung), (4.8, 100.0))

    def test_percentile_interpolates(self):
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(metrics.percentile([5], 99), 5)
        self.assertEqual(metrics.percentile([3, 1, 2], 100), 3)


class DriverOnly(unittest.TestCase):
    def test_union_of_overlapping_and_disjoint_jobs(self):
        self.assertAlmostEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)

    def test_nested_and_touching_intervals(self):
        self.assertAlmostEqual(metrics.union_length([(0, 10), (2, 3), (10, 12)]), 12.0)

    def test_empty_and_degenerate(self):
        self.assertEqual(metrics.union_length([]), 0.0)
        self.assertEqual(metrics.union_length([(3, 3), (5, 4)]), 0.0)

    def test_concurrent_jobs_count_once(self):
        # two jobs running side by side (FitPool) leave the driver idle
        # only outside their union
        self.assertAlmostEqual(metrics.driver_only((0, 10), [(1, 4), (2, 5)]), 6.0)

    def test_jobs_clipped_to_the_window(self):
        self.assertAlmostEqual(metrics.driver_only((10, 20), [(5, 12), (18, 30)]), 6.0)

    def test_no_jobs_means_all_driver(self):
        self.assertAlmostEqual(metrics.driver_only((0, 3), []), 3.0)


if __name__ == "__main__":
    unittest.main()
