import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.beyond(99, 90), 9)
        self.assertNotIn(90, stats.reportable(99))
        self.assertIn(90, stats.reportable(100))

    def test_p99_needs_a_thousand(self):
        self.assertNotIn(99, stats.reportable(999))
        self.assertIn(99, stats.reportable(1000))

    def test_median_always_reportable(self):
        self.assertEqual(stats.reportable(1), [50])
        self.assertEqual(stats.reportable(12), [50])

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile([5.0], 90), 5.0)
        self.assertEqual(stats.percentile([3, 1, 2], 100), 3)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class Spread(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        vals = [10.0, 11.0, 9.5, 10.2, 12.0, 9.9, 10.4, 10.1, 10.8, 9.7]
        q1, _, q3 = statistics.quantiles(vals, n=4)
        self.assertAlmostEqual(stats.spread(vals),
                               (q3 - q1) / statistics.median(vals))

    def test_constant_values_have_no_spread(self):
        self.assertEqual(stats.spread([2.0] * 10), 0.0)

    def test_scale_free(self):
        vals = [1.0, 2.0, 3.0, 4.0, 5.0]
        self.assertAlmostEqual(stats.spread(vals),
                               stats.spread([v * 7 for v in vals]))


if __name__ == "__main__":
    unittest.main()
