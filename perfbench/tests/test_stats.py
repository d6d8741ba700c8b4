import unittest

import context  # noqa: F401  (puts benchlib on the path)
from benchlib import stats


class StatsTest(unittest.TestCase):
    def test_median_odd_even_empty(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.median([]), 0.0)

    def test_nearest_rank_percentile(self):
        xs = list(range(1, 21))  # 1..20
        self.assertEqual(stats.percentile(xs, 50), 10)
        self.assertEqual(stats.percentile(xs, 90), 18)
        self.assertEqual(stats.percentile(xs, 100), 20)
        self.assertEqual(stats.percentile([7], 99), 7)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)

    def test_drift(self):
        self.assertEqual(stats.drift([1.0, 2.0]), 1.0)
        self.assertAlmostEqual(stats.drift([1, 1, 1, 2, 2, 2]), 2.0)
        self.assertAlmostEqual(stats.drift([2, 2, 9, 9, 1, 1]), 0.5)


if __name__ == "__main__":
    unittest.main()
