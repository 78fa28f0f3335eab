"""Self-checks for the percentile and sample-count helpers.

Run: python3 perfbench/test_stats.py
"""
import os
import random
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_on_1_to_100(self):
        xs = list(range(1, 101))
        random.Random(1).shuffle(xs)
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile(xs, 0.5), 1)

    def test_small_samples(self):
        self.assertEqual(stats.percentile([7.0], 50), 7.0)
        self.assertEqual(stats.median([3, 1, 2]), 2)
        # even count: the lower middle, a sample rather than an average
        self.assertEqual(stats.median([4, 1, 3, 2]), 2)
        self.assertEqual(stats.percentile([1, 2], 51), 2)

    def test_is_always_a_sample(self):
        rng = random.Random(7)
        for n in (1, 2, 3, 10, 101):
            xs = [rng.random() for _ in range(n)]
            for p in (1, 25, 50, 90, 99, 100):
                self.assertIn(stats.percentile(xs, p), xs)

    def test_monotone_in_p(self):
        xs = [random.Random(3).random() for _ in range(57)]
        ps = [stats.percentile(xs, p) for p in range(1, 101)]
        self.assertEqual(ps, sorted(ps))

    def test_rejects_bad_input(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)
        with self.assertRaises(ValueError):
            stats.percentile([1], 0)
        with self.assertRaises(ValueError):
            stats.percentile([1], 101)


class SampleCountTest(unittest.TestCase):
    def test_beyond(self):
        self.assertEqual(stats.beyond(1000, 99), 10)
        self.assertEqual(stats.beyond(100, 50), 50)
        self.assertEqual(stats.beyond(1, 50), 0)

    def test_supported(self):
        self.assertTrue(stats.supported(1000, 99))
        self.assertFalse(stats.supported(999, 99))
        self.assertTrue(stats.supported(20, 50))
        self.assertFalse(stats.supported(19, 50))
        self.assertFalse(stats.supported(0, 50))

    def test_highest_supported(self):
        self.assertEqual(stats.highest_supported(2000), 99)
        self.assertEqual(stats.highest_supported(10000), 99.9)
        self.assertEqual(stats.highest_supported(200), 95)
        self.assertEqual(stats.highest_supported(25), 50)
        self.assertIsNone(stats.highest_supported(12))


if __name__ == "__main__":
    unittest.main()
