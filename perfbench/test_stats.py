"""Tests of the benchmark's own statistics: python3 -m unittest discover perfbench"""
import math
import unittest

import stats


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.median([7.5]), 7.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(stats.geomean([0.1, 0.1, 0.1]), 0.1)
        # every value weighs the same: halving one of four values moves
        # the geomean by the same factor whichever value it is
        base = stats.geomean([0.1, 0.2, 0.4, 1.6])
        self.assertAlmostEqual(stats.geomean([0.05, 0.2, 0.4, 1.6]) / base,
                               stats.geomean([0.1, 0.2, 0.4, 0.8]) / base)
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])

    def test_tail_percentile(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(120), 91)
        self.assertEqual(stats.tail_percentile(10), 0)
        self.assertIsNone(stats.tail_percentile(9))
        for n in range(10, 500):
            p = stats.tail_percentile(n)
            self.assertGreaterEqual(n - math.ceil(p / 100.0 * n), 10)

    def test_percentile(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(len([x for x in xs if x > stats.percentile(xs, 90)]), 10)
        self.assertEqual(stats.percentile([5], 90), 5)

    def test_union(self):
        self.assertEqual(stats.union([(5, 7), (1, 3), (2, 4)]), [(1, 4), (5, 7)])
        self.assertEqual(stats.union([(1, 2), (2, 3)]), [(1, 3)])
        self.assertEqual(stats.union([(1, 1), (4, 2)]), [])
        self.assertEqual(stats.covered([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.covered([(0, 10), (20, 30)], 5, 25), 10)

    def test_self_time(self):
        span = {"start_us": 0, "end_us": 100}
        kids = [{"start_us": 10, "end_us": 30}, {"start_us": 20, "end_us": 40},
                {"start_us": 90, "end_us": 150}]
        # children cover 10..40 and 90..100 inside the span
        self.assertEqual(stats.self_time(span, kids), 60)
        self.assertEqual(stats.self_time(span, []), 100)

    def test_quartile_spread(self):
        self.assertAlmostEqual(stats.quartile_spread([10.0] * 9 + [10.0]), 0.0)
        xs = [1.0, 2.0, 3.0, 4.0, 5.0]
        self.assertAlmostEqual(stats.quartile_spread(xs), (4.5 - 1.5) / 3.0)


if __name__ == "__main__":
    unittest.main()
