"""Tests of the benchmark's statistics helpers: python3 -m unittest discover perfbench"""
import unittest

from stats import covered, median_pass, spread, tail, union


class UnionTest(unittest.TestCase):
    def test_overlapping_jobs_from_concurrent_builders_merge(self):
        # Three driver threads building sub-plans at once: their jobs
        # overlap, and busy time must not count the overlap twice.
        jobs = [(0, 10), (2, 6), (5, 12), (20, 25), (24, 30)]
        self.assertEqual(union(jobs), [(0, 12), (20, 30)])
        self.assertEqual(covered(jobs, 0, 100), 22)

    def test_nested_touching_unsorted_and_empty(self):
        self.assertEqual(union([(5, 9), (0, 20)]), [(0, 20)])
        self.assertEqual(union([(3, 4), (0, 3)]), [(0, 4)])
        self.assertEqual(union([(7, 7), (1, 2)]), [(1, 2)])
        self.assertEqual(union([]), [])

    def test_covered_clips_to_the_window(self):
        jobs = [(0, 10), (8, 14), (30, 40)]
        self.assertEqual(covered(jobs, 5, 35), 9 + 5)
        self.assertEqual(covered(jobs, 15, 29), 0)


class TailTest(unittest.TestCase):
    def test_eleventh_largest_with_its_percentile(self):
        values = list(range(1, 31))  # 30 samples, shuffled order must not matter
        value, pct, beyond = tail(reversed(values))
        self.assertEqual(value, 20)
        self.assertAlmostEqual(pct, 100 * 20 / 30)
        self.assertEqual(beyond, 10)
        self.assertEqual(sum(v > value for v in values), 10)

    def test_exactly_eleven_samples(self):
        self.assertEqual(tail(range(11)), (0, 100 / 11, 10))

    def test_fewer_than_eleven_falls_back_to_the_slowest(self):
        self.assertEqual(tail([3.0, 9.0, 1.0]), (9.0, 100.0, 0))

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            tail([])


class MedianPassTest(unittest.TestCase):
    def test_sums_each_ops_median(self):
        # Three passes over ops a and b; pass 1 has a slow a, pass 2 a slow b.
        samples = [("a", 1.0), ("b", 2.0), ("a", 9.0), ("b", 2.5), ("a", 1.5), ("b", 8.0)]
        self.assertAlmostEqual(median_pass(samples), 1.5 + 2.5)

    def test_one_op_is_its_median(self):
        self.assertAlmostEqual(median_pass([("run", 18.0)]), 18.0)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            median_pass([])


class SpreadTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        self.assertAlmostEqual(spread([10, 10, 10, 10]), 0.0)
        self.assertAlmostEqual(spread([1, 2, 3, 4, 5]), (4.5 - 1.5) / 3)


if __name__ == "__main__":
    unittest.main()
