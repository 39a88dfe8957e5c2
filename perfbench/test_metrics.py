"""Tests for the benchmark's metric math. Run: python3 -m unittest discover -s perfbench"""

import unittest

from metrics import failed_frac, median, self_time, tail_percentile


class MedianTest(unittest.TestCase):
    def test_odd_count_picks_the_middle(self):
        self.assertEqual(median([5.0, 1.0, 3.0]), 3.0)

    def test_even_count_averages_the_two_middle_values(self):
        self.assertEqual(median([4.0, 1.0, 3.0, 2.0]), 2.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            median([])


class TailPercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        # 20 samples: p50 leaves 10 beyond, p75 leaves 5 -> p50 is not a
        # candidate, and p75 has too few, so there is no reportable tail
        self.assertIsNone(tail_percentile(list(range(1, 21))))

    def test_picks_the_highest_percentile_with_enough_tail(self):
        # 152 samples: p90 has rank 137 and 15 beyond; p95 has only 7
        values = [float(i) for i in range(1, 153)]
        self.assertEqual(tail_percentile(values), (90, 137.0))

    def test_large_samples_reach_p99(self):
        values = list(range(1, 2001))
        self.assertEqual(tail_percentile(values), (99, 1980))

    def test_order_does_not_matter(self):
        values = [float(i) for i in range(152)]
        self.assertEqual(tail_percentile(values[::-1]), tail_percentile(values))


class SelfTimeTest(unittest.TestCase):
    def test_no_children_is_the_whole_span(self):
        self.assertAlmostEqual(self_time((0.0, 10.0), []), 10.0)

    def test_disjoint_children_are_subtracted(self):
        self.assertAlmostEqual(self_time((0.0, 10.0), [(1.0, 3.0), (5.0, 6.0)]), 7.0)

    def test_overlapping_children_count_once(self):
        # [1,4] and [2,6] cover [1,6]; [5,7] extends it to [1,7]
        self.assertAlmostEqual(self_time((0.0, 10.0), [(2.0, 6.0), (1.0, 4.0), (5.0, 7.0)]), 4.0)

    def test_children_are_clipped_to_the_parent(self):
        self.assertAlmostEqual(self_time((2.0, 6.0), [(0.0, 3.0), (5.0, 9.0), (7.0, 8.0)]), 2.0)

    def test_nested_children_inside_another_child(self):
        self.assertAlmostEqual(self_time((0.0, 10.0), [(1.0, 9.0), (2.0, 3.0)]), 2.0)


class FailedFracTest(unittest.TestCase):
    def test_share_of_attempted(self):
        self.assertEqual(failed_frac(7, 0), 0.0)
        self.assertAlmostEqual(failed_frac(8, 2), 0.25)

    def test_rejects_nonsense(self):
        with self.assertRaises(ValueError):
            failed_frac(0, 0)
        with self.assertRaises(ValueError):
            failed_frac(3, 4)


if __name__ == "__main__":
    unittest.main()
