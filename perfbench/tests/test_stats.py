"""Tests of the benchmark's pure logic.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import compare  # noqa: E402
import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(99), 50.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 99.9), 100)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)


class Quartiles(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [10.0, 11.0, 12.0, 13.0, 30.0]
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual((q1, q2, q3), (10.5, 12.0, 21.5))
        self.assertAlmostEqual(stats.relative_spread(xs), 11.0 / 12.0)

    def test_single_value(self):
        self.assertEqual(stats.quartiles([3.0]), (3.0, 3.0, 3.0))
        self.assertEqual(stats.relative_spread([3.0]), 0.0)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 1), (1, 2)]), 2)
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(3, 3), (4, 2)]), 0)

    def test_driver_gap_counts_overlapping_jobs_once(self):
        # jobs [1,4] and [3,6] overlap: busy 5 of the span's 10
        self.assertEqual(stats.driver_gap((0, 10), [(1, 4), (3, 6)]), 5)

    def test_driver_gap_clips_jobs_to_the_span(self):
        # a job that started before the span and one after it ended
        self.assertEqual(stats.driver_gap((10, 20), [(5, 12), (18, 30), (40, 50)]), 6)
        self.assertEqual(stats.driver_gap((0, 4), []), 4)


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        spans = {
            1: (0, 0.0, 100.0),    # pass
            2: (1, 10.0, 40.0),    # layer a
            3: (1, 50.0, 90.0),    # layer b
            4: (2, 15.0, 25.0),    # call in a
            5: (2, 20.0, 30.0),    # overlapping call in a
            6: (3, 50.0, 90.0),    # call covering all of b
        }
        st = stats.self_times(spans)
        self.assertEqual(st[1], 30.0)  # 100 - 30 - 40
        self.assertEqual(st[2], 15.0)  # 30 - union(15..30)
        self.assertEqual(st[3], 0.0)
        self.assertEqual(st[4], 10.0)
        self.assertEqual(st[6], 40.0)

    def test_child_outside_parent_is_clipped(self):
        st = stats.self_times({1: (0, 0.0, 10.0), 2: (1, 8.0, 15.0)})
        self.assertEqual(st[1], 8.0)


class ErrorCounting(unittest.TestCase):
    def test_failures_and_mismatches_both_count(self):
        self.assertEqual(stats.count_errors(20, 1, 2), (20, 3, 0.15))
        self.assertEqual(stats.count_errors(7, 0, 0), (7, 0, 0.0))

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.count_errors(0, 0, 0)


class Digest(unittest.TestCase):
    def test_order_independent(self):
        a = check.digest_rows(["k", "v"], [(1, 0.5), (2, 1.25)])
        b = check.digest_rows(["v", "k"], [(1.25, 2), (0.5, 1)])
        self.assertEqual(a, b)

    def test_float_noise_below_nine_digits_is_ignored(self):
        a = check.digest_rows(["x"], [(0.1 + 0.2,)])
        b = check.digest_rows(["x"], [(0.3,)])
        self.assertEqual(a, b)
        c = check.digest_rows(["x"], [(0.3001,)])
        self.assertNotEqual(a, c)

    def test_values_matter(self):
        self.assertNotEqual(check.digest_rows(["x"], [(1,)]),
                            check.digest_rows(["x"], [(2,)]))
        self.assertNotEqual(check.digest_rows(["x"], [(1,), (1,)]),
                            check.digest_rows(["x"], [(1,)]))


class Verdicts(unittest.TestCase):
    def test_pair_wins(self):
        base = {1: 10.0, 2: 10.0, 3: 10.0}
        change = {1: 9.0, 2: 10.0, 3: 11.0, 4: 1.0}
        self.assertEqual(compare.pair_wins(base, change, True), (1 / 3, 3))
        self.assertEqual(compare.pair_wins(base, change, False), (1 / 3, 3))
        self.assertEqual(compare.pair_wins({}, change, True), (None, 0))

    def test_verdicts(self):
        base = [10.0, 10.1, 9.9, 10.0, 10.05]
        self.assertEqual(compare.verdict(base, [9.0] * 5, 1.0, 0.1, True), "improved")
        self.assertEqual(compare.verdict(base, [10.5] * 5, 0.0, 0.1, True), "within bound")
        self.assertEqual(compare.verdict(base, [12.0] * 5, 0.0, 0.1, True), "regressed")
        wide = [5.0, 10.0, 15.0, 10.0, 20.0]
        self.assertEqual(compare.verdict(wide, [12.0] * 5, 0.2, 0.1, True), "unresolved")


if __name__ == "__main__":
    unittest.main()
