"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

from stats import (adopt_orphans, covered, failure_share, median, nearest_rank,
                   self_times, tail, tail_percentile)


def span(i, parent, start, end, kind="job"):
    return {"id": i, "parent": parent, "start": start, "end": end, "kind": kind}


class TailRule(unittest.TestCase):
    def test_percentile_leaves_ten_samples_beyond(self):
        # p75 of 40 is rank 30: exactly 10 beyond; p90 (rank 36) leaves 4
        self.assertEqual(tail_percentile(40), 75.0)
        self.assertEqual(tail_percentile(39), 50.0)
        self.assertEqual(tail_percentile(100), 90.0)
        self.assertEqual(tail_percentile(200), 95.0)
        self.assertEqual(tail_percentile(1000), 99.0)
        self.assertEqual(tail_percentile(10000), 99.9)

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(tail_percentile(5), 50.0)

    def test_every_ladder_choice_has_ten_beyond(self):
        for n in range(20, 3000):
            p = tail_percentile(n)
            xs = list(range(n))
            v = nearest_rank(xs, p)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, (n, p))

    def test_tail_value(self):
        xs = [float(i) for i in range(1, 41)]
        self.assertEqual(tail(xs), (30.0, 75.0))

    def test_median(self):
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(median([4, 1, 2, 3]), 2.5)
        with self.assertRaises(ValueError):
            median([])


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once_where_they_overlap(self):
        spans = [span(1, -1, 0, 100, "op"), span(2, 1, 10, 40), span(3, 1, 30, 60),
                 span(4, 1, 80, 90)]
        st = self_times(spans)
        self.assertEqual(st[1], 100 - 50 - 10)
        self.assertEqual(st[2], 30)

    def test_children_are_clipped_to_the_parent(self):
        st = self_times([span(1, -1, 10, 20, "build"), span(2, 1, 5, 15)])
        self.assertEqual(st[1], 5)

    def test_grandchildren_only_reduce_their_own_parent(self):
        st = self_times([span(1, -1, 0, 10, "op"), span(2, 1, 0, 6, "build"),
                         span(3, 2, 1, 5)])
        self.assertEqual((st[1], st[2], st[3]), (4, 2, 4))

    def test_covered_union(self):
        self.assertEqual(covered([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(covered([]), 0)

    def test_orphans_join_the_innermost_phase_containing_their_start(self):
        spans = [span(1, -1, 0, 100, "op"), span(2, 1, 0, 50, "build"),
                 span(3, 1, 50, 100, "exec"), span(4, -1, 60, 70, "batch"),
                 span(5, -1, 200, 210, "batch")]
        adopt_orphans(spans)
        self.assertEqual(spans[3]["parent"], 3)
        self.assertEqual(spans[4]["parent"], -1)


class FailureShare(unittest.TestCase):
    def test_share(self):
        self.assertEqual(failure_share(40, 0), 0.0)
        self.assertEqual(failure_share(40, 10), 0.25)

    def test_rejects_impossible_counts(self):
        for attempted, failed in ((0, 0), (5, 6), (5, -1)):
            with self.assertRaises(ValueError):
                failure_share(attempted, failed)


if __name__ == "__main__":
    unittest.main()
