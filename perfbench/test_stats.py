"""Self-tests for the benchmark's statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


class PercentileTest(unittest.TestCase):
    def test_p90_of_100_samples_has_10_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(stats.beyond(100, 0.9), 10)
        self.assertTrue(stats.supported(100, 0.9))

    def test_p90_of_fewer_than_100_samples_is_unsupported(self):
        self.assertEqual(stats.beyond(99, 0.9), 9)
        self.assertFalse(stats.supported(99, 0.9))
        self.assertTrue(stats.supported(20, 0.5))

    def test_nearest_rank_is_a_sample(self):
        self.assertEqual(stats.percentile([3.0, 1.0, 2.0], 0.5), 2.0)
        self.assertEqual(stats.percentile([5.0], 0.9), 5.0)
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)

    def test_weighted_matches_expanded_samples(self):
        pairs = [(10.0, 3), (20.0, 5), (30.0, 2)]
        expanded = [v for v, c in pairs for _ in range(c)]
        for q in (0.1, 0.3, 0.5, 0.8, 0.9, 0.99):
            self.assertEqual(stats.weighted_percentile(pairs, q), stats.percentile(expanded, q))


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start": start, "end": end}

    def test_self_time_subtracts_union_of_children(self):
        spans = [self.span(1, -1, 0, 100),
                 self.span(2, 1, 10, 30), self.span(3, 1, 20, 50),  # overlap: 10..50
                 self.span(4, 1, 90, 130),                         # clipped to 90..100
                 self.span(5, 2, 12, 14)]                          # grandchild: ignored
        self.assertEqual(stats.self_time(spans[0], spans), 100 - 40 - 10)
        self.assertEqual(stats.self_time(spans[1], spans), 20 - 2)

    def test_leaf_self_time_is_its_duration(self):
        spans = [self.span(1, -1, 5, 8)]
        self.assertEqual(stats.self_time(spans[0], spans), 3)


class FailureCountingTest(unittest.TestCase):
    def test_ratio_is_against_attempted(self):
        self.assertEqual(stats.failed_ratio(0, 12), 0.0)
        self.assertEqual(stats.failed_ratio(3, 12), 0.25)

    def test_nothing_attempted_counts_as_failed(self):
        self.assertEqual(stats.failed_ratio(0, 0), 1.0)


class OverheadRatioTest(unittest.TestCase):
    def test_share_of_trigger_time_outside_add_batch(self):
        self.assertAlmostEqual(stats.overhead_ratio([60, 20], [100, 100]), 0.6)

    def test_no_triggers(self):
        self.assertEqual(stats.overhead_ratio([], []), 0.0)


if __name__ == "__main__":
    unittest.main()
