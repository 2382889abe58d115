"""Unit tests for the benchmark's metric rules.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile(xs, 100), 100)
        self.assertEqual(metrics.percentile([7], 90), 7)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.percentile([5, 1, 4, 2, 3], 50), 3)
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(metrics.median([4, 1, 3]), 3)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)

    def test_supported_percentile_needs_ten_beyond(self):
        self.assertEqual(metrics.supported_percentile(100), 90)
        self.assertEqual(metrics.supported_percentile(99), 75)
        self.assertEqual(metrics.supported_percentile(1000), 99)
        self.assertEqual(metrics.supported_percentile(20), 50)
        self.assertIsNone(metrics.supported_percentile(13))


class DriverGapTest(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(metrics.interval_union_ms([(0, 10), (5, 15), (15, 20)]), 20)
        self.assertEqual(metrics.interval_union_ms([(30, 40), (0, 10)]), 20)
        self.assertEqual(metrics.interval_union_ms([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.interval_union_ms([]), 0)

    def test_gap_is_wall_minus_covered(self):
        # wall 0..100, jobs cover 10..30 and 20..50 -> 40 covered
        self.assertEqual(metrics.driver_gap_ms(0, 100, [(10, 30), (20, 50)]), 60)

    def test_jobs_outside_the_call_are_clipped(self):
        self.assertEqual(metrics.driver_gap_ms(0, 100, [(-50, 10), (90, 200)]), 80)
        self.assertEqual(metrics.driver_gap_ms(0, 100, [(150, 200)]), 100)


class CloseToSinkTest(unittest.TestCase):
    # 1 s windows, 500 ms delay; events (due_ms, event_ms) arrive out of order
    EVENTS = [(0, 100), (100, 900), (200, 1400), (300, 1600), (400, 1550), (500, 2600)]

    def test_closable_is_first_due_beyond_end_plus_delay(self):
        due = metrics.ClosableDue(self.EVENTS, delay_ms=500)
        # window ending 1000 closes at event time >= 1500: first sent is due 300
        self.assertEqual(due(1000), 300)
        # window ending 2000 closes at >= 2500: due 500
        self.assertEqual(due(2000), 500)
        # window ending 3000 never closes
        self.assertIsNone(due(3000))

    def test_one_sample_per_document(self):
        due = metrics.ClosableDue(self.EVENTS, delay_ms=500)
        windows = [(7, 1000, 3, 4), (9, 2000, 2, 2)]
        returns = {7: 1300, 9: 2000}
        self.assertEqual(metrics.close_to_sink_samples(windows, returns, due),
                         [1000, 1000, 1000, 1500, 1500])

    def test_only_windows_closable_in_the_measured_span(self):
        due = metrics.ClosableDue(self.EVENTS, delay_ms=500)
        windows = [(7, 1000, 3, 4), (9, 2000, 2, 2), (11, 3000, 1, 1)]
        returns = {7: 1300, 9: 2000, 11: 2500}
        self.assertEqual(metrics.close_to_sink_samples(windows, returns, due, due_from=400),
                         [1500, 1500])

    def test_backlog_replay_counts_from_drain_start(self):
        # every event of a backlog is due when the drain starts
        windows = [(0, 60000, 33, 100), (1, 120000, 33, 100)]
        samples = metrics.close_to_sink_samples(windows, {0: 5400, 1: 7100},
                                                lambda end: 5000)
        self.assertEqual(sorted(set(samples)), [400, 2100])
        self.assertEqual(len(samples), 66)


if __name__ == "__main__":
    unittest.main()
