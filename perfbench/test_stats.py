"""Tests for the benchmark's own statistics and span arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import layers  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 50), 3)

    def test_ten_samples_beyond_p90_need_a_hundred(self):
        self.assertEqual(stats.beyond(list(range(100)), 90), 10)
        self.assertEqual(stats.beyond(list(range(99)), 90), 9)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(99), 75)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertIsNone(stats.tail_percentile(19))

    def test_ties_are_not_beyond(self):
        self.assertEqual(stats.beyond([1.0] * 200, 90), 0)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_median_averages_the_middle_pair(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)


class LedgerTest(unittest.TestCase):
    def test_wrong_result_counts_as_failed(self):
        led = stats.Ledger()
        led.done(10.0)
        led.done(20.0, correct=False)
        self.assertEqual((led.attempted, led.failed), (2, 1))
        self.assertEqual(led.latencies, [10.0])
        self.assertEqual(led.failed_frac, 0.5)

    def test_crash_fails_every_remaining_op(self):
        led = stats.Ledger()
        for ms in (1.0, 2.0, 3.0):
            led.done(ms)
        led.crash(remaining=7)
        self.assertEqual((led.attempted, led.failed), (10, 7))
        self.assertEqual(len(led.latencies), 3)

    def test_nothing_attempted_is_all_failed(self):
        self.assertEqual(stats.Ledger().failed_frac, 1.0)


class SpanTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(0, 10), (5, 15)], lo=2, hi=12), 10)
        self.assertEqual(stats.union_length([(30, 40)], lo=0, hi=10), 0)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_covered_part(self):
        # a 100 ms span with two overlapping children and one that spills out
        self.assertEqual(stats.self_time(0, 100, [(10, 30), (20, 40), (90, 120)]), 60)
        self.assertEqual(stats.self_time(0, 100, []), 100)
        self.assertEqual(stats.self_time(0, 100, [(-5, 200)]), 0)

    def test_builder_and_action_self_times(self):
        op = layers.Op("t0", "q", 0, start_ms=0.0, mid_ms=50.0, end_ms=120.0)
        op.jobs = [{"start_ms": 10.0, "end_ms": 20.0, "tasks": [], "done_stages": []},
                   {"start_ms": 60.0, "end_ms": 100.0, "tasks": [], "done_stages": []}]
        row = layers.row_summary([op])["q"]
        self.assertEqual((row["builder_ms"], row["builder_self_ms"]), (50.0, 40.0))
        self.assertEqual((row["action_ms"], row["action_self_ms"]), (70.0, 30.0))
        self.assertEqual(row["builder_ms"] + row["action_ms"], row["op_ms"])

    def test_retime_takes_jvm_spans_and_checks_their_sum(self):
        op = layers.Op("t3", "q", 0, 0.0, 0.0, 0.0)
        recs = [{"t": "span", "op": "t3", "name": "op", "start_ms": 100.0, "end_ms": 200.0},
                {"t": "span", "op": "t3", "name": "builder", "start_ms": 100.0, "end_ms": 140.0},
                {"t": "span", "op": "t3", "name": "action", "start_ms": 140.0, "end_ms": 200.0}]
        self.assertEqual(layers.retime([op], recs), 0.0)
        self.assertEqual((op.start_ms, op.mid_ms, op.end_ms), (100.0, 140.0, 200.0))

    def test_events_without_an_op_id_are_placed_by_time(self):
        a = layers.Op("a", "sum", 0, 0.0, 0.0, 100.0)
        b = layers.Op("b", "sum", 0, 100.5, 100.5, 200.0)
        recs = [{"t": "job", "id": 1, "start_ms": 150.0, "op": None, "stages": [3]},
                {"t": "job_end", "id": 1, "end_ms": 180.0},
                {"t": "stage", "id": 3, "schema_read": False},
                {"t": "task", "stage": 3, "start_ms": 151.0, "end_ms": 170.0}]
        layers.attach([a, b], recs)
        self.assertEqual((len(a.jobs), len(b.jobs)), (0, 1))
        self.assertEqual(len(b.jobs[0]["tasks"]), 1)


if __name__ == "__main__":
    unittest.main()
