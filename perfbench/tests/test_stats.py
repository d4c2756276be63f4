"""Percentile and tail selection, the per-kind mean, open-loop and
closed-loop accounting and failure counting.

    python3 -m unittest discover -s perfbench/tests
"""

import math
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
sys.dont_write_bytecode = True

import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 50), 3)
        self.assertEqual(stats.percentile(xs, 20), 1)
        self.assertEqual(stats.percentile(xs, 21), 2)
        self.assertEqual(stats.percentile(xs, 100), 5)
        self.assertEqual(stats.percentile(list(range(1, 101)), 99), 99)
        self.assertEqual(stats.percentile(list(range(1, 101)), 90), 90)

    def test_is_a_sample(self):
        # never interpolates: the result is one of the observations
        xs = [0.1, 0.7, 0.2, 0.9]
        for p in (1, 25, 50, 75, 90, 99, 100):
            self.assertIn(stats.percentile(xs, p), xs)

    def test_median_of_even_sample_is_lower_middle(self):
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.0)

    def test_empty(self):
        self.assertIsNone(stats.percentile([], 50))

    def test_tail_is_the_nearest_rank_sample(self):
        # p99 of 133 paced files is the 132nd smallest, p90 the 120th
        xs = [i / 100.0 for i in range(133, 0, -1)]
        self.assertEqual(stats.percentile(xs, 99), 1.32)
        self.assertEqual(stats.percentile(xs, 90), 1.20)
        # p90 of ten samples is the second largest, not the largest
        self.assertEqual(stats.percentile(list(range(10)), 90), 8)


class FailureCountingTest(unittest.TestCase):
    def op(self, wall, ok=True):
        return {"wall_s": wall, "ok": ok}

    def test_failures_miss_every_limit(self):
        ops = [self.op(1.0), self.op(0.1, ok=False), self.op(2.0), self.op(3.0),
               self.op(0.2, ok=False)]
        lat, failed = stats.closed_loop(ops)
        self.assertEqual(failed, 2)
        self.assertEqual(len(lat), 5)
        self.assertEqual(stats.percentile(lat, 50), 3.0)
        self.assertTrue(math.isinf(stats.percentile(lat, 80)))
        self.assertEqual(stats.finite(stats.percentile(lat, 80)), stats.FAILED_LATENCY_S)

    def test_a_fast_failure_is_not_a_fast_sample(self):
        lat, _ = stats.closed_loop([self.op(1.0), self.op(0.01, ok=False)])
        self.assertEqual(stats.percentile(lat, 1), 1.0)

    def test_failure_ratio(self):
        self.assertEqual(stats.failure_ratio(8, 2), 0.25)
        self.assertEqual(stats.failure_ratio(0, 0), 0.0)

    def test_family_mean_weighs_kinds_equally(self):
        # three slow probes of one kind and one fast of another: 2.0, not 3.25
        xs = [("term", 3.0), ("term", 3.0), ("term", 3.0), ("text", 1.0)]
        self.assertEqual(stats.family_mean(xs), 2.0)
        self.assertIsNone(stats.family_mean([]))

    def test_finite(self):
        self.assertEqual(stats.finite(None), 0.0)
        self.assertEqual(stats.finite(1.5), 1.5)


class OpenLoopTest(unittest.TestCase):
    def f(self, due, drop, commit):
        return {"due_ms": due, "drop_ms": drop, "commit_ms": commit}

    def test_latency_runs_from_due_time(self):
        # the generator ran 300 ms late: that wait is charged to the item
        lat, late, failed, _ = stats.open_loop([self.f(1000, 1300, 1800)])
        self.assertEqual(lat, [0.8])
        self.assertEqual(late, [0.3])
        self.assertEqual(failed, 0)

    def test_uncommitted_items_are_failed_and_kept(self):
        files = [self.f(0, 0, 500), self.f(200, 200, -1), self.f(400, 400, -1)]
        lat, _, failed, backlog = stats.open_loop(files)
        self.assertEqual(failed, 2)
        self.assertEqual(len(lat), 3)
        self.assertTrue(math.isinf(stats.percentile(lat, 90)))
        self.assertEqual(backlog, 3)

    def test_backlog_counts_offered_not_committed(self):
        files = [self.f(0, 0, 250), self.f(100, 100, 250), self.f(200, 200, 250),
                 self.f(300, 300, 600)]
        _, _, _, backlog = stats.open_loop(files)
        self.assertEqual(backlog, 3)


if __name__ == "__main__":
    unittest.main()
