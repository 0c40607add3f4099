"""Self-tests for perfbench/stats.py. Run: python3 perfbench/test_stats.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class QuantileTest(unittest.TestCase):
    def test_interpolates(self):
        self.assertEqual(stats.quantile([1, 2, 3, 4], 0.5), 2.5)
        self.assertEqual(stats.quantile([4, 1, 3, 2], 0.0), 1)
        self.assertEqual(stats.quantile([4, 1, 3, 2], 1.0), 4)
        self.assertAlmostEqual(stats.quantile(range(11), 0.9), 9.0)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.quantile([], 0.5)


class TenBeyondTest(unittest.TestCase):
    def test_levels_need_ten_samples_beyond(self):
        self.assertEqual(stats.tail_level(1000), 0.99)
        self.assertEqual(stats.tail_level(999), 0.95)
        self.assertEqual(stats.tail_level(200), 0.95)
        self.assertEqual(stats.tail_level(199), 0.9)
        self.assertEqual(stats.tail_level(100), 0.9)
        self.assertEqual(stats.tail_level(99), 0.75)
        self.assertEqual(stats.tail_level(40), 0.75)
        self.assertEqual(stats.tail_level(39), 0.5)
        self.assertEqual(stats.tail_level(20), 0.5)
        self.assertIsNone(stats.tail_level(19))

    def test_tail_value(self):
        xs = list(range(1, 101))            # 100 samples -> p90
        level, v = stats.tail(xs)
        self.assertEqual(level, 0.9)
        self.assertAlmostEqual(v, 90.1)
        self.assertGreaterEqual(sum(1 for x in xs if x > v), 10)

    def test_too_few_samples_report_the_median(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0, 10.0]), (0.5, 2.5))


class LagAccountingTest(unittest.TestCase):
    def gen(self, offset, due, added):
        return {"offset": offset, "due_ms": due, "added_ms": added}

    def mb(self, start, end, commit):
        return {"start_offset": start, "end_offset": end, "commit_ms": commit}

    def test_lag_runs_from_due_time_to_commit(self):
        generator = [self.gen(10, 1000, 1000), self.gen(11, 1100, 1150),
                     self.gen(12, 1200, 1200)]
        # offsets 10 and 11 commit together; 12 in the next micro-batch
        mbs = [self.mb(9, 11, 1500), self.mb(11, 12, 2100)]
        r = stats.lag_accounting(generator, mbs)
        # the late add of batch 11 still counts from its due time
        self.assertEqual(r["lags"], [0.5, 0.4, 0.9])
        self.assertEqual(r["missing"], 0)
        self.assertEqual(r["backlog_max"], 3)
        self.assertAlmostEqual(r["late_s"], 0.05)

    def test_uncommitted_batches_are_missing(self):
        generator = [self.gen(0, 0, 0), self.gen(1, 100, 100)]
        r = stats.lag_accounting(generator, [self.mb(-1, 0, 50)])
        self.assertEqual(r["lags"], [0.05])
        self.assertEqual(r["missing"], 1)
        self.assertEqual(r["backlog_max"], 1)

    def test_backlog_drains_between_adds(self):
        generator = [self.gen(0, 0, 0), self.gen(1, 100, 100),
                     self.gen(2, 200, 200)]
        mbs = [self.mb(-1, 0, 50), self.mb(0, 1, 150), self.mb(1, 2, 250)]
        self.assertEqual(stats.lag_accounting(generator, mbs)["backlog_max"], 1)


class ClosedLoopRateTest(unittest.TestCase):
    def test_updates_over_first_add_to_last_commit(self):
        generator = [{"offset": 0, "due_ms": 0, "added_ms": 0},
                     {"offset": 1, "due_ms": 600, "added_ms": 600}]
        mbs = [{"start_offset": -1, "end_offset": 0, "commit_ms": 500},
               {"start_offset": 0, "end_offset": 1, "commit_ms": 1000}]
        # 2 batches of 500 updates in one second
        self.assertEqual(stats.closed_loop_rate(generator, mbs, 500), 1000.0)


if __name__ == "__main__":
    unittest.main()
