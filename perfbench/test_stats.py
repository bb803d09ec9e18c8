"""Unit tests of the benchmark's own statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(stats.median(xs), 2.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 3.7)

    def test_empty_sample_has_no_percentile(self):
        self.assertIsNone(stats.percentile([], 50))


class TailRuleTest(unittest.TestCase):
    def test_needs_ten_samples_beyond_the_tail(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertTrue(stats.supports(100, 90))
        self.assertFalse(stats.supports(99, 90))
        self.assertTrue(stats.supports(200, 95))
        self.assertFalse(stats.supports(199, 95))
        self.assertTrue(stats.supports(1000, 99))

    def test_highest_supported_percentile(self):
        self.assertEqual(stats.highest_supported(1000), 99)
        self.assertEqual(stats.highest_supported(150), 90)
        self.assertEqual(stats.highest_supported(40), 75)
        self.assertEqual(stats.highest_supported(20), 50)
        self.assertIsNone(stats.highest_supported(19))


class RatioTest(unittest.TestCase):
    def test_ratio_and_empty_base(self):
        self.assertEqual(stats.ratio(1, 4), 0.25)
        self.assertEqual(stats.ratio(0, 0), 0.0)


class IngestLagTest(unittest.TestCase):
    progress = [
        {"batch": 7, "start_ms": 1_000, "trigger_ms": 400},   # ends at 1,400
        {"batch": 8, "start_ms": 1_400, "trigger_ms": 1_100},  # ends at 2,500
    ]

    def test_lag_runs_from_due_time_to_the_committing_batch_end(self):
        files = [{"name": "a", "due_ms": 900, "landed_ms": 905},
                 {"name": "b", "due_ms": 1_300, "landed_ms": 1_350}]
        lags, missing = stats.ingest_lags(files, {"a": 7, "b": 8}, self.progress)
        self.assertEqual(lags, [0.5, 1.2])
        self.assertEqual(missing, [])

    def test_uncommitted_files_are_reported_missing(self):
        files = [{"name": "a", "due_ms": 900, "landed_ms": 905},
                 {"name": "c", "due_ms": 2_000, "landed_ms": 2_001}]
        lags, missing = stats.ingest_lags(files, {"a": 7, "c": 9}, self.progress)
        self.assertEqual(lags, [0.5])
        self.assertEqual(missing, ["c"])

    def test_backlog_counts_landed_but_uncommitted_files(self):
        files = [{"name": n, "due_ms": t, "landed_ms": t} for n, t in
                 (("a", 900), ("b", 1_300), ("c", 1_450), ("d", 1_500))]
        fb = {"a": 7, "b": 8, "c": 8, "d": 8}
        # a lands at 900 (1); b at 1,300 (2); a commits at 1,400 (1);
        # c, d land (3); b, c, d commit at 2,500 (0)
        self.assertEqual(stats.backlog_max(files, fb, self.progress), 3)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [
            {"id": 1, "parent": 0, "start_s": 0.0, "end_s": 10.0},
            {"id": 2, "parent": 1, "start_s": 1.0, "end_s": 4.0},
            {"id": 3, "parent": 1, "start_s": 3.0, "end_s": 5.0},  # overlaps 2
            {"id": 4, "parent": 1, "start_s": 9.0, "end_s": 12.0},  # runs past 1
        ]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 10.0 - 4.0 - 1.0)
        self.assertAlmostEqual(st[2], 3.0)
        self.assertAlmostEqual(st[4], 3.0)


if __name__ == "__main__":
    unittest.main()
