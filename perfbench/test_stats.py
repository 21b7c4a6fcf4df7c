"""Tests of the benchmark's own statistics and metric formulas.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402
import stats  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_median_odd_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_quartiles_match_statistics_quantiles(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual([q1, q2, q3], statistics.quantiles(xs, n=4))
        self.assertEqual(stats.quartiles([7.0]), (7.0, 7.0, 7.0))

    def test_spread_is_iqr_over_median(self):
        xs = [9.0, 10.0, 10.0, 11.0, 10.0, 12.0, 8.0, 10.0, 10.0, 10.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)
        self.assertEqual(stats.spread([0.0, 0.0, 0.0]), 0.0)
        self.assertTrue(math.isinf(stats.spread([-1.0, 0.0, 1.0])))

    def test_rate_sums_before_dividing(self):
        # two jobs: 100 rows in 1 s and 900 rows in 9 s -> 100 rows/s,
        # not the mean of per-job rates
        self.assertEqual(stats.rate([100, 900], [1.0, 9.0]), 100.0)
        self.assertEqual(stats.rate([100, 300], [1.0, 1.0]), 200.0)
        self.assertEqual(stats.rate([], []), 0.0)

    def test_agree_respects_direction(self):
        base = [10.0, 10.0, 10.0]
        self.assertTrue(stats.agree(base, [11.0] * 3, 0.1, "lower"))
        self.assertFalse(stats.agree(base, [11.5] * 3, 0.1, "lower"))
        self.assertTrue(stats.agree(base, [5.0] * 3, 0.1, "lower"))
        self.assertFalse(stats.agree(base, [8.5] * 3, 0.1, "higher"))
        self.assertTrue(stats.agree(base, [20.0] * 3, 0.1, "higher"))


class MetricsTest(unittest.TestCase):
    def test_union_length_clips_and_merges(self):
        iv = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 12.0)]
        self.assertAlmostEqual(metrics._union_length(iv, 0.5, 10.0), 4.5)
        self.assertEqual(metrics._union_length([], 0.0, 1.0), 0.0)

    def _raw(self):
        rounds = [
            {"index": 1, "start": 0.0, "end": 4.0, "groups": ["a"],
             "fs": {"bytes_written": 100, "read_ops": 1, "write_ops": 1}},
            {"index": 2, "start": 4.0, "end": 7.0, "groups": ["b"],
             "fs": {"bytes_written": 120, "read_ops": 1, "write_ops": 1}},
            {"index": 3, "start": 7.0, "end": 12.0, "groups": ["c"],
             "fs": {"bytes_written": 110, "read_ops": 1, "write_ops": 1}},
        ]
        return {"setup_s": [5.0, 0.2, 0.1, 0.3],
                "setup_cpu_s": [9.5, 0.25, 0.125, 0.125], "rounds": rounds,
                "retained_heap_bytes": 64 * metrics.MB,
                "groups": {"a": {"cpu_s": 3.0}, "b": {"cpu_s": 1.0},
                           "c": {"cpu_s": 2.0}}}

    def test_end_to_end_are_per_round_medians(self):
        m = metrics.end_to_end(self._raw())
        self.assertEqual(m["setup_s"], 10.0)  # CPU of all set-ups together
        self.assertEqual(m["round_s"], 4.0)
        self.assertEqual(m["cpu_s"], 2.0)
        self.assertEqual(m["retained_heap_mb"], 64.0)
        self.assertEqual(m["bytes_written"], 110)
        self.assertEqual(set(m), set(metrics.END_TO_END))


if __name__ == "__main__":
    unittest.main()
