"""Tests for the benchmark's metric math.

    python3 -m unittest discover -s graftbench -p 'test_*.py'
"""
import unittest

import metrics


class PercentileRule(unittest.TestCase):
    def test_median_needs_one_sample(self):
        self.assertIsNone(metrics.percentile([], 0.5))
        self.assertEqual(metrics.percentile([7.0], 0.5), 7.0)
        self.assertEqual(metrics.percentile([1, 2, 3, 10], 0.5), 2.5)

    def test_tail_needs_ten_samples_beyond(self):
        xs = list(range(1, 100))  # 99 samples: p90 has 9 beyond it
        self.assertEqual(metrics.samples_beyond(99, 0.9), 9)
        self.assertIsNone(metrics.percentile(xs, 0.9))
        xs.append(100)  # 100 samples: p90 has exactly 10 beyond it
        self.assertEqual(metrics.samples_beyond(100, 0.9), 10)
        self.assertEqual(metrics.percentile(xs, 0.9), 90)
        self.assertIsNone(metrics.percentile(xs, 0.95))

    def test_nearest_rank(self):
        xs = [float(i) for i in range(200, 0, -1)]
        self.assertEqual(metrics.percentile(xs, 0.95), 190.0)
        self.assertEqual(metrics.percentile(xs, 0.9), 180.0)

    def test_tail_picks_highest_supported_level(self):
        self.assertEqual(metrics.tail(list(range(1000))), (0.99, 989))
        self.assertEqual(metrics.tail(list(range(100))), (0.9, 89))
        self.assertEqual(metrics.tail(list(range(40))), (0.75, 29))
        self.assertIsNone(metrics.tail(list(range(39))))


class Ratios(unittest.TestCase):
    def test_read_amp(self):
        self.assertEqual(metrics.read_amp(80_000, 400), 200.0)
        self.assertEqual(metrics.read_amp(400, 400), 1.0)
        self.assertEqual(metrics.read_amp(5, 0), 0.0)

    def test_failed_frac(self):
        self.assertEqual(metrics.failed_frac(0, 12), 0.0)
        self.assertEqual(metrics.failed_frac(3, 12), 0.25)
        with self.assertRaises(ValueError):
            metrics.failed_frac(0, 0)
        with self.assertRaises(ValueError):
            metrics.failed_frac(13, 12)

    def test_failures_count_ops_and_run_level_checks(self):
        raw = {"passes": [{"ops": 10}], "checks": [
            {"name": "drain_exact", "ok": True},
            {"name": "offsets_unique_gapless", "ok": False},
            {"name": "run:q1", "ok": False}]}
        oracle = [{"name": "oracle:q1", "ok": False},
                  {"name": "oracle:q2", "ok": False},
                  {"name": "oracle:q3", "ok": True}]
        # 10 operations + 2 run-level checks; q1 failed twice but is one
        # operation, q2 once, plus the failed run-level check
        self.assertEqual(metrics.failures(raw, oracle), (12, 3))

    def test_union_ms(self):
        self.assertEqual(metrics.union_ms([]), 0)
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_ms([(0, 10), (2, 3)]), 10)


if __name__ == "__main__":
    unittest.main()
