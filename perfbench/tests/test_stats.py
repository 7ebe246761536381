"""Tests for the benchmark's statistics. Run: python3 -m unittest discover perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertEqual(stats.min_samples(0.5), 20)
        self.assertEqual(stats.min_samples(0.9), 100)
        self.assertEqual(stats.min_samples(0.99), 1000)

    def test_p90_refused_below_100_samples(self):
        with self.assertRaises(ValueError):
            stats.percentile(range(99), 0.9)
        self.assertEqual(stats.percentile(range(1, 101), 0.9), 90)

    def test_median_refused_below_20_samples(self):
        with self.assertRaises(ValueError):
            stats.percentile(range(19), 0.5)
        self.assertEqual(stats.percentile(range(1, 21), 0.5), 10)

    def test_p99_nearest_rank(self):
        xs = list(range(1, 1001))
        self.assertEqual(stats.percentile(reversed(xs), 0.99), 990)


def span(i, parent, start, end, layer="x"):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end,
            "layer": layer}


class SelfTime(unittest.TestCase):
    def test_leaf_keeps_its_duration(self):
        self.assertEqual(stats.self_times([span(0, -1, 10, 30)]), {0: 20})

    def test_children_subtracted(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 20), span(2, 0, 50, 80)]
        self.assertEqual(stats.self_times(spans)[0], 60)

    def test_overlapping_children_counted_once(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 50), span(2, 0, 40, 60)]
        self.assertEqual(stats.self_times(spans)[0], 50)

    def test_child_clipped_to_parent(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 90, 130)]
        self.assertEqual(stats.self_times(spans)[0], 90)

    def test_grandchild_only_charged_to_its_parent(self):
        spans = [span(0, -1, 0, 100, "etl"), span(1, 0, 0, 60, "etl"),
                 span(2, 1, 0, 20, "engine")]
        own = stats.self_times(spans)
        self.assertEqual((own[0], own[1], own[2]), (40, 40, 20))


def rung(rate, p99, latencies):
    return {"rate": rate, "p99_ms": p99, "grows": stats.backlog_grows(latencies)}


class SustainedRate(unittest.TestCase):
    FLAT = [1200.0, 2400.0, 1800.0] * 100

    def test_flat_latency_is_not_growth(self):
        self.assertFalse(stats.backlog_grows(self.FLAT))

    def test_climbing_latency_is_growth(self):
        self.assertTrue(stats.backlog_grows([1000.0 + 10 * i for i in range(300)]))

    def test_highest_sustained_rung_wins(self):
        ladder = [rung(500, 2500, self.FLAT), rung(2000, 2900, self.FLAT),
                  rung(8000, 9000, [1000.0 + 40 * i for i in range(300)])]
        self.assertEqual(stats.sustained(ladder, 5000)["rate"], 2000)

    def test_latency_limit_disqualifies(self):
        ladder = [rung(500, 2500, self.FLAT), rung(2000, 6000, self.FLAT)]
        self.assertEqual(stats.sustained(ladder, 5000)["rate"], 500)

    def test_growing_backlog_disqualifies_even_under_limit(self):
        ladder = [rung(500, 2500, self.FLAT),
                  rung(2000, 4000, [1000.0 + 10 * i for i in range(300)])]
        self.assertEqual(stats.sustained(ladder, 5000)["rate"], 500)

    def test_unsupported_p99_disqualifies(self):
        self.assertIsNone(stats.sustained([rung(500, None, self.FLAT)], 5000))


if __name__ == "__main__":
    unittest.main()
