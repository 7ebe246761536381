"""Tests for how batch passes become end-to-end metrics.
Run: python3 -m unittest discover perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


def pass_(phase, seconds, ok=(True, True)):
    return {"phase": phase, "s": seconds, "memo": [],
            "ops": [{"name": f"op{i}", "ok": k} for i, k in enumerate(ok)]}


def result(passes):
    return {"passes": passes, "ops": ["op0", "op1"], "heap_peak_mb": 100.0}


class BatchPasses(unittest.TestCase):
    def test_first_pass_is_not_a_cold_sample_when_cold_passes_follow(self):
        m = metrics.batch(result([pass_("first", 20.0), pass_("cold", 8.0),
                                  pass_("cold", 7.0), pass_("warm", 2.0)]), False)
        self.assertEqual(m.end_to_end["cold_pass_s"][0], 7.5)

    def test_lone_cold_pass_is_the_cold_sample(self):
        m = metrics.batch(result([pass_("cold", 20.0), pass_("warm", 9.0)]), False)
        self.assertEqual(m.end_to_end["cold_pass_s"][0], 20.0)

    def test_warm_metrics_use_the_median_pass(self):
        m = metrics.batch(result([pass_("cold", 8.0), pass_("warm", 3.0),
                                  pass_("warm", 2.0), pass_("warm", 1.0)]), False)
        self.assertEqual(m.end_to_end["warm_pass_s"][0], 2.0)
        self.assertEqual(m.end_to_end["ops_per_s"][0], 1.0)

    def test_every_op_run_is_attempted_and_failures_counted(self):
        m = metrics.batch(result([pass_("first", 20.0, (True, False)),
                                  pass_("cold", 8.0), pass_("warm", 2.0)]), False)
        self.assertEqual((m.attempted, m.failed), (6, 1))


if __name__ == "__main__":
    unittest.main()
