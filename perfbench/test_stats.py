"""Tests of the benchmark's own arithmetic: python3 -m unittest discover perfbench"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import compare  # noqa: E402
import stats  # noqa: E402


class DriverGapTest(unittest.TestCase):
    def test_union_of_overlapping_jobs(self):
        self.assertEqual(stats.driver_gap_ms(0, 100, [(10, 30), (20, 40), (60, 70)]), 60)

    def test_jobs_clipped_to_request(self):
        self.assertEqual(stats.driver_gap_ms(0, 100, [(-50, 10), (90, 150)]), 80)

    def test_no_jobs(self):
        self.assertEqual(stats.driver_gap_ms(5, 25, []), 20)


class SpreadTest(unittest.TestCase):
    def test_quartile_spread(self):
        med, q1, q3, spread = compare.spread([10, 10, 10, 10, 10, 10, 10, 10, 10, 10])
        self.assertEqual((med, spread), (10, 0))
        med, q1, q3, spread = compare.spread(list(range(1, 11)))
        self.assertAlmostEqual(spread, (q3 - q1) / med)

    def test_worse_respects_direction(self):
        self.assertAlmostEqual(compare.worse(100, 110, "lower"), 0.10)
        self.assertAlmostEqual(compare.worse(100, 90, "higher"), 0.10)
        self.assertLess(compare.worse(100, 90, "lower"), 0)


if __name__ == "__main__":
    unittest.main()
