"""Unit tests for the summary arithmetic of tools/ab.py.

    python3 -m unittest tools/test_ab.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import ab  # noqa: E402


def res(v, failed=0, attempted=10, metric="build_p50_ms"):
    return {"failed": failed, "attempted": attempted,
            "metrics": {metric: {"value": v, "unit": "ms"}}}


def pairs_of(parent, change):
    return [{"parent": None if a is None else res(a), "change": None if b is None else res(b)}
            for a, b in zip(parent, change)]


class SeedsTest(unittest.TestCase):
    def test_ranges_and_lists(self):
        self.assertEqual(ab.parse_seeds("2001-2003"), [2001, 2002, 2003])
        self.assertEqual(ab.parse_seeds("7,9-10"), [7, 9, 10])


class SummaryTest(unittest.TestCase):
    def test_quartiles_are_inclusive(self):
        self.assertEqual(ab.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]), (2.0, 3.0, 4.0))
        self.assertEqual(ab.quartiles([7.0]), (7.0, 7.0, 7.0))

    def test_clear_gain_meets_the_rule(self):
        parent = [100.0 + i for i in range(10)]        # median 104.5, IQR 4.5
        change = [90.0 + i for i in range(10)]
        s = ab.summarize(pairs_of(parent, change), "build_p50_ms", "lower")
        self.assertEqual(s["wins"], 10)
        self.assertAlmostEqual(s["gap"], 10.0)
        self.assertAlmostEqual(s["parent_iqr"], 4.5)
        self.assertTrue(s["rule_met"])

    def test_eight_wins_of_ten_is_not_enough(self):
        parent = [100.0] * 10
        change = [90.0] * 8 + [110.0, 110.0]
        s = ab.summarize(pairs_of(parent, change), "build_p50_ms", "lower")
        self.assertEqual(s["wins"], 8)
        self.assertFalse(s["rule_met"])

    def test_ties_count_for_neither_side(self):
        s = ab.summarize(pairs_of([5.0] * 10, [5.0] * 10), "build_p50_ms", "lower")
        self.assertEqual(s["wins"], 0)
        self.assertEqual(s["gap"], 0.0)
        self.assertFalse(s["rule_met"])

    def test_gap_must_exceed_the_parent_iqr(self):
        parent = [100.0, 120.0] * 5                     # IQR 20
        change = [99.0, 119.0] * 5                      # wins 10/10, gap 1
        s = ab.summarize(pairs_of(parent, change), "build_p50_ms", "lower")
        self.assertEqual(s["wins"], 10)
        self.assertAlmostEqual(s["parent_iqr"], 20.0)
        self.assertFalse(s["rule_met"])

    def test_higher_is_better_flips_the_sign(self):
        s = ab.summarize(pairs_of([10.0] * 10, [12.0] * 10), "build_p50_ms", "higher")
        self.assertEqual(s["wins"], 10)
        self.assertEqual(s["gap"], 2.0)
        self.assertTrue(s["rule_met"])
        s = ab.summarize(pairs_of([10.0] * 10, [12.0] * 10), "build_p50_ms", "lower")
        self.assertEqual(s["wins"], 0)
        self.assertEqual(s["gap"], -2.0)

    def test_a_missing_run_is_no_win_but_stays_in_the_pairs(self):
        parent = [100.0] * 10
        change = [90.0] * 9 + [None]
        s = ab.summarize(pairs_of(parent, change), "build_p50_ms", "lower")
        self.assertEqual((s["wins"], s["pairs"]), (9, 10))
        self.assertTrue(s["rule_met"])                  # 9/10 wins, gap 10 > IQR 0
        self.assertEqual(s["change"]["median"], 90.0)

    def test_failures_sum_per_side(self):
        pairs = [{"parent": res(1.0, failed=1, attempted=76), "change": res(1.0, attempted=76)},
                 {"parent": res(1.0, attempted=76), "change": None}]
        self.assertEqual(ab.failures(pairs, "parent"), (1, 152, 0))
        self.assertEqual(ab.failures(pairs, "change"), (0, 76, 1))


if __name__ == "__main__":
    unittest.main()
