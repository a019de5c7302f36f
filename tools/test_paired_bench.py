"""Tests of paired_bench.py's summary and claim rule on synthetic samples
(no Spark, no benchmark run):

    python3 tools/test_paired_bench.py
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import paired_bench  # noqa: E402


def pairs_of(a, b):
    return list(zip(a, b))


class SummaryTest(unittest.TestCase):

    def test_quartiles_inclusive(self):
        self.assertEqual(paired_bench.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]), (2.0, 3.0, 4.0))
        self.assertEqual(paired_bench.quartiles([7.0]), (7.0, 7.0, 7.0))

    def test_lower_better_clear_win_meets_claim(self):
        a = [3.4, 3.5, 3.45, 3.47, 3.5, 3.44, 3.46, 3.48, 3.43, 3.49]
        b = [x * 0.8 for x in a]
        r = paired_bench.summarize(pairs_of(a, b), "lower")
        self.assertEqual((r["n"], r["wins"], r["ties"], r["losses"]), (10, 10, 0, 0))
        self.assertTrue(r["claim_met"])

    def test_higher_better_direction(self):
        a = [100.0 + i for i in range(10)]
        b = [x + 50 for x in a]
        self.assertTrue(paired_bench.summarize(pairs_of(a, b), "higher")["claim_met"])
        # the same samples read as lower-better are ten losses
        r = paired_bench.summarize(pairs_of(a, b), "lower")
        self.assertEqual((r["wins"], r["losses"]), (0, 10))
        self.assertFalse(r["claim_met"])

    def test_eight_of_ten_wins_is_not_a_claim(self):
        a = [10.0] * 10
        b = [5.0] * 8 + [11.0, 12.0]
        r = paired_bench.summarize(pairs_of(a, b), "lower")
        self.assertEqual((r["wins"], r["losses"]), (8, 2))
        self.assertFalse(r["claim_met"])

    def test_ties_count_for_neither_side(self):
        a = [10.0] * 10
        b = [5.0] * 9 + [10.0]
        r = paired_bench.summarize(pairs_of(a, b), "lower")
        self.assertEqual((r["wins"], r["ties"], r["losses"]), (9, 1, 0))
        self.assertTrue(r["claim_met"])  # 9 of 10 pairs won
        b = [5.0] * 8 + [10.0, 10.0]
        r = paired_bench.summarize(pairs_of(a, b), "lower")
        self.assertEqual((r["wins"], r["ties"]), (8, 2))
        self.assertFalse(r["claim_met"])

    def test_shift_within_parent_iqr_is_not_a_claim(self):
        # B wins every pair by a hair, but A's own runs spread far wider
        a = [10.0, 20.0, 30.0, 40.0, 50.0, 10.0, 20.0, 30.0, 40.0, 50.0]
        b = [x - 0.5 for x in a]
        r = paired_bench.summarize(pairs_of(a, b), "lower")
        self.assertEqual(r["wins"], 10)
        self.assertLess(r["shift"], r["iqr_a"])
        self.assertFalse(r["claim_met"])

    def test_fewer_than_ten_pairs_is_not_a_claim(self):
        a = [10.0] * 9
        b = [5.0] * 9
        r = paired_bench.summarize(pairs_of(a, b), "lower")
        self.assertEqual(r["wins"], 9)
        self.assertFalse(r["claim_met"])

    def test_undeclared_direction_counts_no_wins(self):
        r = paired_bench.summarize(pairs_of([1.0] * 10, [0.5] * 10), None)
        self.assertIsNone(r["wins"])
        self.assertFalse(r["claim_met"])
        self.assertIn("no declared direction", paired_bench.report(1, "x", None, r)[-1])

    def test_report_prints_quartiles_counts_and_claim(self):
        a = [3.4, 3.5, 3.45, 3.47, 3.5, 3.44, 3.46, 3.48, 3.43, 3.49]
        r = paired_bench.summarize(pairs_of(a, [x * 0.8 for x in a]), "lower")
        head, claim = paired_bench.report(1, "disk_mb", "lower", r)
        self.assertIn("A q1/med/q3=", head)
        self.assertIn("B won 10 tied 0 lost 0", head)
        self.assertTrue(claim.startswith("claim met disk_mb seed 1: yes"))

    def test_directions_come_from_benchmark_json(self):
        d = paired_bench.directions()
        self.assertEqual(d["disk_mb"], "lower")
        self.assertEqual(d["items_per_s"], "higher")
        self.assertEqual(d["op_s_p50"], "lower")

    def test_plan_alternates_which_side_goes_first(self):
        order = paired_bench.plan([1, 2], 2)
        self.assertEqual([s for p, seed, s in order if p == 0 and seed == 1], [0, 1])
        self.assertEqual([s for p, seed, s in order if p == 1 and seed == 1], [1, 0])


if __name__ == "__main__":
    unittest.main()
