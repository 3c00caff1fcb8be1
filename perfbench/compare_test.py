#!/usr/bin/env python3
"""Self-test of perfbench/compare.py: python3 perfbench/compare_test.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import compare  # noqa: E402

BENCH = {
    "end_to_end": [{"name": "pass_s", "unit": "s", "better": "lower", "bound": 0.1}],
    "per_layer": [{"name": "sources.records_read", "unit": "count", "better": "higher"}],
}


def runs(values, workload="relational", trace=0, metric="pass_s", failed=0):
    section = "per_layer" if trace else "end_to_end"
    return [{"workload": workload, "seed": i, "trace": trace, "attempted": 10,
             "failed": failed, "end_to_end": {}, "per_layer": {},
             section: {metric: v}} for i, v in enumerate(values)]


def verdicts(base, new):
    rows, _ = compare.compare(base, new, BENCH)
    return {(r[0], r[1]): r[7] for r in rows}


class CompareTest(unittest.TestCase):
    steady = [10.0, 10.1, 9.9, 10.05, 9.95, 10.0, 10.1, 9.9, 10.02, 9.98]

    def test_improved_when_nine_tenths_win_beyond_spread(self):
        new = [v * 0.8 for v in self.steady]
        self.assertEqual(verdicts(runs(self.steady), runs(new))[("relational", "pass_s")], "improved")

    def test_unchanged_within_bound(self):
        new = [v * 1.03 for v in self.steady]
        self.assertEqual(verdicts(runs(self.steady), runs(new))[("relational", "pass_s")], "unchanged")

    def test_worse_beyond_bound(self):
        new = [v * 1.2 for v in self.steady]
        self.assertEqual(verdicts(runs(self.steady), runs(new))[("relational", "pass_s")], "worse")

    def test_unresolved_when_spread_exceeds_bound(self):
        noisy = [6.0, 14.0, 8.0, 12.0, 7.0, 13.0, 9.0, 11.0, 10.0, 10.0]
        new = [v * 1.05 for v in noisy]
        self.assertEqual(verdicts(runs(noisy), runs(new))[("relational", "pass_s")], "unresolved")

    def test_noisy_but_every_new_run_better_is_not_unresolved(self):
        noisy = [16.0, 24.0, 18.0, 22.0, 17.0, 23.0, 19.0, 21.0, 20.0, 20.0]
        new = [5.0] * 10
        self.assertEqual(verdicts(runs(noisy), runs(new))[("relational", "pass_s")], "improved")

    def test_pairs_by_seed(self):
        base = runs([1.0, 2.0, 3.0])
        new = runs([0.5, 1.5, 2.5])
        new.reverse()
        _, wins, n = compare.verdict([(r, r["end_to_end"]["pass_s"]) for r in base],
                                     [(r, r["end_to_end"]["pass_s"]) for r in new], "lower", 0.1)
        self.assertEqual((wins, n), (3, 3))

    def test_higher_is_better(self):
        base = runs([100.0] * 10, trace=1, metric="sources.records_read")
        new = runs([120.0] * 10, trace=1, metric="sources.records_read")
        self.assertEqual(verdicts(base, new)[("relational", "sources.records_read")], "improved")

    def test_counts_repeat(self):
        base = runs([100.0] * 3, trace=1, metric="sources.records_read")
        _, notes = compare.compare(base, base, BENCH)
        self.assertIn("relational sources.records_read: repeats exactly", notes)
        other = runs([101.0] * 3, trace=1, metric="sources.records_read")
        _, notes = compare.compare(base, other, BENCH)
        self.assertTrue(any("differs between runs" in n for n in notes))

    def test_each_workload_has_its_own_row(self):
        base = runs(self.steady) + runs(self.steady, workload="build")
        new = runs(self.steady) + runs([v * 1.5 for v in self.steady], workload="build")
        v = verdicts(base, new)
        self.assertEqual(v[("relational", "pass_s")], "unchanged")
        self.assertEqual(v[("build", "pass_s")], "worse")


if __name__ == "__main__":
    unittest.main()
