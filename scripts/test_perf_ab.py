"""Tests of perf_ab.py's summary arithmetic.

    python3 scripts/test_perf_ab.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import perf_ab  # noqa: E402

METRICS = [{"name": "t", "unit": "s", "better": "lower"},
           {"name": "hits", "unit": "ratio", "better": "higher"}]


def run(seed, pair, side, t=None, hits=None, failed=False):
    got = None if failed else {k: v for k, v in (("t", t), ("hits", hits))
                               if v is not None}
    return {"seed": seed, "pair": pair, "side": side, "metrics": got,
            "error": "exit 1" if failed else None}


class Summary(unittest.TestCase):
    def test_order_statistics_and_wins(self):
        runs = []
        for i, (p, c) in enumerate([(10, 8), (12, 9), (11, 11), (14, 7), (13, 15)]):
            runs += [run(1, i, "parent", t=p), run(1, i, "change", t=c)]
        row = perf_ab.summarise(runs, METRICS)[1]["t"]
        self.assertEqual(row["parent"], {"n": 5, "median": 12, "q1": 11, "q3": 13})
        self.assertEqual(row["change"], {"n": 5, "median": 9, "q1": 8, "q3": 11})
        self.assertEqual((row["won"], row["pairs"]), (3, 5))  # a tie is no win
        self.assertAlmostEqual(row["delta"], -0.25)
        self.assertTrue(row["beyond_iqr"])  # gain 3 > parent IQR 2

    def test_gain_within_parent_iqr_is_not_beyond_it(self):
        runs = []
        for i, (p, c) in enumerate([(10, 9), (14, 13), (12, 11)]):
            runs += [run(1, i, "parent", t=p), run(1, i, "change", t=c)]
        row = perf_ab.summarise(runs, METRICS)[1]["t"]
        self.assertEqual(row["won"], 3)
        self.assertFalse(row["beyond_iqr"])  # gain 1 < parent IQR 2

    def test_failed_run_enters_no_median_and_no_pair(self):
        runs = [run(1, 0, "parent", t=10), run(1, 0, "change", t=1, failed=True),
                run(1, 1, "change", t=9), run(1, 1, "parent", t=12),
                run(1, 2, "parent", t=500, failed=True), run(1, 2, "change", t=8)]
        row = perf_ab.summarise(runs, METRICS)[1]["t"]
        self.assertEqual(row["parent"]["n"], 2)
        self.assertEqual(row["parent"]["median"], 11)
        self.assertEqual(row["change"]["median"], 8.5)
        self.assertEqual((row["won"], row["pairs"]), (1, 1))

    def test_higher_is_better_and_seeds_apart(self):
        runs = [run(1, 0, "parent", hits=0.5), run(1, 0, "change", hits=0.75),
                run(7, 0, "parent", hits=0.5), run(7, 0, "change", hits=0.25)]
        s = perf_ab.summarise(runs, METRICS)
        self.assertEqual(sorted(s), [1, 7])
        self.assertEqual(s[1]["hits"]["won"], 1)
        self.assertTrue(s[1]["hits"]["beyond_iqr"])
        self.assertEqual(s[7]["hits"]["won"], 0)
        self.assertFalse(s[7]["hits"]["beyond_iqr"])
        # a metric no run reported has no sides and no pairs
        self.assertIsNone(s[1]["t"]["parent"])
        self.assertEqual(s[1]["t"]["pairs"], 0)
        self.assertNotIn("beyond_iqr", s[1]["t"])


if __name__ == "__main__":
    unittest.main()
