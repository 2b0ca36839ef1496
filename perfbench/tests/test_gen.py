"""Tests of the daily_load generator: python3 -m unittest discover perfbench/tests"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import gen  # noqa: E402


class Landing:
    """Payloads of one seed in a temporary directory."""

    def __init__(self, seed):
        self._tmp = tempfile.TemporaryDirectory()
        self.dir = self._tmp.name
        self.days = gen.write(self.dir, seed)


def tree_equal(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    same, diff, err = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not diff and not err and all(tree_equal(os.path.join(a, s), os.path.join(b, s))
                                        for s in cmp.common_dirs)


class GenTest(unittest.TestCase):

    def test_same_seed_same_inputs(self):
        a, b = Landing(5), Landing(5)
        self.assertEqual(a.days, b.days)
        self.assertTrue(tree_equal(a.dir, b.dir))

    def test_other_seed_other_inputs(self):
        a, b = Landing(5), Landing(6)
        self.assertFalse(tree_equal(a.dir, b.dir))

    def test_pass_crosses_a_month_boundary(self):
        for seed in range(50):
            bootstrap, days = gen.plan(seed)
            self.assertLess(bootstrap, days[0])
            self.assertEqual(days, sorted(days))
            self.assertGreater(len({d.strftime("%Y-%m") for d in days}), 1)

    def test_payload_grammar(self):
        land = Landing(3)
        day = land.days[-1].isoformat()
        av = open(os.path.join(land.dir, day, "alphavantage", "AAPL.csv")).read().splitlines()
        yh = open(os.path.join(land.dir, day, "yahoofinance", "AAPL.csv")).read().splitlines()
        self.assertEqual(av[0], gen.AV_HEADER)
        self.assertEqual(yh[0], gen.YAHOO_HEADER)
        self.assertEqual(len(set(av[1:])), gen.AV_COMPACT_DAYS)
        self.assertTrue(all(len(r.split(",")) == 6 for r in av[1:]))
        self.assertTrue(all(r.split(",")[0].endswith(" 00:00:00") for r in yh[1:]))

    def test_nulls_duplicates_and_restatements_occur(self):
        seed = 3
        bootstrap, days = gen.plan(seed)
        rows = {}
        nulls = dups = 0
        for s in gen.SYMBOLS:
            h = gen._history(seed, s, days[-1])
            for day in [bootstrap] + days:
                for d, r in gen.payload_rows(seed, s, "alphavantage", day, h):
                    nulls += r[0] is None or r[4] is None
                    dups += r[5] > 1
                    rows.setdefault((s, d), set()).add(r[3])
        self.assertGreater(nulls, 0)
        self.assertGreater(dups, 0)
        self.assertTrue(any(len(closes) > 1 for closes in rows.values()))

    def test_expected_table_keeps_the_latest_landing(self):
        seed = 3
        bootstrap, days = gen.plan(seed)
        runs = [bootstrap] + days
        table = gen.expected_table(seed, len(runs) - 1)
        for s in gen.SYMBOLS:
            h = gen._history(seed, s, days[-1])
            last = {d: r for day in runs
                    for d, r in gen.payload_rows(seed, s, "alphavantage", day, h)}
            for d, r in last.items():
                self.assertEqual(table[(d.isoformat(), s, "alpha_vantage")]["close"], r[3])

    def test_spark_round_is_half_up_on_the_decimal_string(self):
        self.assertEqual(gen.spark_round2(2.675), 2.68)  # Python's round gives 2.67
        self.assertEqual(gen.spark_round2(-0.125), -0.13)
        self.assertEqual(gen.spark_round2(1.004999), 1.0)


if __name__ == "__main__":
    unittest.main()
