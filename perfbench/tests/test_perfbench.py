"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import datetime
import filecmp
import os
import statistics
import sys
import tempfile
import unittest

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen    # noqa: E402
import run    # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_matches_numpy_linear(self):
        rng = np.random.default_rng(3)
        for n in (1, 2, 5, 10, 101):
            xs = rng.random(n).tolist()
            for p in (0, 10, 50, 90, 99, 100):
                self.assertAlmostEqual(stats.percentile(xs, p),
                                       float(np.percentile(xs, p)), places=12)

    def test_small_cases(self):
        self.assertEqual(stats.percentile([5.0], 90), 5.0)
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertAlmostEqual(stats.percentile(list(range(11)), 90), 9.0)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class QuartileSpreadTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [10.0, 11.0, 9.5, 10.5, 12.0, 10.2, 9.9, 10.1, 10.8, 11.1]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.quartile_spread(xs), (q3 - q1) / med)

    def test_constant_values_have_no_spread(self):
        self.assertEqual(stats.quartile_spread([2.0] * 10), 0.0)


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end}


class SelfTimeTest(unittest.TestCase):
    def test_leaf_is_its_duration(self):
        self.assertEqual(stats.self_times([span(1, 0, 5, 9)]), {1: 4})

    def test_nested_children_are_subtracted_once(self):
        s = stats.self_times([span(1, 0, 0, 100), span(2, 1, 10, 30),
                              span(3, 1, 40, 70), span(4, 3, 45, 50)])
        self.assertEqual(s[1], 100 - 20 - 30)
        self.assertEqual(s[3], 30 - 5)  # a grandchild counts for its parent
        self.assertEqual(s[2], 20)
        self.assertEqual(s[4], 5)

    def test_overlapping_children_count_their_union(self):
        s = stats.self_times([span(1, 0, 0, 100), span(2, 1, 10, 50),
                              span(3, 1, 30, 60), span(4, 1, 55, 58)])
        self.assertEqual(s[1], 100 - 50)

    def test_children_past_the_parent_are_clipped(self):
        s = stats.self_times([span(1, 0, 10, 20), span(2, 1, 5, 15),
                              span(3, 1, 18, 40)])
        self.assertEqual(s[1], 10 - 5 - 2)

    def test_self_times_never_negative(self):
        s = stats.self_times([span(1, 0, 0, 10), span(2, 1, 0, 10),
                              span(3, 1, 0, 10)])
        self.assertEqual(s[1], 0)


class CanonicalHashTest(unittest.TestCase):
    df = pd.DataFrame({"b": [2.5, None, 1.0], "a": ["x", "y", "z"],
                       "t": pd.to_datetime(["2024-01-01", "2024-01-02", None])})

    def test_row_and_column_order_do_not_matter(self):
        shuffled = self.df.iloc[[2, 0, 1]][["t", "a", "b"]]
        self.assertEqual(stats.canonical_hash(self.df),
                         stats.canonical_hash(shuffled))

    def test_a_changed_value_changes_the_hash(self):
        other = self.df.copy()
        other.loc[0, "b"] = 2.5000000000000004
        self.assertNotEqual(stats.canonical_hash(self.df),
                            stats.canonical_hash(other))

    def test_a_renamed_column_changes_the_hash(self):
        self.assertNotEqual(stats.canonical_hash(self.df),
                            stats.canonical_hash(self.df.rename(columns={"a": "c"})))

    def test_render(self):
        self.assertEqual(stats.render(float("nan")), "null")
        self.assertEqual(stats.render(np.int32(7)), "7")
        self.assertEqual(stats.render([1.5, None]), "[1.5,null]")
        self.assertEqual(stats.render(datetime.date(2024, 1, 2)), "2024-01-02")
        self.assertEqual(stats.render(pd.Timestamp("2024-01-02 03:04:05.000006")),
                         "2024-01-02T03:04:05.000006")

    def test_compare_frames_follows_the_oracle_rules(self):
        a = pd.DataFrame({"n": [1, 2], "v": [0.5, 1.0]})
        b = pd.DataFrame({"v": [1.0, 0.5], "n": [2.0, 1.0]})
        self.assertIsNone(run.compare_frames(a, b))
        self.assertEqual(run.compare_frames(a, b.iloc[:1]), "rows 2 vs 1")
        self.assertEqual(run.compare_frames(a, b.assign(v=[1.0, 0.25])), "values")


class GeneratorDeterminismTest(unittest.TestCase):
    def tree(self, fn, seed):
        d = tempfile.mkdtemp(dir=self.tmp)
        truth = fn(d, seed)
        return d, truth

    def setUp(self):
        self._tmp = tempfile.TemporaryDirectory()
        self.tmp = self._tmp.name

    def tearDown(self):
        self._tmp.cleanup()

    def assertSameTree(self, a, b, same=True):
        files = []
        for d, _, fs in os.walk(a):
            files += [os.path.relpath(os.path.join(d, f), a) for f in fs]
        match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
        if same:
            self.assertEqual((mismatch, errors), ([], []))
        else:
            self.assertTrue(mismatch or errors)

    def check(self, fn):
        a, ta = self.tree(fn, 11)
        b, tb = self.tree(fn, 11)
        c, tc = self.tree(fn, 12)
        self.assertSameTree(a, b)
        self.assertEqual(ta, tb)
        self.assertSameTree(a, c, same=False)
        return ta

    def test_pack_tables(self):
        truth = self.check(lambda d, s: gen.pack_tables(d, s, 0.001))
        self.assertEqual(truth["rows"]["lineitem"], 6000)
        reps = truth["doc_rep"]
        # each near-duplicate family is named by its first, smallest id
        self.assertTrue(all(reps[r] == r and r <= d for d, r in reps.items()))
        self.assertLess(len(set(reps.values())), len(reps))

    def test_nilm_trees(self):
        truth = self.check(lambda d, s: gen.nilm_trees(d, s, 1, 5))
        # 5 h = 600 buckets of 30 s per house -> one 512-row window
        self.assertEqual(set(truth["windows"].values()), {1})
        self.assertEqual(truth["rates"]["ukdale/1/channel_4"], 2)


if __name__ == "__main__":
    unittest.main()
