"""Tests for the benchmark itself.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The counts test starts the driver JVM twice (about a minute); set
PERFBENCH_SKIP_JVM=1 to run only the fast tests.
"""
import os
import unittest

import pandas as pd

import check
import run


class CheckerTest(unittest.TestCase):
    def setUp(self):
        self.exp = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0], "s": ["a", "b", "c"]})

    def test_accepts_same_rows_in_any_order_and_column_order(self):
        got = self.exp.iloc[::-1][["v", "s", "k"]]
        self.assertEqual(check.compare(got, self.exp), "")

    def test_rejects_a_dropped_row(self):
        self.assertIn("rows", check.compare(self.exp.iloc[:2], self.exp))

    def test_rejects_a_changed_value(self):
        got = self.exp.copy()
        got.loc[1, "v"] = 1.2500000001
        self.assertIn("column v", check.compare(got, self.exp))

    def test_rejects_a_renamed_column(self):
        self.assertIn("columns", check.compare(self.exp.rename(columns={"s": "t"}), self.exp))

    def test_digest_is_order_free_but_sees_drops_and_changes(self):
        n, h = check.digest(self.exp)
        self.assertEqual(check.digest(self.exp.iloc[::-1]), (n, h))
        self.assertNotEqual(check.digest(self.exp.iloc[:2])[1], h)
        got = self.exp.copy()
        got.loc[0, "s"] = "z"
        self.assertNotEqual(check.digest(got)[1], h)

    def test_digest_covers_array_values(self):
        a = pd.DataFrame({"id": [1], "vec": [[1.0, 2.0]]})
        b = pd.DataFrame({"id": [1], "vec": [[1.0, 2.5]]})
        self.assertNotEqual(check.digest(a), check.digest(b))


class PlanTest(unittest.TestCase):
    def test_query_plan_follows_the_seed(self):
        self.assertEqual(run.query_plan(run.CURATION, 7), run.query_plan(run.CURATION, 7))
        self.assertNotEqual(run.query_plan(run.CURATION, 7), run.query_plan(run.CURATION, 8))

    def test_every_pass_runs_every_key_once(self):
        plan = run.query_plan(run.TPCH, 3, passes=5)
        timed = [a for ph, _, a in plan if ph == "T"]
        for p in range(5):
            keys = sorted(a["key"] for a in timed if a["block"] == str(p))
            self.assertEqual(keys, sorted(run.TPCH))

    def test_churn_plan_follows_the_seed(self):
        self.assertEqual(run.churn_plan(500, 500, 7, blocks=20),
                         run.churn_plan(500, 500, 7, blocks=20))
        self.assertNotEqual(run.churn_plan(500, 500, 7, blocks=20),
                            run.churn_plan(500, 500, 8, blocks=20))

    def test_churn_blocks_share_one_mix_and_delete_only_live_rows(self):
        plan = run.churn_plan(500, 500, 11, blocks=30)
        live = {i for i in range(500) if i % 10 != 9}
        for b in range(30):
            ops = [(k, a) for ph, k, a in plan if ph == "T" and a["block"] == str(b)]
            self.assertEqual(sorted(k for k, _ in ops), sorted(run.CHURN_BLOCK))
            self.assertEqual(sum(a.get("compact") == "1" for _, a in ops), 1)
            for k, a in ops:
                if k == "append":
                    live |= {int(p.split(":")[1]) for p in a["a"].split(",")}
                elif k == "delete":
                    ids = {int(i) for i in a["a"].split(",")}
                    self.assertTrue(ids <= live)
                    live -= ids


class MedianTest(unittest.TestCase):
    def test_hd_median_of_symmetric_and_constant_samples(self):
        self.assertAlmostEqual(run.hd_median([3.0]), 3.0)
        self.assertAlmostEqual(run.hd_median([2.0] * 16), 2.0)
        self.assertAlmostEqual(run.hd_median([5, 1, 4, 2, 3]), 3.0)
        self.assertAlmostEqual(run.hd_median(range(16)), 7.5)

    def test_hd_median_weighs_the_middle_ranks(self):
        xs = [1.0] * 8 + [2.0] * 8
        self.assertAlmostEqual(run.hd_median(xs), 1.5)
        # moving one value across the gap moves the sample median by 0.5,
        # this estimate by the weight of the 9th of 16 ranks (about 0.2)
        moved = [1.0] * 9 + [2.0] * 7
        self.assertLess(1.5 - run.hd_median(moved), 0.25)
        self.assertGreater(1.5 - run.hd_median(moved), 0.1)


class TailTest(unittest.TestCase):
    def test_tail_percentile_keeps_ten_samples_beyond(self):
        cases = {1: 50.0, 16: 50.0, 20: 50.0, 39: 50.0, 40: 75.0, 99: 75.0,
                 100: 90.0, 200: 95.0, 999: 95.0, 1000: 99.0, 10000: 99.9}
        for n, p in cases.items():
            self.assertEqual(run.tail_percentile(n), p, n)

    def test_tail_is_a_nearest_rank_percentile(self):
        xs = list(range(1, 41))
        self.assertEqual(run.tail(xs), (30, 75.0))


@unittest.skipIf(os.environ.get("PERFBENCH_SKIP_JVM") == "1", "JVM tests skipped")
class CountsTest(unittest.TestCase):
    """Job, stage and task counts of a traced operation repeat exactly."""

    def counts(self, tag):
        keys = ["q_tpch_q6", "q1_agg"]
        plan = ([("W", "query", {"key": k, "block": "-1"}) for k in keys]
                + [("T", "query", {"key": k, "block": "0"}) for k in keys])
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        res, _, _ = run.execute(root, "tpch", 0, 0, 1, plan=plan, tag=tag)
        return run.op_counts(res)

    def test_q6_and_q1_counts_repeat_across_traced_runs(self):
        first, second = self.counts("-a"), self.counts("-b")
        self.assertEqual(set(first), {"q_tpch_q6", "q1_agg"})
        self.assertTrue(all(c["jobs"] > 0 and c["tasks"] > 0 for c in first.values()))
        self.assertEqual(first, second)


if __name__ == "__main__":
    unittest.main()
