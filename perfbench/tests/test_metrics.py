"""Tests of the benchmark's own logic. Run from the root of a checkout:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import random
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa  # noqa: E402

import gen  # noqa: E402
import metrics as M  # noqa: E402


class TailPercentileTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        xs = list(range(1, 101))
        random.Random(0).shuffle(xs)
        self.assertEqual(M.tail(xs), (90.0, 90, 100, 10))

    def test_more_samples_allow_a_higher_percentile(self):
        self.assertEqual(M.tail(list(range(1, 1001)))[:2], (99.0, 990))

    def test_cap_limits_the_ladder(self):
        self.assertEqual(M.tail(list(range(1, 1001)), cap=75.0)[:2], (75.0, 750))

    def test_too_few_samples_gives_none(self):
        self.assertIsNone(M.tail(list(range(15))))
        self.assertEqual(M.tail(list(range(1, 21)))[:2], (50.0, 10))

    def test_cap_follows_the_minimum_sample_count(self):
        self.assertEqual(M.tail_cap(40), 75.0)
        self.assertEqual(M.tail_cap(30), 66.0)
        self.assertEqual(M.tail_cap(100), 90.0)
        self.assertEqual(M.tail_cap(99), 75.0)
        self.assertEqual(M.tail_cap(5), 50.0)

    def test_ties_do_not_count_as_beyond(self):
        # 90 equal samples and 10 larger: p90 is the tie value, 10 beyond
        xs = [1.0] * 90 + [2.0] * 10
        self.assertEqual(M.tail(xs)[:2], (90.0, 1.0))
        # with 9 larger ones, p90 has only 9 beyond; p75 has the same 9
        self.assertIsNone(M.tail([1.0] * 91 + [2.0] * 9))


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a = gen.catalog_tables(0.001, 7)
        b = gen.catalog_tables(0.001, 7)
        self.assertEqual(sorted(a), sorted(gen.TABLES))
        for name in gen.TABLES:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_other_seed_other_tables(self):
        a = gen.catalog_tables(0.001, 7, ["lineitem", "documents"])
        b = gen.catalog_tables(0.001, 8, ["lineitem", "documents"])
        self.assertFalse(a["lineitem"].equals(b["lineitem"]))
        self.assertFalse(a["documents"].equals(b["documents"]))

    def test_export_rows_deterministic_with_nulls(self):
        a, b = gen.export_rows(500, 3), gen.export_rows(500, 3)
        self.assertEqual(a, b)
        self.assertNotEqual(a, gen.export_rows(500, 4))
        for c, _ in gen.EXPORT_COLUMNS[1:]:
            self.assertIn(None, a[c], c)
        self.assertNotIn(None, a["ID"])


class ExportHashTest(unittest.TestCase):
    def setUp(self):
        self.cols = gen.export_rows(300, 11)

    def test_row_order_does_not_matter(self):
        t = gen.export_expected(self.cols, False)
        rev = t.take(pa.array(range(t.num_rows - 1, -1, -1)))
        self.assertEqual(M.content_hash(t), M.content_hash(rev))

    def test_dropped_row_is_caught(self):
        t = gen.export_expected(self.cols, False)
        self.assertNotEqual(M.content_hash(t), M.content_hash(t.slice(1)))
        # same count, one row duplicated in place of another
        dup = pa.concat_tables([t.slice(0, t.num_rows - 1), t.slice(0, 1)])
        self.assertEqual(dup.num_rows, t.num_rows)
        self.assertNotEqual(M.content_hash(t), M.content_hash(dup))

    def test_compat_null_must_be_empty_string(self):
        want = gen.export_expected(self.cols, True)
        i = self.cols["C_STR"].index(None)
        self.assertEqual(want.column("C_STR")[i].as_py(), "")
        # an output that kept the NULL instead of writing "" is wrong
        got = want.set_column(
            want.column_names.index("C_STR"), "C_STR",
            pa.array([None if k == i else v for k, v in
                      enumerate(want.column("C_STR").to_pylist())], pa.string()))
        self.assertNotEqual(M.content_hash(want), M.content_hash(got))

    def test_typed_and_compat_differ(self):
        self.assertNotEqual(M.content_hash(gen.export_expected(self.cols, False)),
                            M.content_hash(gen.export_expected(self.cols, True)))


class AggregateTest(unittest.TestCase):
    def test_all_query_executions_of_an_op_are_summed(self):
        recs = [
            # the build of op 3 in pass 0 runs two eager checkpoints ...
            {"k": "job", "span": "0.3.build", "job": 1, "stages": 1},
            {"k": "stage", "span": "0.3.build", "stage": 1, "tasks": 4, "task_dur_s": 0.5,
             "run_s": 0.4, "cpu_s": 0.3, "gc_s": 0.0, "input_b": 100,
             "shuffle_write_b": 10, "shuffle_read_b": 0, "spill_b": 0},
            {"k": "qe", "span": "0.3", "func": "localCheckpoint", "ok": True,
             "phases": {"analysis": 0.01, "optimization": 0.02, "planning": 0.03}},
            {"k": "job", "span": "0.3.build", "job": 2, "stages": 2},
            {"k": "qe", "span": "0.3", "func": "localCheckpoint", "ok": True,
             "phases": {"analysis": 0.01, "optimization": 0.01, "planning": 0.01}},
            # ... then the final write
            {"k": "job", "span": "0.3", "job": 3, "stages": 1},
            {"k": "stage", "span": "0.3", "stage": 3, "tasks": 2, "task_dur_s": 0.2,
             "run_s": 0.1, "cpu_s": 0.1, "gc_s": 0.01, "input_b": 0,
             "shuffle_write_b": 0, "shuffle_read_b": 10, "spill_b": 5},
            {"k": "qe", "span": "0.3", "func": "save", "ok": True,
             "phases": {"analysis": 0.1, "optimization": 0.1, "planning": 0.1,
                        "parsing": 9.0}},
            # another op's records stay apart
            {"k": "job", "span": "0.4", "job": 4, "stages": 1},
        ]
        agg = M.aggregate(recs)
        a = agg["0.3"]
        self.assertEqual(a["query_executions"], 3)
        self.assertAlmostEqual(a["catalyst_s"], 0.39)  # parsing is not a Catalyst phase
        self.assertEqual((a["jobs"], a["build_jobs"]), (3, 2))
        self.assertEqual((a["stages"], a["tasks"]), (2, 6))
        self.assertAlmostEqual(a["task_dur_s"] - a["run_s"], 0.2)
        self.assertEqual((a["input_b"], a["shuffle_write_b"], a["shuffle_read_b"],
                          a["spill_b"]), (100, 10, 10, 5))
        self.assertEqual(agg["0.4"]["jobs"], 1)


if __name__ == "__main__":
    unittest.main()
