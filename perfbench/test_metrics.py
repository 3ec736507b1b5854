"""Tests of the benchmark's own arithmetic and answer checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import shutil
import tempfile
import unittest

import duckdb

import datagen
import metrics as M
import run


class PercentileTest(unittest.TestCase):
    def test_interpolates(self):
        self.assertEqual(M.percentile([1, 2, 3, 4, 5], 50), 3)
        self.assertAlmostEqual(M.percentile([0, 10], 90), 9.0)

    def test_refuses_p90_with_fewer_than_ten_beyond(self):
        with self.assertRaises(M.TooFewSamples):
            M.tail_percentile(list(range(50)), 90)  # 5 samples beyond p90

    def test_reports_p90_with_ten_beyond(self):
        v = M.tail_percentile(list(range(101)), 90)
        self.assertEqual(v, 90)
        self.assertEqual(sum(1 for x in range(101) if x > v), 10)


class IntervalTest(unittest.TestCase):
    def test_union_counts_overlaps_once(self):
        self.assertEqual(M.union_length([(0, 10), (5, 15), (20, 25)]), 20)

    def test_union_clips(self):
        self.assertEqual(M.union_length([(0, 10), (5, 15)], 2, 12), 10)

    def test_driver_gap(self):
        # Request 0..100; jobs cover 10..40 (overlapping pair) and 60..70.
        gap = M.driver_gap(0, 100, [(10, 30), (20, 40), (60, 70), (95, 120)])
        self.assertEqual(gap, 100 - (30 + 10 + 5))

    def test_gap_without_jobs_is_the_wall_time(self):
        self.assertEqual(M.driver_gap(5, 9, []), 4)


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children(self):
        spans = [
            {"id": "r", "parent": None, "name": "request", "start": 0, "end": 100},
            {"id": "a", "parent": "r", "name": "queries.build", "start": 10, "end": 50},
            {"id": "b", "parent": "r", "name": "exec.collect", "start": 40, "end": 80},
            {"id": "j", "parent": "b", "name": "exec.job", "start": 45, "end": 60},
            {"id": "k", "parent": "b", "name": "exec.job", "start": 55, "end": 70},
        ]
        st = M.self_times(spans)
        self.assertEqual(st["request"], 100 - 70)       # children cover 10..80
        self.assertEqual(st["queries.build"], 40)
        self.assertEqual(st["exec.collect"], 40 - 25)   # jobs cover 45..70
        self.assertEqual(st["exec.job"], 15 + 15)


class AnswerTest(unittest.TestCase):
    ORACLE = (["k", "v"], [(1, 0.5), (2, None), (3, 2.25)])

    def test_same_rows_in_any_order(self):
        spark = [{"v": 2.25, "k": 3}, {"k": 1, "v": 0.5}, {"k": 2, "v": None}]
        self.assertIsNone(M.compare(spark, *self.ORACLE))

    def test_wrong_value_is_reported(self):
        spark = [{"k": 1, "v": 0.5}, {"k": 2, "v": None}, {"k": 3, "v": 2.5}]
        self.assertIn("column v", M.compare(spark, *self.ORACLE))

    def test_missing_row_is_reported(self):
        self.assertIn("rows", M.compare([{"k": 1, "v": 0.5}], *self.ORACLE))


class FailRatioTest(unittest.TestCase):
    def ops(self):
        return [{"id": "a", "rows": 3, "error": None},
                {"id": "a", "rows": 3, "error": None},
                {"id": "b", "rows": 2, "error": None},
                {"id": "b", "rows": 2, "error": None}]

    def test_all_correct(self):
        checks = {"a": {"rows": 3, "error": None},
                  "b": {"rows": 2, "error": None}}
        self.assertEqual(M.fail_ratio(4, M.count_failures(self.ops(), checks)), 0.0)

    def test_wrong_answer_counts_every_response_to_it(self):
        checks = {"a": {"rows": 3, "error": "row 0 column v: spark=1 oracle=2"},
                  "b": {"rows": 2, "error": None}}
        self.assertEqual(M.fail_ratio(4, M.count_failures(self.ops(), checks)), 0.5)

    def test_exception_and_row_count_mismatch(self):
        ops = self.ops()
        ops[0]["error"] = "SparkException: boom"
        ops[2]["rows"] = 1
        checks = {"a": {"rows": 3, "error": None},
                  "b": {"rows": 2, "error": None}}
        self.assertEqual(M.count_failures(ops, checks), 2)


class CheckAnswersTest(unittest.TestCase):
    """The real check path: DuckDB over generated tables, Spark's answer
    as Row.json lines. A deliberately wrong answer raises fail_ratio."""

    def setUp(self):
        os.makedirs(run.WORK, exist_ok=True)
        self.dir = tempfile.mkdtemp(dir=run.WORK)
        self.data = os.path.join(self.dir, "data")
        self.out = os.path.join(self.dir, "out")
        os.makedirs(os.path.join(self.out, "checks"))
        datagen.generate_tables(self.data, 5, 0.0002)
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as f:
            json.dump({"q_count": "SELECT count(*) AS n FROM customer"}, f)
        self.distinct = [{"id": "page1", "kind": "page", "page": 2, "size": 5},
                         {"id": "q_count", "kind": "query"}]
        con = duckdb.connect()
        cur = con.execute(f"SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM "
                          f"'{self.data}/customer.parquet' ORDER BY c_custkey LIMIT 5 OFFSET 5")
        cols = [d[0] for d in cur.description]
        self.page_rows = [dict(zip(cols, r)) for r in cur.fetchall()]
        self.n = con.execute(f"SELECT count(*) FROM '{self.data}/customer.parquet'").fetchone()[0]

    def tearDown(self):
        shutil.rmtree(self.dir)

    def answer(self, page_rows):
        for cid, rows in (("page1", page_rows), ("q_count", [{"n": self.n}])):
            with open(os.path.join(self.out, "checks", cid + ".jsonl"), "w") as f:
                f.writelines(json.dumps(r) + "\n" for r in rows)
        ops = [{"id": "page1", "rows": len(page_rows), "error": None},
               {"id": "q_count", "rows": 1, "error": None}]
        checks = run.check_answers(self.data, self.out, self.distinct, ops)
        return M.fail_ratio(len(ops), M.count_failures(ops, checks))

    def test_correct_answers_pass(self):
        self.assertEqual(self.answer(self.page_rows), 0.0)

    def test_wrong_answer_raises_fail_ratio(self):
        wrong = [dict(r) for r in self.page_rows]
        wrong[2]["c_acctbal"] += 0.01
        self.assertEqual(self.answer(wrong), 0.5)


if __name__ == "__main__":
    unittest.main()
