"""Tests for span_tree.py on a small fixture span file.

    python3 -m unittest discover -s scripts -p 'test_span_tree.py'
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import span_tree  # noqa: E402


def span(id_, parent, name, kind, t0, t1, **attrs):
    return {"id": id_, "parent": parent, "name": name, "kind": kind,
            "start_us": t0, "end_us": t1, "attrs": attrs,
            "self_s": 0.0}


# one round with two ops: a read whose SQL execution ran two jobs and
# which ran one job outside any execution, and a write with one
# execution of one job
FIXTURE = [
    span(1, 0, "round 0", "round", 0, 5_000_000),
    span(2, 1, "ann", "serve.read", 0, 1_000_000, op=True),
    span(3, 2, "ann", "ext.ann", 0, 900_000),
    span(4, 3, "sql 7", "spark.sql", 100_000, 600_000, planning_ms=12,
         broadcasts=1, description="collect at VectorIndex.scala:10"),
    span(5, 4, "job 1", "spark.job", 150_000, 350_000),
    span(6, 4, "job 2", "spark.job", 350_000, 550_000),
    span(7, 3, "job 3", "spark.job", 700_000, 800_000),
    span(8, 1, "update", "serve.write", 2_000_000, 4_000_000, op=True),
    span(9, 8, "sql 8", "spark.sql", 2_100_000, 3_000_000, planning_ms=30,
         broadcasts=0, description="parquet at VectorIndex.scala:20"),
    span(10, 9, "job 4", "spark.job", 2_200_000, 2_900_000),
]


class SpanTreeTest(unittest.TestCase):

    def setUp(self):
        fd, self.path = tempfile.mkstemp(suffix=".spans.json")
        with os.fdopen(fd, "w") as f:
            json.dump(FIXTURE, f)

    def tearDown(self):
        os.remove(self.path)

    def test_tree_lists_each_op_with_its_executions_and_loose_jobs(self):
        out = io.StringIO()
        span_tree.tree(span_tree.load(self.path), out)
        lines = out.getvalue().splitlines()
        self.assertEqual(lines[0], "ann [serve.read] 1.000s: 1 sql, 3 jobs "
                         "0.500s, planning 12ms, 1 broadcasts")
        self.assertEqual(lines[1], "  sql collect at VectorIndex.scala:10: "
                         "2 jobs 0.400s, planning 12ms, 1 broadcasts")
        self.assertEqual(lines[2], "  outside any sql: 1 jobs 0.100s")
        self.assertEqual(lines[3], "update [serve.write] 2.000s: 1 sql, "
                         "1 jobs 0.700s, planning 30ms, 0 broadcasts")
        self.assertEqual(len(lines), 5)

    def test_diff_prints_per_op_deltas(self):
        after = [dict(s) for s in FIXTURE if s["id"] not in (6, 7)]
        means = span_tree.per_op_means(after)
        self.assertEqual(means["ann"]["jobs"], 1)
        self.assertAlmostEqual(means["ann"]["job_s"], 0.2)
        out = io.StringIO()
        span_tree.diff(FIXTURE, after, out)
        rows = {l.split()[0]: l.split()[1:]
                for l in out.getvalue().splitlines()[1:]}
        # jobs: 3 -> 1, delta -2; update unchanged
        self.assertEqual(rows["ann"][6:9], ["3.000", "1.000", "-2.000"])
        self.assertEqual(rows["update"][6:9], ["1.000", "1.000", "+0.000"])

    def test_main_requires_an_input(self):
        out, err = io.StringIO(), io.StringIO()
        with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
            with self.assertRaises(SystemExit):
                span_tree.main([])
            self.assertEqual(span_tree.main([self.path]), 0)
        self.assertIn("give a span file", err.getvalue())
        self.assertTrue(out.getvalue().startswith("ann [serve.read]"))


if __name__ == "__main__":
    unittest.main()
