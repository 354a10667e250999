"""Tests for perf_ab.py's argument handling and its traced span diff.

    python3 -m unittest discover -s scripts -p 'test_perf_ab.py'
"""
import contextlib
import io
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import perf_ab  # noqa: E402
from test_span_tree import FIXTURE  # noqa: E402


class ArgsTest(unittest.TestCase):

    def test_traced_is_an_optional_seed(self):
        base = ["--parent", "HEAD~1", "--workload", "vector_serving",
                "--seeds", "1-3"]
        self.assertIsNone(perf_ab.parse_args(base).traced)
        self.assertEqual(perf_ab.parse_args(base + ["--traced", "1101"])
                         .traced, 1101)
        with contextlib.redirect_stderr(io.StringIO()):
            with self.assertRaises(SystemExit):
                perf_ab.parse_args(base + ["--traced", "x"])
            with self.assertRaises(SystemExit):
                perf_ab.parse_args(base + ["--traced"])

    def test_seeds_of_ranges_and_lists(self):
        self.assertEqual(perf_ab.seeds_of("301-303,307"), [301, 302, 303, 307])


class TracedDiffTest(unittest.TestCase):

    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.sides = {n: os.path.join(self.dir, n)
                      for n in ("parent", "change")}
        self.calls = []

    def tearDown(self):
        shutil.rmtree(self.dir)

    def fake_run(self, spans_by_side, result=None):
        """A run that leaves `spans_by_side[side]` as its span file."""
        def run(checkout, workload, seed, seconds, trace=0):
            self.calls.append((checkout, workload, seed, trace))
            side = os.path.basename(checkout)
            path = perf_ab.spans_file(checkout, workload, seed)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                json.dump(spans_by_side[side], f)
            return result or {"correct": True, "failed": 0, "metrics": {}}
        return run

    def test_one_traced_run_per_side_then_the_parent_to_change_diff(self):
        fewer = [s for s in FIXTURE if s["id"] not in (6, 7)]
        out = io.StringIO()
        err = perf_ab.traced_diff(
            self.sides, "vector_serving", 1101, 20, out,
            run=self.fake_run({"parent": FIXTURE, "change": fewer}))
        self.assertIsNone(err)
        self.assertEqual([(os.path.basename(c), s, t)
                          for c, _, s, t in self.calls],
                         [("parent", 1101, 1), ("change", 1101, 1)])
        text = out.getvalue()
        self.assertIn("seed 1101 (parent -> change)", text)
        rows = {l.split()[0]: l.split()[1:]
                for l in text.splitlines()[2:]}
        # the read's jobs: 3 -> 1
        self.assertEqual(rows["ann"][6:9], ["3.000", "1.000", "-2.000"])

    def test_a_failed_traced_run_is_reported_without_a_diff(self):
        out = io.StringIO()
        err = perf_ab.traced_diff(
            self.sides, "vector_serving", 7, 20, out,
            run=self.fake_run({"parent": FIXTURE, "change": FIXTURE},
                              {"correct": False, "failed": 1}))
        self.assertEqual(err, "parent traced run: failed ops")
        self.assertEqual(out.getvalue(), "")


if __name__ == "__main__":
    unittest.main()
