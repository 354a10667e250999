"""Tests for the benchmark's own arithmetic: python3 -m unittest discover perfbench"""
import unittest

import metrics


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, p, beyond, n = metrics.tail(xs)
        self.assertEqual((value, beyond, n), (90, 10, 100))
        self.assertAlmostEqual(p, 90.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 6, 4, 0, 11, 10]
        self.assertEqual(metrics.tail(xs)[0], 1)
        self.assertEqual(metrics.tail(sorted(xs))[0], 1)

    def test_eleven_samples_is_the_minimum(self):
        value, p, beyond, n = metrics.tail(range(11))
        self.assertEqual((value, beyond), (0, 10))
        self.assertAlmostEqual(p, 100 / 11)

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(metrics.tail([3, 1, 2]), (3, 100.0, 0, 3))

    def test_typical_is_geometric_mean_of_kind_medians(self):
        self.assertAlmostEqual(metrics.typical({"a": [1, 9, 1], "b": [4]}), 2.0)
        self.assertEqual(metrics.typical({"db": [0.3, 0.1, 0.2]}), 0.2)
        with self.assertRaises(ValueError):
            metrics.typical({})

    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_once(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)

    def test_union_of_nested_and_touching(self):
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_union_ignores_empty(self):
        self.assertEqual(metrics.union_length([(5, 5), (7, 6)]), 0)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_time_subtracts_covered_part_once(self):
        # children overlap each other and spill past the parent's end
        self.assertEqual(metrics.self_time(0, 100, [(10, 40), (30, 50), (90, 130)]), 50)

    def test_self_time_without_children(self):
        self.assertEqual(metrics.self_time(3, 8, []), 5)

    def test_lock_wait_is_sum_minus_union(self):
        # three calls serialized on one lock: 4 + 4 + 4 of call time,
        # 8 of wall time covered, so 4 spent waiting
        self.assertEqual(metrics.lock_wait([(0, 4), (2, 6), (4, 8)]), 4)

    def test_lock_wait_of_disjoint_calls_is_zero(self):
        self.assertEqual(metrics.lock_wait([(0, 1), (2, 3)]), 0)


def span(i, parent, kind, start, end, **attrs):
    return {"id": i, "parent": parent, "name": kind, "kind": kind,
            "start_us": start, "end_us": end, "attrs": attrs}


class SpanMetricsTest(unittest.TestCase):
    def run_of(self, spans, **counters):
        return {"workload": "backup_cycle", "t0_us": 0, "run_start_us": 1_000_000,
                "heap_peak_mb": 100.0, "counters": counters, "spans": spans}

    def test_jobs_are_attributed_to_their_op_through_layer_spans(self):
        s = 1_000_000
        spans = [
            span(1, 0, "round", s, s + 10_000_000),
            span(2, 1, "backup.full", s, s + 4_000_000, op=True),
            span(3, 2, "engine.export", s + 1_000_000, s + 3_000_000, table="t", rows=50),
            span(4, 3, "spark.sql", s + 1_000_000, s + 2_000_000, planning_ms=7, broadcasts=2),
            span(5, 4, "spark.job", s + 1_000_000, s + 2_000_000, tasks=4, task_ms=2000,
                 input_records=200, stages=2),
            span(6, 3, "spark.job", s + 1_500_000, s + 2_500_000, tasks=2, task_ms=1000,
                 input_records=0, stages=1),
            span(7, 2, "catalog.record", s + 3_000_000, s + 3_500_000, table="t"),
            span(8, 1, "catalog.db", s + 5_000_000, s + 5_200_000, op=True),
            span(9, 8, "catalog.read", s + 5_000_000, s + 5_200_000),
        ]
        m = metrics.per_layer(self.run_of(spans, source_bytes=100.0, backup_bytes=50.0), 4)
        self.assertEqual(m["spark.jobs"], 1.0)  # 2 jobs over 2 ops
        self.assertEqual(m["spark.broadcasts"], 1.0)
        self.assertAlmostEqual(m["spark.job_s"], 0.75)  # union 1.5 s over 2 ops
        self.assertAlmostEqual(m["spark.driver_s"], (4.0 - 1.5 + 0.2) / 2)
        self.assertAlmostEqual(m["spark.slot_idle_frac"], 1 - 3.0 / (1.5 * 4))
        self.assertEqual(m["orchestrate.jobs"], 1)
        self.assertAlmostEqual(m["orchestrate.queue_wait_s"], 1.0)
        self.assertAlmostEqual(m["orchestrate.in_flight_mean"], 2.0 / 4.0)
        self.assertAlmostEqual(m["engine.scan_useful_ratio"], 50 / 200)
        self.assertAlmostEqual(m["backup.bytes_ratio"], 0.5)
        self.assertAlmostEqual(m["catalog.read_ms"], 200.0)

    def test_end_to_end_uses_timed_spans_only(self):
        s = 1_000_000
        spans = [span(1, 0, "catalog.db", 0, 500_000, op=True),  # during setup
                 span(2, 0, "round", s, s + 5_000_000),
                 span(3, 2, "backup.full", s, s + 2_000_000, op=True),
                 span(4, 3, "engine.export", s, s + 2_000_000, table="t"),
                 span(5, 2, "check", s + 2_000_000, s + 2_900_000, op=True)]
        spans += [span(10 + i, 2, "catalog.db", s + 3_000_000 + i * 100_000,
                       s + 3_100_000 + i * 100_000, op=True) for i in range(11)]
        m = metrics.end_to_end(self.run_of(spans))
        self.assertAlmostEqual(m["setup_s"], 1.0)
        self.assertAlmostEqual(m["run_s"], 2.0 + 11 * 0.1)  # ops, not checks
        self.assertAlmostEqual(m["read_s"], 0.1)
        layer = metrics.per_layer(self.run_of(spans), 4)
        self.assertAlmostEqual(layer["ops.write_p50_s"], 2.0)
        self.assertAlmostEqual(layer["ops.tail_s"], 0.1)
        self.assertEqual((layer["ops.tail_p"], layer["ops.tail_n"]), (200 / 12, 12))

if __name__ == "__main__":
    unittest.main()
