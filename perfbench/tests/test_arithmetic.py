"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import oracle  # noqa: E402
import spans  # noqa: E402


class IntervalUnion(unittest.TestCase):
    def test_disjoint_intervals_add(self):
        self.assertAlmostEqual(spans.union_length([(0, 1), (2, 4)]), 3)

    def test_overlap_counts_once(self):
        self.assertAlmostEqual(spans.union_length([(0, 3), (1, 2), (2.5, 5)]), 5)

    def test_touching_and_unsorted(self):
        self.assertAlmostEqual(spans.union_length([(3, 4), (0, 1), (1, 3)]), 4)

    def test_empty_and_degenerate(self):
        self.assertEqual(spans.union_length([]), 0.0)
        self.assertEqual(spans.union_length([(2, 2), (3, 1)]), 0.0)

    def test_clip(self):
        self.assertEqual(spans.clip([(0, 5), (6, 7), (9, 12)], 4, 10),
                         [(4, 5), (6, 7), (9, 10)])


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertAlmostEqual(spans.self_time(1, 4, []), 3)

    def test_overlapping_children_count_once(self):
        self.assertAlmostEqual(spans.self_time(0, 10, [(1, 4), (3, 6), (8, 9)]), 4)

    def test_children_outside_the_span_are_clipped(self):
        self.assertAlmostEqual(spans.self_time(0, 10, [(-5, 2), (9, 20)]), 7)


class CoreBusy(unittest.TestCase):
    def test_fully_busy(self):
        self.assertAlmostEqual(spans.core_busy(8.0, 2.0, 4), 1.0)

    def test_one_task_per_stage(self):
        self.assertAlmostEqual(spans.core_busy(2.0, 2.0, 4), 0.25)

    def test_no_jobs(self):
        self.assertEqual(spans.core_busy(0.0, 0.0, 4), 0.0)


def job_lines(job, tag, start_ms, end_ms, stage, tasks, task_ms):
    return [
        {"kind": "job_start", "job": job, "tag": tag, "ms": start_ms, "stages": [stage]},
        {"kind": "job_end", "job": job, "ms": end_ms},
        {"kind": "stage", "stage": stage, "job": job, "tasks": tasks, "task_ms": task_ms,
         "gc_ms": 0, "cpu_ns": 0, "shuffle_read": 0,
         "shuffle_write": 2_000_000, "input": 0, "spill": 0},
    ]


class LayerMetrics(unittest.TestCase):
    """A cold pass of two queries over 10 s: qa (Relational) builds a store
    for 2 s inside its build phase; qb (Dedup) runs two overlapping jobs."""

    def record(self):
        s = 1_000_000  # microseconds per second
        lines = [
            {"kind": "setup", "main_us": 90 * s, "session_us": 95 * s, "end_us": 99 * s},
            {"kind": "pass", "pass": "cold", "t0_us": 100 * s, "t1_us": 111 * s,
             "timed_us": 10 * s},
            {"kind": "query", "pass": "cold", "name": "qa", "t0_us": 100 * s,
             "t1_us": 104 * s, "t2_us": 106 * s, "error": None, "stores": {"st|x": 2.0}},
            {"kind": "query", "pass": "cold", "name": "qb", "t0_us": 106 * s,
             "t1_us": 107 * s, "t2_us": 110 * s, "error": None, "stores": {}},
            {"kind": "store", "label": "st|x", "end_us": 103 * s + 1000, "seconds": 2.0},
            {"kind": "plan", "start_ms": 106_000, "end_ms": 106_500, "ms": 500},
        ]
        lines += job_lines(0, "cold/qa", 101_500, 102_500, 0, 4, 4000)   # in the store
        lines += job_lines(1, "cold/qa", 104_000, 105_000, 1, 2, 1000)   # qa exec
        lines += job_lines(2, "cold/qb", 107_000, 109_000, 2, 4, 8000)   # qb exec
        lines += job_lines(3, "cold/qb", 108_000, 110_000, 3, 1, 2000)   # overlaps 2
        lines += job_lines(4, "check/qb", 120_000, 121_000, 4, 1, 1000)  # not timed
        lines.append({"kind": "memory", "vmhwm_kb": 2048})
        lines.append({"kind": "end"})
        return spans.parse_record(lines)

    def test_engine_totals(self):
        m, _ = spans.layer_metrics(self.record(), "r", {"qa": "Relational", "qb": "Dedup"}, 4)
        self.assertEqual(m["scheduler.jobs"], 4)
        self.assertAlmostEqual(m["scheduler.job_wall_s"], 1 + 1 + 3)
        self.assertAlmostEqual(m["executor.task_s"], 15)
        self.assertAlmostEqual(m["executor.core_busy"], 15 / (5 * 4))
        self.assertAlmostEqual(m["driver.outside_jobs_s"], 5)
        self.assertAlmostEqual(m["driver.outside_jobs_frac"], 0.5)
        self.assertAlmostEqual(m["catalyst.plan_s"], 0.5)
        self.assertAlmostEqual(m["sources.store_build_s"], 2)
        self.assertAlmostEqual(m["scheduler.tasks_per_stage"], 11 / 4)

    def test_modules_partition_the_pass(self):
        m, _ = spans.layer_metrics(self.record(), "r", {"qa": "Relational", "qb": "Dedup"}, 4)
        wall = sum(m[f"{mod}.{f}"] for mod in spans.MODULES for f in ("build_s", "exec_s"))
        self.assertAlmostEqual(wall, 10, places=2)
        self.assertAlmostEqual(m["Sources.build_s"], 2, places=2)
        self.assertAlmostEqual(m["Relational.build_s"], 2, places=2)
        self.assertEqual(m["Sources.jobs"], 1)
        self.assertEqual(m["Relational.jobs"], 1)
        self.assertEqual(m["Dedup.jobs"], 2)
        self.assertAlmostEqual(m["Dedup.shuffle_mb"], 4)
        # qb: 4 s of wall, 3 s of jobs, 0.5 s of planning outside them
        self.assertAlmostEqual(m["Dedup.driver_s"], 0.5, places=2)
        # qa: 6 s of wall, 2 s in the store, 1 s of its own job
        self.assertAlmostEqual(m["Relational.driver_s"], 3, places=2)
        # the store: 2 s with one 1 s job
        self.assertAlmostEqual(m["Sources.driver_s"], 1, places=2)

    def test_spans_link_to_parents_and_share_the_run(self):
        _, sp = spans.layer_metrics(self.record(), "run-1", {"qa": "Relational", "qb": "Dedup"}, 4)
        by_id = {s["id"]: s for s in sp}
        self.assertTrue(all(s["run"] == "run-1" for s in sp))
        job0 = next(s for s in sp if s["kind"] == "job" and s["name"] == "0")
        self.assertEqual(by_id[job0["parent"]]["kind"], "store")
        query_a = next(s for s in sp if s["kind"] == "query" and s["name"] == "qa")
        self.assertAlmostEqual(query_a["self"], 0)  # build and exec cover it
        self.assertFalse(any(s["kind"] == "job" and s["name"] == "4" for s in sp))
        run = next(s for s in sp if s["kind"] == "run")
        cold = next(s for s in sp if s["kind"] == "pass")
        self.assertEqual(cold["parent"], run["id"])
        self.assertEqual(by_id[query_a["parent"]]["kind"], "pass")


class Canonicalisation(unittest.TestCase):
    def frame(self, cols):
        import pandas as pd
        return pd.DataFrame(cols)

    def test_column_and_row_order_do_not_matter(self):
        a = self.frame({"b": [2, 1], "a": ["x", "y"]})
        b = self.frame({"a": ["y", "x"], "b": [1, 2]})
        self.assertIsNone(oracle.compare(oracle.digest(a), oracle.digest(b)))

    def test_floats_compare_at_six_significant_digits(self):
        a = self.frame({"v": [1.0000001, 123456.71]})
        b = self.frame({"v": [1.0000002, 123456.69]})
        self.assertIsNone(oracle.compare(oracle.digest(a), oracle.digest(b)))
        c = self.frame({"v": [1.00001, 123456.7]})
        self.assertIn("differ", oracle.compare(oracle.digest(a), oracle.digest(c)))

    def test_null_renders_as_null(self):
        self.assertEqual(oracle.render_cell(None), "NULL")
        self.assertEqual(oracle.render_cell(0.1 + 0.2), "0.3")

    def test_row_count_and_columns_reported(self):
        a = self.frame({"a": [1, 2]})
        self.assertIn("rows", oracle.compare(oracle.digest(a), oracle.digest(a.head(1))))
        b = self.frame({"b": [1, 2]})
        self.assertIn("columns", oracle.compare(oracle.digest(a), oracle.digest(b)))

    def test_duplicate_rows_count(self):
        a = self.frame({"a": [1, 1, 2]})
        b = self.frame({"a": [1, 2, 2]})
        self.assertIsNotNone(oracle.compare(oracle.digest(a), oracle.digest(b)))


if __name__ == "__main__":
    unittest.main()
