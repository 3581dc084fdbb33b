"""Tests of the benchmark's own metric arithmetic.

Run from the repository root: python3 -m unittest discover -s perfbench
"""

import json
import os
import unittest

import metrics
import run


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(19))
        self.assertEqual(metrics.tail_percentile(20), 50.0)
        self.assertEqual(metrics.tail_percentile(99), 50.0)
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(999), 90.0)
        self.assertEqual(metrics.tail_percentile(1000), 99.0)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)

    def test_summary_reports_count_and_value(self):
        t = metrics.timing_summary([float(i) for i in range(1, 101)])
        self.assertEqual(t["n"], 100)
        self.assertEqual(t["median"], 50.5)
        self.assertEqual(t["pct"], 90.0)
        self.assertAlmostEqual(t["pct_value"], 90.1)

    def test_small_sample_has_no_percentile(self):
        t = metrics.timing_summary([3.0, 1.0, 2.0])
        self.assertEqual((t["n"], t["median"], t["pct"], t["pct_value"]), (3, 2.0, None, None))


class DriverTime(unittest.TestCase):
    def test_span_minus_union_of_jobs(self):
        # jobs [1,3] and [2,5] overlap: union [1,5] = 4 of the span [0,10]
        self.assertEqual(metrics.driver_time(0, 10, [(1, 3), (2, 5)]), 6)

    def test_jobs_clipped_to_span(self):
        self.assertEqual(metrics.driver_time(2, 6, [(0, 3), (5, 9)]), 2)

    def test_disjoint_and_nested_jobs(self):
        self.assertEqual(metrics.driver_time(0, 10, [(1, 2), (4, 8), (5, 6)]), 5)

    def test_no_jobs_is_all_driver(self):
        self.assertEqual(metrics.driver_time(3, 7, []), 4)

    def test_driver_plus_covered_is_wall(self):
        jobs = [(1.5, 2.25), (2.0, 4.0), (9.0, 12.0)]
        self.assertEqual(metrics.driver_time(0, 10, jobs) + metrics.covered(jobs, 0, 10), 10)

    def test_span_stats_attributes_jobs_started_inside(self):
        span = {"start": 100.4, "end": 200.0}
        jobs = [{"start": 100, "end": 150, "stages": [1]},   # same millisecond as the span start
                {"start": 90, "end": 120, "stages": [2]},    # started before the span: not its job
                {"start": 160, "end": 190, "stages": [3]}]
        stages = {
            1: {"tasks": 4, "task_max_ms": 30, "task_median_ms": 10, "submitted": 100, "completed": 150,
                "shuffle_write": 7, "input_bytes": 1},
            3: {"tasks": 2, "task_max_ms": 20, "task_median_ms": 20, "submitted": 160, "completed": 170,
                "shuffle_write": 5, "input_bytes": 2},
        }
        st = metrics.span_stats(span, jobs, stages)
        self.assertEqual(st["jobs"], 2)
        self.assertEqual(st["shuffle_bytes"], 12)
        self.assertEqual(st["skew"], 3.0)  # from stage 1, the longest-running one
        self.assertAlmostEqual(st["driver_s"], (99.6 - 49.6 - 30) / 1000.0)
        self.assertAlmostEqual(st["wall_s"], 0.0996)


class FailedShare(unittest.TestCase):
    def test_share(self):
        self.assertEqual(metrics.failed_share(8, 2), 0.25)
        self.assertEqual(metrics.failed_share(3, 0), 0.0)

    def test_rejects_impossible_counts(self):
        with self.assertRaises(ValueError):
            metrics.failed_share(0, 0)
        with self.assertRaises(ValueError):
            metrics.failed_share(2, 3)


class MeasuredOps(unittest.TestCase):
    OPS = [
        {"i": 0, "phase": "warmup", "ok": True, "wall_s": 20.0, "samples": {"x_s": [19.0]}},
        {"i": 1, "phase": "timed", "ok": False, "wall_s": 9.0, "samples": {"x_s": [8.0]}},
        {"i": 2, "phase": "timed", "ok": True, "wall_s": 12.0, "samples": {"x_s": [11.0]}},
        {"i": 3, "phase": "timed", "ok": True, "wall_s": 13.0, "samples": {"x_s": [12.0], "y": [1.0]}},
    ]

    def test_failed_and_warmup_ops_give_no_samples(self):
        ops = metrics.measured_ops(self.OPS, "timed")
        self.assertEqual([o["i"] for o in ops], [2, 3])
        self.assertEqual(metrics.op_samples(ops, "x_s"), [11.0, 12.0])
        self.assertEqual(metrics.op_samples(ops, "y"), [1.0])

    def test_no_fallback_to_another_phase(self):
        self.assertEqual(metrics.measured_ops(self.OPS, "traced"), [])

    def test_runner_refuses_a_run_without_a_measured_op(self):
        rec = {"ops": self.OPS[:2], "setup_s": [1.0], "probes": {"mem.retained_heap_mb": 1.0}}
        with self.assertRaises(run.BenchError):
            run.end_to_end(rec)


class Spread(unittest.TestCase):
    def test_iqr_over_median(self):
        values = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        q1, _, q3 = 2.75, 5.5, 8.25
        self.assertAlmostEqual(metrics.spread(values), (q3 - q1) / 5.5)


class BenchmarkFile(unittest.TestCase):
    def test_metric_lists_match_the_runner(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual([(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]],
                         [tuple(m) for m in run.END_TO_END])
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]],
                         [tuple(m) for m in run.PER_LAYER])
        self.assertEqual([w["name"] for w in bench["workloads"]], list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
