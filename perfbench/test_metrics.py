"""Tests of the benchmark's own arithmetic (metrics.py).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import unittest

import metrics


def span(i, parent, name, start, end, req=-1):
    return {"id": i, "parent": parent, "name": name, "start": start, "end": end, "req": req}


class IntervalUnion(unittest.TestCase):
    def test_disjoint_overlapping_and_nested(self):
        self.assertEqual(metrics.union_length([(0, 2), (5, 6)]), 3)
        self.assertEqual(metrics.union_length([(0, 4), (2, 6)]), 6)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(metrics.union_length([(3, 5), (0, 1), (1, 3)]), 5)

    def test_clipping_and_empty(self):
        self.assertEqual(metrics.union_length([(-5, 2), (8, 20)], 0, 10), 4)
        self.assertEqual(metrics.union_length([(12, 15)], 0, 10), 0)
        self.assertEqual(metrics.union_length([]), 0)

    def test_driver_gap_on_synthetic_job_windows(self):
        # a 10 ms window; jobs cover [1,3) and the overlapping pair [5,7)+[6,8)
        jobs = [{"start": 1, "end": 3}, {"start": 5, "end": 7}, {"start": 6, "end": 8}]
        busy, gap = metrics.driver_gap((0, 10), jobs)
        self.assertEqual((busy, gap), (5, 5))
        # a job running past the window's end counts only inside it
        busy, gap = metrics.driver_gap((0, 10), [{"start": 9, "end": 30}])
        self.assertEqual((busy, gap), (1, 9))


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        spans = [span(0, -1, "pass", 0, 100),
                 span(1, 0, "request", 10, 60, 0),
                 span(2, 1, "operators.build", 12, 40, 0),
                 span(3, 1, "operators.action", 40, 55, 0),
                 span(4, 0, "request", 60, 100, 1),
                 span(5, 4, "core.iterate", 60, 99, 1)]
        st = metrics.self_times(spans)
        self.assertEqual(st, {0: 10, 1: 7, 2: 28, 3: 15, 4: 1, 5: 39})
        # self times of a strictly nested tree add up to the root's duration
        self.assertEqual(sum(st.values()), 100)

    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, "pass", 0, 10), span(1, 0, "a", 1, 6), span(2, 0, "b", 4, 8)]
        self.assertEqual(metrics.self_times(spans)[0], 3)


class Aggregates(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([1, 100]), 10)
        self.assertAlmostEqual(metrics.geomean([2, 2, 2]), 2)
        with self.assertRaises(ValueError):
            metrics.geomean([])
        with self.assertRaises(ValueError):
            metrics.geomean([1, 0])

    def test_failed_frac_when_some_requests_throw(self):
        self.assertEqual(metrics.failed_frac(8, 0), 0)
        self.assertEqual(metrics.failed_frac(8, 2), 0.25)
        self.assertEqual(metrics.failed_frac(0, 0), 1.0)


def raw_run(traced):
    """Two passes (one warm-up, one timed) of two requests each."""
    spans = [span(0, -1, "pass", 0, 100),
             span(1, 0, "request", 0, 50, 0), span(2, 0, "request", 50, 100, 1),
             span(3, -1, "pass", 1000, 1400),
             span(4, 3, "request", 1000, 1100, 2), span(5, 4, "operators.build", 1000, 1080, 2),
             span(6, 3, "request", 1100, 1400, 3), span(7, 6, "core.iterate", 1100, 1390, 3)]
    return {
        "traced": traced, "setup_end_ms": 900, "session_start_ms": 10, "session_end_ms": 510,
        "counts": {"delayed.nodes": 0, "delayed.futures": 0, "array.gemm_flops": 0},
        "passes": [
            {"index": 0, "timed": False, "start": 0, "end": 100, "gc_ms": 5, "gc_count": 1,
             "jit_ms": 50, "cpu_ms": 300, "steal_ms": 0, "live_heap_mb": 900.0},
            {"index": 1, "timed": True, "start": 1000, "end": 1400, "gc_ms": 20, "gc_count": 2,
             "jit_ms": 10, "cpu_ms": 900, "steal_ms": 10, "live_heap_mb": 120.0}],
        "requests": [{"pass": 0, "name": "a", "start": 0, "end": 50},
                     {"pass": 0, "name": "b", "start": 50, "end": 100},
                     {"pass": 1, "name": "a", "start": 1000, "end": 1100},
                     {"pass": 1, "name": "b", "start": 1100, "end": 1400}],
        "spans": spans if traced else [s for s in spans if s["name"] in ("pass", "request")],
        "jobs": [{"id": 0, "start": 20, "end": 40, "stages": [0]},          # warm-up
                 {"id": 1, "start": 1010, "end": 1050, "stages": [1]},      # eager, in build
                 {"id": 2, "start": 1200, "end": 1300, "stages": [2, 3]}],  # in iterate
        "stages": [{"id": i, "attempt": 0, "tasks": 4, "run_ms": 100, "cpu_ns": 5e7,
                    "shuffle_read": 1e6, "shuffle_write": 2e6, "fetch_wait_ms": 0, "spill": 0,
                    "input": 3e6, "result": 1e3} for i in range(4)],
        "failed_tasks": {"2": 1}, "queries": [{"start": 1010, "analysis_ms": 4,
                                             "optimization_ms": 6, "planning_ms": 2}],
        "batches": [],
    }


class Compute(unittest.TestCase):
    def test_end_to_end_uses_timed_passes_only(self):
        e2e, layers = metrics.compute(raw_run(False), spawn_ms=-100)
        self.assertIsNone(layers)
        self.assertEqual(e2e["setup_s"], 1.0)
        self.assertEqual(e2e["makespan_s"], 0.4)
        self.assertAlmostEqual(e2e["req_geomean_s"], math.sqrt(0.1 * 0.3))
        self.assertEqual(e2e["live_heap_mb"], 120.0)

    def test_per_layer_accounts_for_the_whole_pass(self):
        _, m = metrics.compute(raw_run(True), spawn_ms=0)
        self.assertEqual(set(m), set(metrics.PER_LAYER))
        self.assertEqual((m["spark.jobs"], m["spark.stages"], m["spark.tasks"]), (2, 3, 12))
        self.assertAlmostEqual(m["spark.job_busy_s"], 0.14)
        self.assertAlmostEqual(m["spark.driver_gap_s"], 0.26)
        self.assertAlmostEqual(m["spark.parallelism"], 0.3 / 0.14)
        self.assertEqual(m["spark.failed_tasks"], 1)
        self.assertEqual((m["operators.eager_jobs"], m["core.iterate_jobs"]), (1, 1))
        self.assertAlmostEqual(m["operators.build_s"], 0.08)
        self.assertAlmostEqual(m["core.iterate_s"], 0.29)
        self.assertAlmostEqual(m["trace.harness_s"], 0.03)
        self.assertAlmostEqual(m["trace.self_sum_s"], m["trace.makespan_s"])
        self.assertEqual(m["catalyst.executions"], 1)
        self.assertAlmostEqual(m["core.session_s"], 0.5)
        self.assertAlmostEqual(m["jvm.gc_s"], 0.02)
        self.assertAlmostEqual(m["jvm.cpu_s"], 0.9)


if __name__ == "__main__":
    unittest.main()
