"""Unit tests for the benchmark's percentile, tail-selection and ratio
helpers and for how a run's raw measurements become metrics.

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, n = metrics.tail(xs)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5  # 25 samples
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))
        value, pct, n = metrics.tail(xs)
        self.assertEqual(n, 25)
        self.assertAlmostEqual(pct, 60.0)
        self.assertEqual(value, sorted(xs)[14])
        self.assertEqual(len(sorted(xs)[15:]), 10)

    def test_smallest_sample_that_has_a_tail(self):
        value, pct, n = metrics.tail(range(21))
        self.assertEqual((value, n), (10, 21))
        self.assertAlmostEqual(pct, 100 * 11 / 21)

    def test_too_few_samples_gives_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(metrics.tail(range(20)), (19, 100.0, 20))

    def test_empty(self):
        value, pct, n = metrics.tail([])
        self.assertTrue(math.isnan(value) and math.isnan(pct))
        self.assertEqual(n, 0)


class MedianRatioSpreadTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)
        self.assertTrue(math.isnan(metrics.median([])))

    def test_ratio_with_zero_base(self):
        self.assertEqual(metrics.ratio(3, 4), 0.75)
        self.assertEqual(metrics.ratio(5, 0), 0.0)

    def test_spread_matches_quartiles(self):
        xs = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        # statistics.quantiles (exclusive): q1 = 11.75, q3 = 17.25, median 14.5
        self.assertAlmostEqual(metrics.spread(xs), 5.5 / 14.5)
        self.assertEqual(metrics.spread([2.0] * 10), 0.0)


class GeomeanTest(unittest.TestCase):
    def test_median_per_kind_then_geometric_mean(self):
        reqs = [{"kind": "a", "s": 1.0}, {"kind": "a", "s": 3.0}, {"kind": "a", "s": 100.0},
                {"kind": "b", "s": 12.0}]
        self.assertAlmostEqual(metrics.geomean_of_medians(reqs), 6.0)  # sqrt(3 * 12)

    def test_one_kind_twice_as_fast_moves_it_by_its_root(self):
        slow = [{"kind": k, "s": s} for k, s in (("a", 2.0), ("b", 8.0), ("c", 1.0))]
        fast = [{"kind": k, "s": s / 2 if k == "b" else s} for k, s in
                (("a", 2.0), ("b", 8.0), ("c", 1.0))]
        ratio = metrics.geomean_of_medians(slow) / metrics.geomean_of_medians(fast)
        self.assertAlmostEqual(ratio, 2 ** (1 / 3))


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertAlmostEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertAlmostEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)], 1, 5.5), 2.5)
        self.assertAlmostEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([]), 0.0)

    def test_self_time_subtracts_covered_children(self):
        spans = [
            {"id": 0, "name": "op", "parent": -1, "start": 0.0, "end": 10.0},
            {"id": 1, "name": "build", "parent": 0, "start": 1.0, "end": 4.0},
            {"id": 2, "name": "action", "parent": 0, "start": 3.0, "end": 8.0},
            {"id": 3, "name": "inner", "parent": 2, "start": 5.0, "end": 6.0},
        ]
        s = metrics.self_times(spans)
        self.assertAlmostEqual(s[0], 3.0)  # 10 minus the union [1, 8]
        self.assertAlmostEqual(s[1], 3.0)
        self.assertAlmostEqual(s[2], 4.0)
        self.assertAlmostEqual(s[3], 1.0)


def raw_run():
    """Two rounds: round 0 untraced, round 1 traced, on two cores."""
    return {
        "cores": 2, "setup_reps_s": [3.0, 1.0, 2.0], "peak_rss_mb": 900.0,
        "attempted": 4, "failed": 0, "failures": [], "info": {},
        "rounds": [{"round": 0, "traced": False, "start": 0.0, "end": 10.0},
                   {"round": 1, "traced": True, "start": 20.0, "end": 32.0}],
        "requests": [
            {"kind": "backfill", "round": 0, "traced": False, "start": 0.0, "s": 4.0},
            {"kind": "dash.latest", "round": 0, "traced": False, "start": 4.0, "s": 6.0},
            {"kind": "backfill", "round": 1, "traced": True, "start": 20.0, "s": 5.0},
            {"kind": "dash.latest", "round": 1, "traced": True, "start": 25.0, "s": 7.0},
        ],
        "counters": [
            {"round": 1, "traced": True, "sink_files": 10, "sink_bytes": 5000, "sink_rows": 10,
             "raw_files": 4, "raw_bytes": 400, "history_files": 9, "plan_nodes": 42},
        ],
        "tracing": {
            "spans": [
                {"id": 0, "name": "round", "parent": -1, "start": 20.0, "end": 32.0},
                {"id": 1, "name": "backfill", "parent": 0, "start": 20.0, "end": 25.0},
                {"id": 2, "name": "operators.weather", "parent": 1, "start": 20.0, "end": 21.0},
                {"id": 3, "name": "operators.sink_parquet", "parent": 1, "start": 22.0, "end": 25.0},
                {"id": 4, "name": "dash.latest", "parent": 0, "start": 25.0, "end": 32.0},
                {"id": 5, "name": "build", "parent": 4, "start": 25.0, "end": 26.0},
                {"id": 6, "name": "action", "parent": 4, "start": 26.0, "end": 32.0},
            ],
            "jobs": [
                {"id": 0, "start": 22.0, "end": 24.0, "stages_done": 2, "tasks_done": 4,
                 "run_s": 3.0, "cpu_s": 2.0, "gc_s": 0.5, "shuffle_read_b": 1e6,
                 "shuffle_write_b": 2e6, "spill_b": 0, "input_b": 3e6, "output_b": 4e6},
                {"id": 1, "start": 27.0, "end": 31.0, "stages_done": 1, "tasks_done": 2,
                 "run_s": 5.0, "cpu_s": 4.0, "gc_s": 0.1, "shuffle_read_b": 0,
                 "shuffle_write_b": 0, "spill_b": 0, "input_b": 0, "output_b": 0},
                {"id": 2, "start": 5.0, "end": 6.0, "stages_done": 1, "tasks_done": 1,
                 "run_s": 9.0, "cpu_s": 9.0, "gc_s": 9.0, "shuffle_read_b": 0,
                 "shuffle_write_b": 0, "spill_b": 0, "input_b": 0, "output_b": 0},
            ],
            "plans": [{"func": "count", "start": 26.5, "plan_s": 0.25, "nodes": 7},
                      {"func": "count", "start": 5.0, "plan_s": 9.0, "nodes": 7}],
        },
    }


class SummaryTest(unittest.TestCase):
    def test_end_to_end_uses_untraced_rounds(self):
        e2e, tail = metrics.end_to_end(raw_run())
        self.assertEqual(e2e["setup_s"], (2.0, "s"))
        self.assertEqual(e2e["wall_s"], (10.0, "s"))
        self.assertAlmostEqual(e2e["geomean_s"][0], math.sqrt(4.0 * 6.0))
        self.assertEqual(tail["p50_s"], 5.0)
        self.assertEqual(e2e["peak_rss_mb"], (900.0, "MB"))
        self.assertEqual((tail["tail_s"], tail["tail_samples"]), (6.0, 2))

    def test_by_kind_names(self):
        k = metrics.by_kind(raw_run())
        self.assertEqual((k["backfill_p50_s"], k["dash_p50_s"], k["dash_samples"]), (4.0, 6.0, 1))

    def test_per_layer_uses_traced_rounds_only(self):
        m, detail = metrics.per_layer(raw_run())
        v = {k: value for k, (value, _) in m.items()}
        self.assertAlmostEqual(v["build.self_s"], 2.0)  # weather 1 s + dashboard build 1 s
        self.assertAlmostEqual(v["build.share"], 2.0 / 12)
        self.assertAlmostEqual(v["catalyst.plan_s"], 0.25)
        self.assertEqual(v["scheduler.jobs"], 2)
        self.assertEqual(v["scheduler.jobs_per_op"], 1.0)
        self.assertEqual((v["scheduler.stages"], v["scheduler.tasks"]), (3, 6))
        self.assertAlmostEqual(v["scheduler.driver_gap_s"], 12 - 6)
        self.assertAlmostEqual(v["executor.task_run_s"], 8.0)
        self.assertAlmostEqual(v["executor.busy_frac"], 8.0 / (12 * 2))
        self.assertAlmostEqual(v["executor.shuffle_write_mb"], 2.0)
        self.assertEqual(v["sink.bytes_per_row"], 500.0)
        self.assertEqual(v["catalyst.plan_nodes"], 42)
        self.assertAlmostEqual(v["operators.sink_parquet_pct"], 100 * 3 / 12)
        self.assertAlmostEqual(v["dash.pct"], 100 * 7 / 12)
        self.assertAlmostEqual(v["trace.overhead_s"], 2.0)
        self.assertAlmostEqual(detail["operators.sink_parquet_s"], 3.0)
        self.assertAlmostEqual(detail["operators.dash_latest_s"], 7.0)


if __name__ == "__main__":
    unittest.main()
