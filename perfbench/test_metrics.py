"""Tests for the benchmark's own metric arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import metrics


class TailPercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        # p90 of n samples has n/10 beyond it: supported from n = 100
        self.assertIsNone(metrics.tail_percentile(list(range(99)), 90))
        self.assertIsNotNone(metrics.tail_percentile(list(range(100)), 90))
        # p50 needs only 20
        self.assertIsNone(metrics.tail_percentile(list(range(19)), 50))
        self.assertEqual(metrics.tail_percentile(list(range(21)), 50), 10)

    def test_interpolates_between_ranks(self):
        xs = list(range(1, 101))  # 1..100
        self.assertAlmostEqual(metrics.tail_percentile(xs, 90), 90.1)
        self.assertAlmostEqual(metrics.percentile([10, 20], 50), 15)
        self.assertIsNone(metrics.percentile([], 50))

    def test_order_independent(self):
        xs = [5, 1, 4, 2, 3] * 40
        self.assertEqual(metrics.tail_percentile(xs, 90),
                         metrics.tail_percentile(sorted(xs), 90))


class DriverGapTest(unittest.TestCase):
    def span(self, start, end):
        return {"start": start, "end": end, "wall_ms": float(end - start)}

    def test_union_merges_overlaps(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([]), 0)

    def test_gap_is_wall_not_covered_by_jobs(self):
        s = self.span(100, 200)
        jobs = [{"start": 110, "end": 140}, {"start": 130, "end": 160},
                {"start": 180, "end": 190}]
        # covered: 110-160 (50) + 180-190 (10) = 60 → gap 40
        self.assertEqual(metrics.driver_gap_ms(s, jobs), 40)

    def test_jobs_clipped_to_span(self):
        s = self.span(100, 200)
        jobs = [{"start": 50, "end": 120}, {"start": 190, "end": 260}]
        self.assertEqual(metrics.driver_gap_ms(s, jobs), 70)

    def test_no_jobs_means_all_driver(self):
        self.assertEqual(metrics.driver_gap_ms(self.span(0, 75), []), 75)

    def test_jobs_charged_by_start_time(self):
        s = self.span(100, 200)
        jobs = [{"start": 99, "end": 150}, {"start": 100, "end": 110},
                {"start": 200, "end": 210}, {"start": 201, "end": 220}]
        self.assertEqual([j["start"] for j in metrics.jobs_in(s, jobs)],
                         [100, 200])


class SelfTimeTest(unittest.TestCase):
    def test_self_time_excludes_children(self):
        parent = {"start": 0, "end": 100, "wall_ms": 100.0}
        kids = [{"start": 10, "end": 40}, {"start": 30, "end": 50},
                {"start": 90, "end": 120}]
        # children cover 10-50 (40) and 90-100 (10, clipped)
        self.assertEqual(metrics.self_ms(parent, kids), 50)

    def test_leaf_self_time_is_wall(self):
        leaf = {"start": 5, "end": 25, "wall_ms": 20.0}
        self.assertEqual(metrics.self_ms(leaf, []), 20)


class RecordTest(unittest.TestCase):
    def raw(self):
        return {
            "cores": 4, "setup_s": [3.0, 1.0, 2.0],
            "extra": {"heap_retained_mb": 80.0, "traced_gc_ms": 12.0},
            "samples": [
                {"cls": "lookup", "ms": 10.0, "traced": False, "ok": True},
                {"cls": "lookup", "ms": 30.0, "traced": False, "ok": True},
                {"cls": "lookup", "ms": 14.0, "traced": True, "ok": True},
                {"cls": "lookup", "ms": 99.0, "traced": False, "ok": False},
            ],
            "spans": [
                {"id": 1, "parent": 0, "name": "client.lookup", "start": 0,
                 "end": 100, "wall_ms": 100.0, "attrs": {}},
                {"id": 2, "parent": 1, "name": "sources.scan", "start": 20,
                 "end": 80, "wall_ms": 60.0,
                 "attrs": {"files_read": 2, "files_total": 8,
                           "bytes_read": 500, "rows_read": 40, "rows_out": 4,
                           "analysis_ms": 7, "optimize_ms": 2,
                           "physical_ms": 1}},
            ],
            "jobs": [{"start": 30, "end": 70, "tasks": 4, "task_ms": 120,
                      "shuffle_bytes": 8, "spill_bytes": 0,
                      "bytes_written": 0}],
        }

    def test_end_to_end_uses_untraced_successes(self):
        e = metrics.end_to_end(self.raw())
        self.assertEqual(e["setup_s"], 2.0)
        self.assertEqual(e["op_mean_ms"], 20.0)
        self.assertEqual(e["heap_retained_mb"], 80.0)

    def test_per_layer_emits_every_name(self):
        p = metrics.per_layer(self.raw())
        self.assertEqual(sorted(p), sorted(metrics.per_layer_names()))
        self.assertEqual(p["sources.scan.files_read_frac"], 0.25)
        self.assertEqual(p["sources.scan.rows_read_per_row_out"], 10.0)
        self.assertEqual(p["plan.analysis_ms"], 7.0)
        # 120 ms of tasks over 100 ms of traced wall on 4 cores
        self.assertAlmostEqual(p["spark.slot_util"], 0.3)
        self.assertEqual(p["client.self_ms"], 40.0)
        # traced 14 vs untraced median 20
        self.assertEqual(p["trace.overhead_ms"], -6.0)
        # a layer this record never touched reads 0
        self.assertEqual(p["etl.occupancy.wall_ms"], 0.0)


class BenchmarkFileTest(unittest.TestCase):
    def test_metric_names_match_benchmark_json(self):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            os.pardir, "BENCHMARK.json")
        with open(path) as fh:
            bench = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]],
                         list(metrics.END_TO_END))
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         [(n, metrics.unit_of(n)) for n in metrics.per_layer_names()])


if __name__ == "__main__":
    unittest.main()
