"""Tests of the metric derivations. Run: python3 -m unittest discover perfbench/tests"""

import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import analysis  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(analysis.tail_percentile(range(10)))
        self.assertEqual(analysis.tail_percentile(range(11)), (0, 100 / 11, 11))

    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(100))[::-1]  # unsorted input
        value, pct, n = analysis.tail_percentile(xs)
        self.assertEqual((value, pct, n), (89, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_ties_count_as_beyond_only_when_larger_index(self):
        value, pct, n = analysis.tail_percentile([1.0] * 25)
        self.assertEqual((value, n), (1.0, 25))
        self.assertAlmostEqual(pct, 60.0)


class UnionAndSelfTime(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(analysis.union_length([(0, 4), (2, 6), (8, 9)]), 7)
        self.assertEqual(analysis.union_length([(0, 4), (2, 6)], lo=3, hi=5), 2)
        self.assertEqual(analysis.union_length([]), 0)
        self.assertEqual(analysis.union_length([(5, 9)], lo=0, hi=5), 0)

    def span(self, i, parent, a, b):
        return {"id": i, "parent": parent, "start_ns": a, "end_ns": b}

    def test_self_time_is_span_minus_union_of_children(self):
        spans = [self.span(1, 0, 0, 100),
                 self.span(2, 1, 10, 40), self.span(3, 1, 30, 60),  # overlap
                 self.span(4, 2, 15, 20)]                           # grandchild
        st = analysis.self_times(spans)
        self.assertEqual(st[1], 100 - 50)
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 5)

    def test_sequential_children_tile_the_parent(self):
        spans = [self.span(1, 0, 0, 10), self.span(2, 1, 0, 4),
                 self.span(3, 1, 4, 9)]
        self.assertEqual(sum(analysis.self_times(spans).values()), 10)


class SparkGap(unittest.TestCase):
    def test_gap_is_wall_minus_union_of_jobs(self):
        self.assertEqual(analysis.spark_gap(0, 100, []), 100)
        self.assertEqual(analysis.spark_gap(0, 100, [(10, 30), (20, 50), (90, 120)]), 50)

    def test_jobs_outside_the_span_do_not_count(self):
        self.assertEqual(analysis.spark_gap(100, 200, [(0, 50), (250, 300)]), 100)


class JobAttribution(unittest.TestCase):
    def test_group_then_time_window(self):
        spans = [{"id": 7, "op": 3, "name": "dedup.verify"},
                 {"id": 8, "op": 3, "name": "bench.measure"}]
        ops = [{"i": 3, "start_ns": 0, "end_ns": 10_000_000},
               {"i": 4, "start_ns": 10_000_001, "end_ns": 20_000_000}]
        jobs = [{"group": "p-7", "start_ms": 15},   # by group, despite time
                {"group": "run-1", "start_ms": 12},  # stream job, by time
                {"group": "", "start_ms": 99},       # outside every op
                {"group": "p-8", "start_ms": 5}]     # measuring, no layer
        by_op = analysis.attribute_jobs(jobs, spans, ops, "p-")
        self.assertEqual([j["start_ms"] for j in by_op[3]], [15])
        self.assertEqual([j["start_ms"] for j in by_op[4]], [12])


class PerLayer(unittest.TestCase):
    def test_traced_operation_figures(self):
        def span(i, name, parent, a, b, counts=None):
            return {"id": i, "name": name, "parent": parent, "op": 5,
                    "start_ns": a, "end_ns": b, "counts": counts or {},
                    "fs": {"bytesRead": 7, "bytesWritten": 9}, "gc_ms": 20}
        s = 10**9
        spans = [span(1, "op", 0, 0, 10 * s),
                 span(2, "cli.upload", 1, 0, 2 * s, {"cli.objects": 23, "cli.calls": 1}),
                 span(3, "catalog.select", 1, 2 * s, 3 * s,
                      {"catalog.objects_listed": 500, "catalog.objects_selected": 20}),
                 span(4, "stream.sink_call", 1, 4 * s, 9 * s,
                      {"stream.neardup.addBatch": 300.0, "stream.neardup.batches": 1}),
                 span(5, "bench.measure", 1, 9 * s, 10 * s, {"state.dir_bytes": 4.0})]
        jobs = [{"start_ms": 4000, "end_ms": 6000, "stages": 2, "tasks": 8,
                 "run_ms": 1500, "cpu_ns": 10**9, "wait_ms": 100,
                 "shuffle_write_bytes": 3, "shuffle_read_bytes": 3,
                 "spill_bytes": 0, "result_bytes": 5}]
        m, by_layer = analysis.op_layer_metrics(spans, analysis.self_times(spans), jobs)
        self.assertEqual(m["cli.upload_s"], 2.0)
        self.assertEqual(m["catalog.s_per_kobject"], 2.0)
        self.assertEqual(m["catalog.selected_per_listed"], 0.04)
        self.assertEqual(m["stream.add_batch_ms"], 300.0)
        self.assertEqual(m["spark.jobs"], 1.0)
        self.assertEqual(m["spark.task_run_s"], 1.5)
        self.assertEqual(m["spark.gap_s"], 7.0)  # minus the job and the measuring
        self.assertEqual(m["state.dir_bytes"], 4.0)
        self.assertEqual(m["fs.bytes_written"], 9.0)
        self.assertEqual(m["jvm.gc_s"], 0.02)
        self.assertEqual(by_layer, {"bench": 2.0, "cli": 2.0, "catalog": 1.0, "stream": 5.0})
        self.assertEqual(sum(by_layer.values()), 10.0)


class ContractFile(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics the benchmark prints."""

    def setUp(self):
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            self.contract = json.load(f)

    def test_per_layer_names_and_units(self):
        listed = {m["name"]: m["unit"] for m in self.contract["per_layer"]}
        self.assertEqual(set(listed), set(analysis.PER_LAYER))
        for name, unit in listed.items():
            self.assertEqual(unit, analysis.per_layer_unit(name), name)

    def test_end_to_end_names_and_units(self):
        raw = {"setup_s": [1.0, 2.0, 3.0],
               "ops": [{"phase": "timed", "start_ns": 0, "end_ns": 10**9,
                        "rows": 5, "input_bytes": 100, "objects": 1}],
               "window": {"start_ns": 0, "end_ns": 10**9,
                          "fs": {"bytesWritten": 50}, "inputs_exhausted": False}}
        metrics, _ = analysis.end_to_end(raw)
        listed = {m["name"]: m["unit"] for m in self.contract["end_to_end"]}
        self.assertEqual(listed, {k: u for k, (_, u) in metrics.items()})
        self.assertEqual(metrics["setup_s"][0], 2.0)
        self.assertEqual(metrics["write_bytes_per_input_byte"][0], 0.5)


if __name__ == "__main__":
    unittest.main()
