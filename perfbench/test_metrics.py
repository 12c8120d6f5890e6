"""Self-tests for the benchmark's arithmetic: python3 perfbench/test_metrics.py"""

import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


def span(i, parent, t0, t1, name="s", layer="bench", kind="call", **kw):
    return dict(id=i, parent=parent, t0=t0, t1=t1, name=name, layer=layer, kind=kind, **kw)


class TimingTest(unittest.TestCase):
    def test_tail_has_exactly_ten_samples_beyond_it(self):
        for n in (20, 37, 100, 1000):
            xs = list(range(1, n + 1))
            t = metrics.timing(xs)
            self.assertEqual(sum(1 for x in xs if x > t["tail"]), 10)
            self.assertEqual(t["n"], n)
            self.assertAlmostEqual(t["tail_pct"], 100.0 * (n - 10) / n)

    def test_p90_at_100_samples(self):
        t = metrics.timing(list(range(100, 0, -1)))
        self.assertEqual(t["tail"], 90)
        self.assertEqual(t["tail_pct"], 90.0)
        self.assertEqual(t["p50"], 50.5)

    def test_below_20_samples_the_tail_is_the_median(self):
        t = metrics.timing([5, 1, 9, 3])
        self.assertEqual(t["p50"], 4)
        self.assertEqual(t["tail"], 4)
        self.assertEqual(t["tail_pct"], 50.0)


class SelfTimeTest(unittest.TestCase):
    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.covered([(0, 4), (2, 6), (8, 20)], 1, 10), 7)
        self.assertEqual(metrics.covered([], 0, 10), 0)
        self.assertEqual(metrics.covered([(3, 4), (0, 10)], 0, 10), 10)

    def test_self_time_subtracts_children_once(self):
        spans = [span(0, -1, 0, 100),
                 span(1, 0, 10, 40), span(2, 0, 30, 50),  # overlap 30-40
                 span(3, 1, 15, 35)]                       # grandchild
        st = metrics.self_times(spans)
        self.assertEqual(st[0], 100 - 40)
        self.assertEqual(st[1], 30 - 20)
        self.assertEqual(st[2], 20)
        self.assertEqual(st[3], 20)

    def test_work_s_sums_the_operations_of_each_unit(self):
        record = {"setup_end_epoch_ms": 5000, "spans": [
            span(0, -1, 0, 100, "measure", kind="phase"),
            span(1, 0, 0, 50, "unit-0", kind="unit"),
            span(2, 1, 0, 10, kind="op", ok=True, cpu_ms=30),
            span(3, 1, 20, 40, kind="op", ok=True, cpu_ms=50),
            span(4, 0, 50, 100, "unit-1", kind="unit"),
            span(5, 4, 50, 90, kind="op", ok=True, cpu_ms=100),
            span(6, 4, 90, 95, kind="op", ok=False, cpu_ms=7)]}
        e2e = metrics.end_to_end(record, 1.0)
        self.assertEqual(e2e["setup_s"], (4.0, "s"))
        self.assertEqual(e2e["work_s"], ((30 + 45) / 2 / 1000.0, "s"))
        self.assertEqual(e2e["work_cpu_s"], ((80 + 107) / 2 / 1000.0, "s"))


class AttributionTest(unittest.TestCase):
    def test_layer_of_frame(self):
        self.assertEqual(metrics.layer_of_frame("graft.ops.Serving$.topK(Serving.scala:33)"), "ops")
        self.assertEqual(metrics.layer_of_frame(
            "graft.SparkEntry$.$anonfun$queries$45(SparkEntry.scala:10)"), "SparkEntry")

    def test_innermost_frame_then_span(self):
        spans = [span(0, -1, 0, 100, "run", kind="run"),
                 span(1, 0, 10, 90, "BatchPipeline.run", layer="jobs"),
                 span(2, 0, 91, 99, "drain", layer="stream", query_id="q-1")]
        jobs = [
            {"id": 0, "t0": 20, "desc": "pb:1",
             "frames": ["graft.io.Sinks$.singleCsv(Sinks.scala:47)",
                        "graft.jobs.BatchPipeline$.run(BatchPipeline.scala:36)"]},
            {"id": 1, "t0": 30, "desc": "pb:1", "frames": []},
            {"id": 2, "t0": 95, "desc": "batch 3", "query_id": "q-1", "frames": []},
            {"id": 3, "t0": 50, "desc": None, "frames": []}]
        attr = metrics.attribute({"spans": spans, "jobs": jobs})
        self.assertEqual(attr[0], ("io", 1))
        self.assertEqual(attr[1], ("jobs", 1))
        self.assertEqual(attr[2], ("stream", 2))
        self.assertEqual(attr[3], ("jobs", 1))

    def test_class_busy_counts_the_jobs_under_each_class(self):
        spans = [span(0, -1, 0, 100, "measure", kind="phase"),
                 span(1, 0, 0, 100, "unit-0", kind="unit"),
                 span(2, 1, 0, 40, kind="op", cls="etl"),
                 span(3, 2, 5, 35, "BatchPipeline.run", layer="jobs"),
                 span(4, 1, 40, 60, kind="op", cls="query"),
                 span(5, 1, 60, 100, kind="op", cls="etl")]
        jobs = [{"id": 0, "t0": 10, "desc": "pb:3", "frames": [], "run_ms": 80, "cpu_ns": 5e9},
                {"id": 1, "t0": 45, "desc": "pb:4", "frames": [], "run_ms": 8, "cpu_ns": 1e9},
                {"id": 2, "t0": 70, "desc": "pb:5", "frames": [], "run_ms": 40, "cpu_ns": 2e9}]
        out = metrics.class_busy({"spans": spans, "jobs": jobs,
                                  "context": {"default_parallelism": 4}})
        self.assertAlmostEqual(out["etl_busy"], (80 + 40) / (80 * 4))
        self.assertAlmostEqual(out["etl_exec_cpu_s"], 7.0)
        self.assertAlmostEqual(out["query_busy"], 8 / (20 * 4))


class ContractTest(unittest.TestCase):
    def test_metric_names_and_units_match_benchmark_json(self):
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                               "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        record = {"setup_end_epoch_ms": 2000, "context": {"default_parallelism": 4},
                  "facts": {}, "jobs": [], "stream": [], "spans": [
                      span(0, -1, 0, 10, "measure", kind="phase"),
                      span(1, 0, 0, 10, "unit-0", kind="unit"),
                      span(2, 1, 0, 5, kind="op", ok=True, cpu_ms=5)]}
        e2e = metrics.end_to_end(record, 1.0)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         {k: u for k, (_, u) in e2e.items()})
        layers = metrics.per_layer(record)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]},
                         {k: u for k, (_, u) in layers.items()})


if __name__ == "__main__":
    unittest.main()
