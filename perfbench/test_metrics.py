"""Self-tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))


def span(id_, kind, name, start, end, parent=0, op=0, **attrs):
    return {"id": id_, "kind": kind, "name": name, "start_ns": start,
            "end_ns": end, "parent": parent, "op": op, "attrs": attrs}


def job(id_, name, start, end, parent, op):
    return span(id_, "job", name, start, end, parent, op, task_ns=2e9,
                input_bytes=1048576, shuffle_bytes=0, output_bytes=2097152,
                tasks=4, ok=True)


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail(range(10)))
        self.assertIsNone(metrics.tail(range(19)))
        # 20 samples: p50 is rank 10 with exactly ten beyond it
        self.assertEqual(metrics.tail(range(1, 21)), (50, 10, 20))

    def test_takes_the_highest_percentile_that_qualifies(self):
        # 40 samples: p75 is rank 30, ten beyond; p90 would leave four
        self.assertEqual(metrics.tail(range(1, 41)), (75, 30, 40))
        # 1000 samples: p99 is rank 990, ten beyond; p99.9 leaves one
        self.assertEqual(metrics.tail(range(1, 1001)), (99, 990, 1000))

    def test_order_of_input_does_not_matter(self):
        xs = list(range(1, 41))
        self.assertEqual(metrics.tail(reversed(xs)), metrics.tail(xs))


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once_where_they_overlap(self):
        parent = span(1, "call", "c", 0, 100)
        kids = [span(2, "job", "a", 10, 30), span(3, "job", "b", 20, 50),
                span(4, "job", "d", 70, 80)]
        self.assertEqual(metrics.self_ns(parent, kids), 100 - 40 - 10)

    def test_children_outside_the_span_are_clipped(self):
        parent = span(1, "call", "c", 100, 200)
        kids = [span(2, "job", "a", 50, 120), span(3, "job", "b", 190, 400)]
        self.assertEqual(metrics.self_ns(parent, kids), 100 - 20 - 10)

    def test_no_children(self):
        self.assertEqual(metrics.self_ns(span(1, "op", "o", 5, 9), []), 4)


class AttributionTest(unittest.TestCase):
    files = {"BucketedStore.scala": "store", "DocGraph.scala": "graph",
             "AnswerService.scala": "query", "EntityResolution.scala": "resolve"}

    def test_layer_files_maps_packages_and_the_store(self):
        src = os.path.join(os.path.dirname(HERE), "src", "main", "scala")
        if not os.path.isdir(src):
            self.skipTest("engine sources not present")
        files = metrics.layer_files(src)
        self.assertEqual(files["BucketedStore.scala"], "store")
        self.assertEqual(files["DocGraph.scala"], "graph")
        self.assertEqual(files["AnswerService.scala"], "query")
        self.assertNotIn("Tables.scala", files)

    def test_short_form_call_site(self):
        self.assertEqual(metrics.layer_of_site(
            "save at BucketedStore.scala:45", self.files), "store")

    def test_pool_thread_job_uses_long_form_frames(self):
        site = ("$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768\n"
                "org.apache.spark.sql.DataFrameWriter.saveAsTable(DataFrameWriter.scala:500)\n"
                "graft.graph.BucketedStore$.writeBucketed(BucketedStore.scala:45)\n"
                "graft.graph.DocGraph$.$anonfun$bucketed$3(DocGraph.scala:170)")
        self.assertEqual(metrics.layer_of_site(site, self.files), "store")

    def test_non_engine_site_falls_back_to_the_enclosing_call(self):
        spans = [span(1, "op", "op0", 0, 100, op=1),
                 span(2, "call", "AnswerService.answer", 0, 100, parent=1, op=1),
                 job(3, "collect at Workloads.scala:60", 10, 20, 2, 1),
                 job(4, "count at EntityResolution.scala:74", 30, 40, 2, 1),
                 job(5, "run at ThreadPoolExecutor.java:1136", 50, 60, 0, 1)]
        got = metrics.attribute(spans, self.files)
        self.assertEqual(got, {3: "query", 4: "resolve", 5: "other"})

    def test_set_up_jobs_are_found_through_their_calls(self):
        spans = fake_record(True)["spans"]
        by_id = {s["id"]: s for s in spans}
        roots = {s["id"] for s in metrics.setup_spans(spans)}
        self.assertEqual(roots, {10, 13})
        self.assertTrue(metrics.under(by_id[12], roots, by_id))
        self.assertFalse(metrics.under(by_id[3], roots, by_id))

    def test_curation_queries_map_to_their_modules(self):
        self.assertEqual(metrics.call_layer("SparkEntry.queries.q39_dedup_clusters"),
                         ("dedup", "queries"))
        self.assertEqual(metrics.call_layer("SparkEntry.queries.q999_unknown"),
                         (None, None))


def fake_record(traced):
    spans = [span(1, "op", "op0", 0, 3_000_000_000, op=1),
             span(2, "call", "AnswerService.answer", 0, 3_000_000_000, parent=1, op=1),
             job(3, "collect at AnswerService.scala:86", 1_000_000_000,
                 2_000_000_000, 2, 1),
             # two set-ups, one store job in the first
             span(10, "call", "setup0", -9_000_000_000, -5_000_000_000),
             span(11, "call", "DocGraph.bucketed", -9_000_000_000, -5_000_000_000,
                  parent=10),
             job(12, "save at BucketedStore.scala:45", -8_000_000_000,
                 -6_000_000_000, 11, 0),
             span(13, "call", "setup1", -4_000_000_000, -1_000_000_000)]
    ops = [{"id": 0, "kind": "answer", "start_ns": 0, "end_ns": 3_000_000_000,
            "traced": traced, "extra": {"ok": True, "family": 6, "fallback": False,
                                        "max_files_per_table": 4}},
           {"id": 1, "kind": "answer", "start_ns": 0, "end_ns": 2_000_000_000,
            "traced": False, "extra": {"ok": True, "family": 13,
                                       "max_files_per_table": 7}}]
    return {"ops": ops, "spans": spans if traced else [], "setups_s": [3.0, 1.0, 2.0],
            "peak_live_heap_mb": 100.0, "session_start_s": 5.0,
            "values": {}, "tracing_busy_s": 0.3}


class RecordTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_benchmark_json_names_every_metric_with_its_unit(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["per_layer"]],
                         metrics.per_layer_names())

    def test_untraced_record_yields_every_end_to_end_metric(self):
        e2e = metrics.end_to_end(fake_record(False))
        self.assertEqual(sorted(e2e), sorted(n for n, _ in metrics.END_TO_END))
        self.assertEqual(e2e["setup_s"], 2.0)
        self.assertEqual(e2e["items_per_s"], 2 / 5.0)

    def test_traced_record_yields_every_per_layer_metric(self):
        m = metrics.per_layer(fake_record(True), {"AnswerService.scala": "query",
                                                  "BucketedStore.scala": "store"}, 0.5)
        self.assertEqual(sorted(m), sorted(n for n, _ in metrics.per_layer_names()))
        self.assertEqual(m["query.jobs"], 1)
        self.assertEqual(m["query.job_wall_s"], 1.0)
        self.assertEqual(m["query.call_s.answer"], 2.0)
        self.assertEqual(m["driver_s"], 2.0)
        self.assertEqual(m["store.leftover_mb"], 0.5)
        # set-up jobs count per set-up, never per operation
        self.assertEqual(m["setup.store.jobs"], 0.5)
        self.assertEqual(m["setup.store.job_wall_s"], 1.0)
        self.assertEqual(m["store.jobs"], 0)
        # the largest per-table file count any operation left behind
        self.assertEqual(m["store.max_files_per_table"], 7)
        self.assertEqual(m["graph.family_ms.f06"], 3000.0)
        # tracing busy time over the traced operations' wall time
        self.assertAlmostEqual(m["tracing_overhead_ratio"], 0.1)
        self.assertEqual(m["op_p50_ms"], 2500.0)
        # two operations: no percentile has ten beyond, so the slowest
        self.assertEqual(m["op_tail_ms"], 3000.0)


if __name__ == "__main__":
    unittest.main()
