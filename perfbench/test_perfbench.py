"""Tests for the benchmark's pure helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import hashlib
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_end_to_end_uses_request_latencies(self):
        res = {"setup_s": 9.5, "iterations": [
            {"wall_s": 2.0, "units": 4, "latencies": [0.2, 0.4, 0.6, 0.8]},
            {"wall_s": 2.0, "units": 4, "latencies": [0.1, 0.3, 0.5, 1.1]}]}
        m = stats.end_to_end(res)
        self.assertEqual(set(m), set(stats.UNITS))
        self.assertEqual(m["setup_s"], 9.5)
        self.assertEqual(m["throughput_per_s"], 2.0)
        self.assertEqual(m["latency_p50_s"], 0.45)

    def test_end_to_end_falls_back_to_iteration_walls(self):
        res = {"setup_s": 1.0, "iterations": [
            {"wall_s": 4.0, "units": 100, "latencies": []},
            {"wall_s": 6.0, "units": 100, "latencies": []}]}
        m = stats.end_to_end(res)
        self.assertEqual(m["latency_p50_s"], 5.0)
        self.assertEqual(m["throughput_per_s"], 20.0)

    def test_quartile_spread(self):
        import spread
        med, sp = spread.spread([10, 11, 9, 10, 12, 8, 10, 10, 11, 9])
        self.assertEqual(med, 10)
        self.assertAlmostEqual(sp, 0.2)
        self.assertEqual(spread.seeds("3-5"), [3, 4, 5])
        self.assertEqual(spread.seeds("7"), [7])


QUALITY_LONG = (
    "org.apache.spark.sql.classic.Dataset.head(Dataset.scala:2800)\n"
    "graft.ops.Quality$.report(Quality.scala:55)\n"
    "graft.pipeline.Pipeline$.processDir(Pipeline.scala:95)\n"
    "perfbench.Harness$Ep1.iteration(Harness.scala:180)")
POOL_LONG = (
    "org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2(SQLExecution.scala:329)\n"
    "java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)")
MODULES = {"Quality.scala": "ops.Quality", "Sinks.scala": "io.Sinks", "Bench.scala": "graft.Bench"}


class CallSiteTest(unittest.TestCase):
    def test_innermost_engine_frame_wins(self):
        self.assertEqual(layers.module_of_site(QUALITY_LONG, "head at Quality.scala:55", MODULES),
                         "ops.Quality")

    def test_nested_closures_and_top_level_files(self):
        site = "graft.io.Sinks$.$anonfun$parquet$1(Sinks.scala:37)\ngraft.io.Sinks$.parquet(Sinks.scala:37)"
        self.assertEqual(layers.module_of_site(site, "", MODULES), "io.Sinks")
        self.assertEqual(layers.module_of_site("graft.Bench$.main(Bench.scala:12)", "", {}), "graft.Bench")

    def test_short_form_maps_file_to_module(self):
        self.assertEqual(layers.module_of_site("", "head at Quality.scala:55", MODULES), "ops.Quality")
        self.assertIsNone(layers.module_of_site("", "head at Unknown.scala:1", MODULES))

    def test_pool_thread_has_no_module(self):
        self.assertIsNone(layers.module_of_site(
            POOL_LONG, "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768", MODULES))

    def test_layer_of(self):
        self.assertEqual(layers.layer_of("ops.Quality"), "ops")
        self.assertEqual(layers.layer_of(None), "spark-internal")

    def test_file_modules_on_engine_tree(self):
        root = os.path.dirname(HERE)
        if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
            self.skipTest("engine sources not present")
        mods = layers.file_modules(root)
        self.assertEqual(mods["Quality.scala"], "ops.Quality")
        self.assertEqual(mods["Sinks.scala"], "io.Sinks")
        self.assertEqual(mods["DocPipeline.scala"], "pipeline.DocPipeline")

    def test_attribution_order(self):
        trace = {
            "span": [{"id": 1, "parent": 0, "name": "bench.noop_write", "module": "queries.CoreQueries",
                      "start": 0, "end": 100}],
            "exec": [{"id": 7, "site_long": QUALITY_LONG, "start": 0, "end": 10}],
            "job": [
                {"id": 0, "site_long": "graft.io.Sinks$.csv(Sinks.scala:173)", "site": "", "exec": "7", "span": "1"},
                {"id": 1, "site_long": POOL_LONG, "site": "", "exec": "7", "span": "1"},
                {"id": 2, "site_long": POOL_LONG, "site": "", "exec": "8", "span": "1"},
                {"id": 3, "site_long": POOL_LONG, "site": "", "exec": "", "span": ""},
            ],
        }
        layers.attribute(trace, MODULES)
        self.assertEqual([j["module"] for j in trace["job"]],
                         ["io.Sinks", "ops.Quality", "queries.CoreQueries", "spark-internal"])


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(layers.union_s([(0, 2_000_000), (1_000_000, 3_000_000), (5_000_000, 6_000_000)]), 4.0)
        self.assertEqual(layers.union_s([]), 0)

    def test_self_time_subtracts_covered_part(self):
        span = {"start": 0, "end": 10_000_000}
        busy = [(-1_000_000, 2_000_000), (4_000_000, 5_000_000), (9_000_000, 12_000_000)]
        self.assertAlmostEqual(layers.self_s(span, busy), 6.0)


class PerLayerTest(unittest.TestCase):
    def test_warmup_is_kept_out_of_per_iteration_metrics(self):
        def it(i, start, warm):
            return {"id": i, "parent": 0, "name": "bench.iteration", "iter": i, "warmup": warm,
                    "start": start, "end": start + 10_000_000}

        def job(i, start, site):
            return {"id": i, "start": start, "end": start + 1_000_000, "stages": [i],
                    "site": "", "site_long": site, "exec": "", "span": ""}

        def stage(i):
            return {"id": i, "submit": 0, "first_launch": 0, "tasks": 2, "cpu_ns": 10**9,
                    "gc_ms": 0, "in_rows": 5, "in_bytes": 50, "out_bytes": 0, "out_tasks": 0,
                    "shuffle_write": 7, "spill_bytes": 0}

        sinks = "graft.io.Sinks$.csv(Sinks.scala:173)"
        trace = {"span": [it(0, 0, True), it(1, 20_000_000, False), it(2, 40_000_000, False)],
                 "job": [job(0, 1_000_000, QUALITY_LONG), job(1, 21_000_000, QUALITY_LONG),
                         job(2, 41_000_000, sinks), job(3, 43_000_000, sinks)],
                 "stage": [stage(i) for i in range(4)], "exec": [], "plan": []}
        res = {"session_start_s": 5.0, "peak_rss_mb": 900.0,
               "iterations": [{"wall_s": 10.0}], "traced_iterations": [{"wall_s": 10.5}]}
        m = layers.per_layer(trace, res, MODULES)
        self.assertEqual(list(m), list(layers.PER_LAYER_UNITS))
        self.assertEqual(m["engine.jobs"], 1.5)
        self.assertEqual(m["ops.Quality.s"], 0.5)
        self.assertEqual(m["io.sink_s"], 1.0)
        self.assertEqual(m["io.cpu_s"], 1.0)
        self.assertEqual(m["engine.driver_gap_s"], 8.5)
        self.assertEqual(m["setup.warmup_jobs"], 1)
        self.assertEqual(m["setup.warmup_s"], 10.0)
        self.assertEqual(m["trace.iterations"], 2)
        self.assertEqual(m["trace.overhead_s"], 0.5)


def tree_digest(path):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    SIZES = {"months": {"months": 2, "rows": 3000, "events": 200},
             "tables": {"sf": 0.0005}}

    def test_same_seed_same_bytes(self):
        for kind, size in self.SIZES.items():
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                da, ma = gen.ensure(a, kind, 7, size)
                db, mb = gen.ensure(b, kind, 7, size)
                self.assertEqual(tree_digest(da), tree_digest(db), kind)
                self.assertEqual(ma, mb)

    def test_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as a:
            d1, _ = gen.ensure(a, "months", 1, self.SIZES["months"])
            d2, _ = gen.ensure(a, "months", 2, self.SIZES["months"])
            self.assertNotEqual(tree_digest(d1), tree_digest(d2))

    def test_manifest_records_counts_and_shares(self):
        with tempfile.TemporaryDirectory() as a:
            _, m = gen.ensure(a, "months", 3, self.SIZES["months"])
            self.assertEqual(m["files"]["month1/lineitem.parquet"]["rows"], 3000)
            self.assertGreater(m["files"]["month1/lineitem.parquet"]["bytes"], 0)
            self.assertTrue(0 < m["month0"]["clean_drop_share"] < 1)
            _, c = gen.ensure(a, "tables", 3, self.SIZES["tables"])
            self.assertTrue(0 < c["exact_dup_share"] < 0.2 and 0 < c["near_dup_share"] < 0.2)

    def test_interrupted_build_is_redone(self):
        with tempfile.TemporaryDirectory() as a:
            d, _ = gen.ensure(a, "tables", 4, self.SIZES["tables"])
            os.remove(os.path.join(d, "manifest.json"))
            d2, m = gen.ensure(a, "tables", 4, self.SIZES["tables"])
            self.assertEqual(d, d2)
            self.assertEqual(m["files"]["documents.parquet"]["rows"], 500)


class BenchmarkFileTest(unittest.TestCase):
    def setUp(self):
        path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
        with open(path) as f:
            self.bench = json.load(f)

    def test_metrics_match_what_the_run_prints(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["end_to_end"]}, stats.UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["per_layer"]}, layers.PER_LAYER_UNITS)

    def test_every_workload_is_declared(self):
        import run
        self.assertEqual({w["name"] for w in self.bench["workloads"]}, set(run.WORKLOADS))

    def test_mix_is_recorded(self):
        with open(os.path.join(HERE, "mix.json")) as f:
            mix = json.load(f)
        self.assertEqual(set(mix["queries"]), set(mix["expected"]))
        self.assertTrue(set(mix["rows_only"]) <= set(mix["queries"]))


if __name__ == "__main__":
    unittest.main()
