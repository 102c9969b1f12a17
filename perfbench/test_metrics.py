"""Self-tests for the benchmark's metric helpers.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


class UnionTest(unittest.TestCase):
    def test_disjoint_intervals_add(self):
        self.assertEqual(metrics.union_s([(0, 1), (2, 4)]), 3)

    def test_overlapping_intervals_count_once(self):
        # three concurrent writes inside one 10 s window: the sum would be
        # 18 s and the gap to a 10 s query wall negative
        self.assertEqual(metrics.union_s([(0, 6), (2, 8), (4, 10)]), 10)

    def test_nested_touching_and_empty(self):
        self.assertEqual(metrics.union_s([(0, 10), (2, 3), (10, 12)]), 12)
        self.assertEqual(metrics.union_s([(5, 5), (7, 6)]), 0)
        self.assertEqual(metrics.union_s([]), 0)

    def test_busy_never_exceeds_clipped_wall(self):
        ivs = [metrics.clip(i, 1, 9) for i in [(0, 6), (2, 8), (5, 12)]]
        self.assertEqual(metrics.union_s(ivs), 8)


class PercentileTest(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(10))
        self.assertAlmostEqual(metrics.tail_percentile(20), 50.0)
        self.assertAlmostEqual(metrics.tail_percentile(100), 90.0)


class ModuleTest(unittest.TestCase):
    def test_innermost_known_graft_frame(self):
        site = ("graft.media.Media$.decode(Media.scala:40)\n"
                "graft.ops.CaptionOps$.$anonfun$q36$1(CaptionOps.scala:12)\n"
                "graft.SparkEntry$.run(SparkEntry.scala:3)")
        self.assertEqual(metrics.module_of(site), "ops.CaptionOps")

    def test_tables_and_io_frames(self):
        self.assertEqual(metrics.module_of(
            "graft.Tables$.table(Tables.scala:25)\n"
            "graft.ops.Relational$.q03(Relational.scala:9)"), "Tables")
        self.assertEqual(metrics.module_of(
            "app//graft.io.IndexLifecycle$.swap(IndexLifecycle.scala:88)"),
            "io.IndexLifecycle")

    def test_thread_pool_call_site_uses_long_form(self):
        # short form is "... at CompletableFuture.java:1768"; the long
        # form still carries the engine frames below the pool frames
        site = ("java.base/java.util.concurrent.CompletableFuture$AsyncSupply"
                ".run(CompletableFuture.java:1768)\n"
                "graft.io.Sinks$$anon$1.call(Sinks.scala:127)\n"
                "java.base/java.lang.Thread.run(Thread.java:840)")
        self.assertEqual(metrics.module_of(site), "io.Sinks")

    def test_helper_packages_are_not_modules(self):
        self.assertEqual(metrics.module_of(
            "graft.functions.VectorFunctions$.dot(VectorFunctions.scala:5)\n"
            "graft.SparkEntry$.run(SparkEntry.scala:3)"), "other")
        self.assertEqual(metrics.module_of(
            "graft.streaming.StreamingStages$.ingest(StreamingStages.scala:"
            "7)"), "streaming.StreamingStages")

    def test_no_engine_frame_is_other(self):
        self.assertEqual(metrics.module_of(
            "perfbench.Harness$.main(Harness.scala:1)"), "other")
        self.assertEqual(metrics.module_of(""), "other")

    def test_job_falls_back_to_execution_then_query(self):
        execs = {7: {"id": 7, "root": 5, "site": "x.y(Z.java:1)"},
                 5: {"id": 5, "root": 5,
                     "site": "graft.ops.DedupOps$.q27(DedupOps.scala:1)"}}
        job = {"site": "java.util.concurrent.ThreadPoolExecutor.run(x)",
               "exec": 7}
        self.assertEqual(metrics.job_module(job, execs), "ops.DedupOps")
        bare = {"site": "perfbench.Harness$.main(Harness.scala:1)",
                "exec": -1}
        self.assertEqual(metrics.job_module(bare, execs, "ops.TextOps"),
                         "ops.TextOps")

    def test_module_of_class(self):
        self.assertEqual(metrics.module_of_class(
            "graft.ops.VectorIndexOps$$$Lambda/0x000071"),
            "ops.VectorIndexOps")
        self.assertEqual(metrics.module_of_class("scala.Function2"), "other")


class PassOrderTest(unittest.TestCase):
    def test_same_seed_same_orders(self):
        self.assertEqual(metrics.pass_orders("index", 3, 9, 5),
                         metrics.pass_orders("index", 3, 9, 5))

    def test_orders_are_permutations_and_vary(self):
        orders = metrics.pass_orders("curate", 1, 8, 20)
        for o in orders:
            self.assertEqual(sorted(o), list(range(8)))
        self.assertGreater(len({tuple(o) for o in orders}), 1)

    def test_seed_and_workload_change_orders(self):
        base = metrics.pass_orders("metadata", 1, 12, 3)
        self.assertNotEqual(base, metrics.pass_orders("metadata", 2, 12, 3))
        self.assertNotEqual(base, metrics.pass_orders("curate", 1, 12, 3))


class TraceOverheadTest(unittest.TestCase):
    def test_neighbours_cancel_a_linear_trend(self):
        # passes speed up by 1 s each; tracing costs 0.5 s on passes 2, 4
        walls = [10, 9, 8.5, 7, 6.5, 5]
        self.assertAlmostEqual(metrics.trace_overhead(walls, [2, 4]), 0.5)


class LayerMetricsTest(unittest.TestCase):
    """One traced pass with one query whose execute span runs two
    overlapping io writes and one plain job."""

    def record(self):
        spans = [[1, 0, "workload", "workload", 0, 10000],
                 [2, 1, "pass", "pass0", 0, 10000],
                 [3, 2, "query", "q262_x", 0, 10000],
                 [4, 3, "construct", "q262_x", 0, 1000],
                 [5, 3, "execute", "q262_x", 1000, 10000]]
        sink = "graft.io.Sinks$$anon$1.call(Sinks.scala:127)"
        jobs = [
            {"id": 1, "span": 4, "start_ms": 100, "end_ms": 900, "ok": True,
             "exec": -1, "stages": [1],
             "site": "graft.Tables$.table(Tables.scala:25)"},
            {"id": 2, "span": 5, "start_ms": 2000, "end_ms": 8000,
             "ok": True, "exec": -1, "stages": [2], "site": sink},
            {"id": 3, "span": 5, "start_ms": 3000, "end_ms": 9000,
             "ok": True, "exec": -1, "stages": [3, 2], "site": sink}]
        stage = {"attempt": 0, "start_ms": 0, "end_ms": 0, "tasks": 2,
                 "failed_tasks": 0, "run_ms": 1000, "cpu_ns": 10**9,
                 "sw_rows": 5, "sw_bytes": 50, "spill_bytes": 0,
                 "in_bytes": 7, "out_bytes": 11}
        return {
            "passes": [{"traced": True, "wall_s": 10.0, "gc_s": 0.1,
                        "heap_peak_mb": 100.0, "queries": [
                            {"name": "q262_x", "span": 3,
                             "construct_s": 1.0, "execute_s": 9.0,
                             "error": None, "cache_entries": 2,
                             "persistent_rdds": 0}]}],
            "spans": spans, "jobs": jobs,
            "stages": [dict(stage, id=i) for i in (1, 2, 3)],
            "executions": [], "phases": [["analysis", 10, 30]],
            "modules": [["q262_x", "graft.ops.DedupOps$$$Lambda/0x1"]]}

    def test_union_gap_and_io(self):
        m, jobs, stages = metrics.layer_metrics(
            self.record(), 0, ["ops.DedupOps"])
        self.assertEqual(m["sched.jobs"], 3)
        self.assertEqual(m["sched.stages"], 3)
        self.assertAlmostEqual(m["sched.busy_s"], 7.8)  # 0.8 + union 7.0
        self.assertAlmostEqual(m["sched.gap_s"], 2.2)
        self.assertEqual(m["io.jobs"], 2)
        self.assertAlmostEqual(m["io.busy_s"], 7.0)
        self.assertAlmostEqual(m["io.busy_share"], 70.0)
        # a requested module no job ran in reads 0; one not requested but
        # reached is reported all the same
        self.assertEqual(m["jobs.ops.DedupOps"], 0)
        self.assertAlmostEqual(m["busy_share.ops.DedupOps"], 0.0)
        self.assertEqual(m["jobs.io.Sinks"], 2)
        self.assertEqual(m["io.output_bytes"], 22)
        self.assertEqual(m["tables.infer_jobs"], 1)
        self.assertEqual(m["ops.construct_jobs"], 1)
        self.assertEqual(m["ops.execute_jobs"], 2)
        self.assertAlmostEqual(m["plan.analysis_s"], 0.02)
        self.assertEqual(m["cache.leaked_queries"], 1)
        self.assertEqual(m["cache.leaked_entries"], 2)

    def test_spans_share_the_query_id(self):
        rec = self.record()
        m, jobs, stages = metrics.layer_metrics(rec, 0)
        spans = metrics.trace_spans(rec, [(jobs, stages)])
        kinds = [s[2] for s in spans]
        self.assertEqual(kinds.count("job"), 3)
        self.assertEqual(kinds.count("stage"), 3)
        self.assertTrue(all(s[6] == 3 for s in spans
                            if s[2] not in ("workload", "pass")))


if __name__ == "__main__":
    unittest.main()
