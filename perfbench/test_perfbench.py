"""Tests of the benchmark's own logic (no JVM needed):

  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import statistics
import sys
import unittest

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import compare  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import trace  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_median_and_quartiles_follow_statistics_quantiles(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0]
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual([q1, q2, q3], statistics.quantiles(xs, n=4))
        self.assertEqual(q2, stats.median(xs))
        self.assertEqual(stats.quartiles([7.0]), (7.0, 7.0, 7.0))

    def test_tail_needs_ten_samples_beyond_it(self):
        self.assertIsNone(stats.tail(list(range(10))))
        pct, value = stats.tail([float(i) for i in range(11)])
        self.assertEqual(value, 0.0)  # the ten larger samples lie beyond it
        self.assertAlmostEqual(pct, 100 * 1 / 11)
        xs = [float(i) for i in range(200)]
        pct, value = stats.tail(list(reversed(xs)))
        self.assertEqual((pct, value), (95.0, 189.0))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_describe_reports_sample_count(self):
        d = stats.describe([3.0, 1.0, 2.0])
        self.assertEqual((d["n"], d["median"], d["tail"]), (3, 2.0, None))


class LayerTest(unittest.TestCase):
    FILES = trace.file_layers(os.path.join(os.path.dirname(HERE), "src", "main", "scala"))

    def test_source_files_map_to_their_module(self):
        self.assertEqual(self.FILES["RowExec.scala"], "operators")
        self.assertEqual(self.FILES["OrderedExec.scala"], "core")
        self.assertEqual(self.FILES["StreamExec.scala"], "streaming")
        self.assertEqual(self.FILES["SparkEntry.scala"], "SparkEntry")
        self.assertEqual(self.FILES["GraftColumnBridge.scala"], "functions")
        self.assertNotIn("Bench.scala", self.FILES)

    def test_innermost_program_frame_wins(self):
        details = "\n".join([
            "org.apache.spark.sql.Dataset.collect(Dataset.scala:10)",
            "graft.core.OrderedExec$.carries(OrderedExec.scala:88)",
            "graft.operators.RowExec$.mapWithCarry(RowExec.scala:59)",
            "graft.SparkEntry$.$anonfun$queries$7(SparkEntry.scala:1390)",
            "perfbench.Harness$.pass(Harness.scala:220)"])
        self.assertEqual(trace.stage_layer({"details": details}, self.FILES), "core")

    def test_forcing_action_falls_back_to_rdd_call_sites(self):
        stage = {"details": "org.apache.spark.sql.Dataset.head(Dataset.scala:1)\n"
                            "perfbench.Harness$.digest(Harness.scala:205)",
                 "rdds": ["mapPartitions at RowExec.scala:109",
                          "head at Harness.scala:205"]}
        self.assertEqual(trace.stage_layer(stage, self.FILES), "operators")

    def test_async_job_maps_through_its_sql_execution(self):
        stage = {"details": "java.base/java.util.concurrent.CompletableFuture$AsyncSupply"
                            ".run(CompletableFuture.java:1768)",
                 "rdds": ["$anonfun$relationFuture$1 at CompletableFuture.java:1768"]}
        sql = ("org.apache.spark.sql.Dataset.collect(Dataset.scala:10)\n"
               "graft.operators.Dedup$.jaccardPairs(Dedup.scala:300)\n")
        self.assertEqual(trace.stage_layer(stage, self.FILES, sql), "operators")
        self.assertEqual(trace.stage_layer(stage, self.FILES, None), "spark")

    def test_work_no_module_called_is_spark(self):
        stage = {"details": "perfbench.Harness$.pass(Harness.scala:220)",
                 "rdds": ["head at Harness.scala:205"]}
        self.assertEqual(trace.stage_layer(stage, self.FILES), "spark")

    def test_column_bridge_and_registry(self):
        self.assertEqual(trace.class_layer("org.apache.spark.sql.GraftColumnBridge$"), "functions")
        self.assertEqual(trace.class_layer("graft.SparkEntry$"), "SparkEntry")
        self.assertIsNone(trace.class_layer("graft.Bench$"))

    def test_per_layer_splits_task_time_by_layer(self):
        stage = dict(tasks=2, cpu_ns=0, gc_ms=0, sh_read=0, sh_write=0, spill=0, t1=1500)
        records = [
            {"k": "pass", "phase": "traced", "pass": 1, "t0": 1000, "t1": 3000, "s": 2.0,
             "compile_ms": 0.0, "classes": 0},
            {"k": "query", "phase": "traced", "pass": 1, "q": "q_scan", "t0": 1000, "t1": 3000,
             "call_s": 1.5, "force_s": 0.5},
            {"k": "job", "id": 0, "t0": 1100, "stages": [0, 1], "sql": None},
            dict(stage, k="stage", id=0, t0=1100, run_ms=800, name="a", details="",
                 rdds=["mapPartitions at RowExec.scala:59"]),
            dict(stage, k="stage", id=1, t0=1200, run_ms=200, name="b", details="",
                 rdds=["head at Harness.scala:1"]),
            {"k": "task", "stage": 0, "t0": 1100, "t1": 1500},
            {"k": "task", "stage": 1, "t0": 1400, "t1": 1600},
        ]
        m, run_index = trace.per_layer(records, self.FILES, 4, ["q_scan"])
        self.assertEqual((m["operators.task_s"], m["spark.task_s"]), (0.8, 0.2))
        self.assertEqual((m["operators.stages"], m["spark.stages"], m["core.stages"]), (1, 1, 0))
        self.assertEqual((m["sched.jobs"], m["sched.stages"], m["sched.tasks"]), (1, 2, 4))
        self.assertAlmostEqual(m["driver.serial_s"], 1.5)  # 2 s pass, tasks busy 0.5 s
        self.assertEqual((m["stream.batches"], m["stream.lifecycle_s"]), (0, 0.0))
        kinds = [s["kind"] for s in trace.spans(run_index)]
        self.assertEqual(kinds, ["run", "pass", "query", "call", "force", "job", "stage", "stage"])


class InputTest(unittest.TestCase):
    def test_generation_is_deterministic(self):
        a, b = gen.tables(event_rows=2_000, copies=3), gen.tables(event_rows=2_000, copies=3)
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        s1, s2 = gen.shuffled(a["events"], 7), gen.shuffled(b["events"], 7)
        self.assertTrue(s1.equals(s2))
        self.assertFalse(s1.equals(gen.shuffled(a["events"], 8)))

    def test_seed_changes_row_order_only(self):
        ev = gen.tables(["events"], 2_000)["events"]
        s = gen.shuffled(ev, 3)
        self.assertTrue(s.sort_by("event_id").equals(ev.sort_by("event_id")))

    def test_key_shifted_union_is_thirty_times_with_dense_ids(self):
        base = gen.tables(["events"], 1_000)["events"]
        big = gen.tables(["events"], 1_000, 30)["events"]
        self.assertEqual(big.num_rows, 30 * base.num_rows)
        ids = np.sort(big["event_id"].to_numpy())
        self.assertTrue((ids == np.arange(big.num_rows)).all())
        users = big["user_id"].to_numpy()
        self.assertEqual(users.max() // gen.N_USERS, 29)
        self.assertTrue((big["value"].to_numpy()[-1_000:] == base["value"].to_numpy()).all())


class ReportTest(unittest.TestCase):
    def test_summary_line_is_well_under_two_kilobytes(self):
        metrics = {k: stats.metric(123456.78901234567, u) for k, u in run.END_TO_END.items()}
        line = stats.result_line(True, 123456, 0, metrics)
        self.assertLess(len(line), 1000)
        parsed = json.loads(line)
        self.assertEqual(set(parsed), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(parsed["metrics"]), set(run.END_TO_END))

    def test_per_layer_names_match_benchmark_json(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([m["name"] for m in spec["per_layer"]], run.per_layer_names())
        self.assertEqual({m["name"] for m in spec["end_to_end"]}, set(run.END_TO_END))
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))

    def test_setup_s_runs_from_jvm_start_to_the_first_timed_pass(self):
        recs = [{"k": "host", "jvm_to_session_s": 4.0},
                {"k": "setup", "s": 20.0}, {"k": "setup", "s": 6.0},
                {"k": "ready", "since_jvm_start_s": 30.5},
                {"k": "pass", "phase": "timed", "s": 3.0, "cpu_s": 9.0},
                {"k": "pass", "phase": "timed", "s": 5.0, "cpu_s": 11.0},
                {"k": "rss", "peak_mb": 2000.0}]
        metrics, detail = run.end_to_end(recs)
        self.assertEqual(metrics["setup_s"]["value"], 30.5)
        self.assertEqual((metrics["pass_s"]["value"], metrics["cpu_s"]["value"]), (4.0, 10.0))
        self.assertEqual(detail["setups_s"], [24.0, 6.0])

    def test_digest_failures_name_the_query(self):
        recs = [{"k": "query", "q": "q_a", "phase": "setup", "pass": 1, "digest": "1"},
                {"k": "query", "q": "q_a", "phase": "timed", "pass": 1, "digest": "2"},
                {"k": "query", "q": "q_b", "phase": "timed", "pass": 1, "digest": None,
                 "err": "boom"}]
        bad, n = run.digest_failures(recs)
        self.assertEqual(set(bad), {"q_a", "q_b"})
        self.assertEqual(n, 2)


class CompareTest(unittest.TestCase):
    SPEC = {"end_to_end": [{"name": "pass_s", "unit": "s", "better": "lower", "bound": 0.1}],
            "per_layer": []}

    @staticmethod
    def runs(cpus, heap, values):
        detail = {"workload": "w", "host": {"cpus": cpus, "heap": heap}}
        return [(detail, {"metrics": {"pass_s": {"value": v, "unit": "s"}}}) for v in values]

    def test_refuses_runs_from_different_configurations(self):
        with self.assertRaises(SystemExit):
            compare.compare(self.runs(4, "4g", [1.0]), self.runs(32, "4g", [1.0]), self.SPEC)
        with self.assertRaises(SystemExit):
            compare.compare(self.runs(4, "4g", [1.0]), self.runs(4, "12g", [1.0]), self.SPEC)

    def test_flags_a_median_worse_than_its_bound(self):
        rows = compare.compare(self.runs(4, "4g", [1.0, 1.1, 0.9]),
                               self.runs(4, "4g", [1.2, 1.3, 1.25]), self.SPEC)
        self.assertEqual(rows[0][-1], "WORSE")
        rows = compare.compare(self.runs(4, "4g", [1.0, 1.1, 0.9]),
                               self.runs(4, "4g", [1.05, 1.0, 0.95]), self.SPEC)
        self.assertEqual(rows[0][-1], "ok")


if __name__ == "__main__":
    unittest.main()
