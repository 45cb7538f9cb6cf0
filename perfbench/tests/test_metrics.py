"""Tests of the benchmark's own arithmetic.

Run: python3 -m unittest discover -s perfbench/tests   (from the repository root)
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import metrics  # noqa: E402
import run  # noqa: E402

MB = metrics.MB


class PercentileRule(unittest.TestCase):
    def test_p90_needs_100_samples_for_10_beyond(self):
        self.assertEqual(metrics.samples_beyond(100, 90), 10)
        self.assertEqual(metrics.samples_beyond(99, 90), 9)
        self.assertEqual(metrics.samples_beyond(16, 90), 1)

    def test_p50_needs_20(self):
        self.assertEqual(metrics.samples_beyond(20, 50), 10)
        self.assertEqual(metrics.samples_beyond(19, 50), 9)

    def test_percentile_interpolates(self):
        xs = list(range(1, 101))
        self.assertAlmostEqual(metrics.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 90.1)
        self.assertEqual(metrics.percentile([3.0], 90), 3.0)


class FailedFrac(unittest.TestCase):
    def test_counts_exceptions_and_wrong_outputs(self):
        ops = [{"name": "a"}, {"name": "b", "error": "java.lang.IllegalStateException"},
               {"name": "c", "wrong": "fingerprint 1 != 2"}, {"name": "d"}]
        self.assertEqual(metrics.failed_frac(ops), 0.5)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.failed_frac([])

    def test_check_marks_fingerprint_and_row_mismatches(self):
        expected = {"q1": {"fp": "7", "rows": 3, "check": "fp"},
                    "q2": {"fp": "0", "rows": 5, "check": "rows"}}
        ops = [{"name": "q1", "fp": "7", "rows": 3}, {"name": "q1", "fp": "8", "rows": 3},
               {"name": "q2", "fp": "123", "rows": 5}, {"name": "q2", "fp": "9", "rows": 4},
               {"name": "q3", "fp": "1", "rows": 1}]
        run.check_registry(ops, expected)
        self.assertEqual([bool(o.get("wrong")) for o in ops], [False, True, False, True, True])


class ListenerArithmetic(unittest.TestCase):
    def test_busy_frac(self):
        self.assertAlmostEqual(metrics.busy_frac(6.0, 2.0, 4), 0.75)
        self.assertEqual(metrics.busy_frac(1.0, 0.0, 4), 0.0)

    def test_driver_gap_subtracts_union_of_jobs(self):
        # window 0..1000 ms; jobs 100-300 and 200-400 overlap, 900-1200 is clipped
        gap = metrics.driver_gap_s(0, 1000, [(100, 300), (200, 400), (900, 1200)])
        self.assertAlmostEqual(gap, (1000 - 300 - 100) / 1e3)
        self.assertAlmostEqual(metrics.driver_gap_s(0, 500, []), 0.5)

    def test_straggler_ratio_uses_longest_stage(self):
        stages = [(50, [10, 10, 40]), (400, [100, 100, 100, 400]), (20, [])]
        self.assertAlmostEqual(metrics.straggler_ratio(stages), 4.0)
        self.assertEqual(metrics.straggler_ratio([]), 1.0)

    def test_phases_and_task_wait_from_synthetic_events(self):
        op = {"kind": "op", "name": "q", "t0": 1000, "marks": [1100, 1150, 1400],
              "phases_s": [0.1, 0.05, 0.25], "total_s": 0.4, "exchanges": 2}
        recs = [
            {"kind": "sql_start", "exec": "7", "site": "collect at Sinks.scala:36",
             "frame": "graft.core.Sinks$.fingerprint(Sinks.scala:36)"},
            {"kind": "job_start", "job": 1, "t": 1010, "stages": [1],
             "site": "parquet at Tables.scala:15",
             "frame": "graft.core.Tables$.table(Tables.scala:15)", "exec": ""},
            {"kind": "job_end", "job": 1, "t": 1050},
            {"kind": "job_start", "job": 2, "t": 1200, "stages": [2, 3],
             "site": "$anonfun at CompletableFuture.java:1768", "frame": "", "exec": "7"},
            {"kind": "job_end", "job": 2, "t": 1390},
            {"kind": "stage_submit", "stage": 1, "attempt": 0, "t": 1010},
            {"kind": "stage_end", "stage": 1, "attempt": 0, "t": 1050, "tasks": 1, "failed": False},
            {"kind": "stage_submit", "stage": 2, "attempt": 0, "t": 1200},
            {"kind": "stage_end", "stage": 2, "attempt": 0, "t": 1300, "tasks": 2, "failed": False},
            {"kind": "stage_submit", "stage": 3, "attempt": 0, "t": 1300},
            {"kind": "stage_end", "stage": 3, "attempt": 0, "t": 1390, "tasks": 1, "failed": False},
        ]
        task = dict(kind="task", ok=True, shuffle_read=0, shuffle_write=0, spill=0)
        recs += [dict(task, stage=1, launch=1020, finish=1040),
                 dict(task, stage=2, launch=1210, finish=1240, shuffle_write=MB),
                 dict(task, stage=2, launch=1230, finish=1290, shuffle_write=MB),
                 dict(task, stage=3, launch=1300, finish=1380, shuffle_read=2 * MB)]
        trace = metrics.Trace(recs, [op], {"Tables.scala": "core.Tables"})
        m = metrics.registry_pass_layers([op], [{"s": 0.02}], trace, cores=4)
        self.assertEqual(m["build.jobs"], 1)
        self.assertAlmostEqual(m["build.task_s"], 0.02)
        self.assertAlmostEqual(m["build.busy_frac"], 0.02 / (0.1 * 4))
        self.assertAlmostEqual(m["build.driver_gap_s"], 0.06)
        self.assertEqual(m["build.unattributed_jobs"], 0)
        self.assertEqual(m["exec.jobs"], 1)
        self.assertEqual(m["exec.stages"], 2)
        self.assertEqual(m["exec.tasks"], 3)
        self.assertAlmostEqual(m["exec.task_s"], 0.17)
        self.assertAlmostEqual(m["exec.busy_frac"], 0.17 / (0.25 * 4))
        self.assertAlmostEqual(m["exec.task_wait_s"], (10 + 30 + 0) / 1e3)
        self.assertAlmostEqual(m["exec.straggler_ratio"], 60 / 45)
        self.assertAlmostEqual(m["exec.shuffle_write_mb"], 2.0)
        self.assertAlmostEqual(m["exec.shuffle_read_mb"], 2.0)
        self.assertEqual(m["plan.exchanges"], 2)
        self.assertEqual(m["core.Tables.jobs"], 1)
        self.assertAlmostEqual(m["core.Tables.job_s"], 0.04)
        self.assertEqual(m["core.Sinks.jobs"], 1)
        self.assertAlmostEqual(m["core.Tables.resolve_s"], 0.02)



class Attribution(unittest.TestCase):
    FMODS = metrics.file_modules([
        "src/main/scala/graft/core/Tables.scala", "src/main/scala/graft/ext/Graph.scala",
        "src/main/scala/graft/Profile.scala", "src/main/scala/graft/ops/Profile.scala",
        "src/main/scala/graft/mlx/FlightPipeline.scala"])

    def test_call_site_file_maps_to_module(self):
        self.assertEqual(metrics.module_of_site("parquet at Tables.scala:15", self.FMODS),
                         "core.Tables")
        self.assertEqual(metrics.module_of_site("collect at Graph.scala:90", self.FMODS),
                         "ext.Graph")

    def test_shared_or_foreign_file_names_map_to_nothing(self):
        self.assertIsNone(metrics.module_of_site("collect at Profile.scala:63", self.FMODS))
        self.assertIsNone(metrics.module_of_site("run at CompletableFuture.java:1768",
                                                 self.FMODS))
        self.assertIsNone(metrics.module_of_site("", self.FMODS))

    def test_frame_names_the_module(self):
        self.assertEqual(metrics.module_of_frame(
            "graft.ext.Graph$.$anonfun$g01$1(Graph.scala:90)"), "ext.Graph")
        self.assertEqual(metrics.module_of_frame(
            "graft.ops.Profile$.constantColumns(Profile.scala:63)"), "ops.Profile")
        self.assertIsNone(metrics.module_of_frame("org.apache.spark.rdd.RDD.collect(RDD.scala:1)"))

    def test_frame_wins_then_sql_execution_then_site(self):
        sql = {"3": "graft.core.Sinks$.fingerprint(Sinks.scala:36)"}
        job = {"frame": "", "exec": "3", "site": "run at CompletableFuture.java:1"}
        self.assertEqual(metrics.attribute(job, sql, self.FMODS), "core.Sinks")
        job = {"frame": "graft.ext.Graph$.x(Graph.scala:1)", "exec": "3", "site": ""}
        self.assertEqual(metrics.attribute(job, sql, self.FMODS), "ext.Graph")
        job = {"frame": "", "exec": "", "site": "parquet at Tables.scala:15"}
        self.assertEqual(metrics.attribute(job, sql, self.FMODS), "core.Tables")

    def test_stage_function_is_the_last_resort(self):
        job = {"frame": "", "exec": "", "site": "treeAggregate at RDD.scala:1"}
        self.assertIsNone(metrics.attribute(job, {}, self.FMODS))
        op = {"name": "train", "module": "mlx.FlightPipeline"}
        self.assertEqual(metrics.attribute(job, {}, self.FMODS, op), "mlx.FlightPipeline")



class BenchmarkFile(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics and workloads run.py has."""

    def setUp(self):
        path = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside the benchmark")
        self.bench = json.load(open(path))

    def test_workloads(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]], list(run.WORKLOADS))

    def test_metric_names_and_units(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["end_to_end"]},
                         run.END_TO_END_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["per_layer"]},
                         metrics.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
