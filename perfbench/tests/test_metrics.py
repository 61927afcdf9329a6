"""Tests of the benchmark's own logic.

Run: python3 -m unittest discover -s perfbench/tests
"""
import datetime as dt
import decimal
import filecmp
import json
import os
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics as m  # noqa: E402


class TailTest(unittest.TestCase):
    def test_needs_twenty_samples(self):
        self.assertIsNone(m.tail(list(range(19))))

    def test_ten_samples_beyond(self):
        for n in (20, 24, 37, 100, 1000):
            samples = [float(i) for i in range(1, n + 1)]
            pct, value, count = m.tail(samples)
            self.assertEqual(count, n)
            beyond = sum(1 for s in samples if s > value)
            self.assertGreaterEqual(beyond, 10, n)
            # one percentile higher would leave fewer than ten beyond
            rank = -(-(pct + 1) * n // 100)
            self.assertLess(n - rank, 10, n)

    def test_known_values(self):
        self.assertEqual(m.tail(list(range(1, 21))), (50, 10, 20))
        self.assertEqual(m.tail(list(range(1, 101))), (90, 90, 100))
        self.assertEqual(m.tail(list(range(100, 0, -1))), (90, 90, 100))

    def test_late_early_ratio(self):
        self.assertIsNone(m.late_early_ratio([3.0]))
        self.assertEqual(m.late_early_ratio([2.0, 3.0]), 1.5)
        self.assertEqual(m.late_early_ratio([1, 1, 9, 9, 9, 2, 2]), 2.0)


class UnionTest(unittest.TestCase):
    def test_disjoint_overlapping_nested(self):
        self.assertEqual(m.union_length([]), 0)
        self.assertEqual(m.union_length([(0, 10), (20, 30)]), 20)
        self.assertEqual(m.union_length([(0, 10), (5, 15)]), 15)
        self.assertEqual(m.union_length([(0, 100), (10, 20), (30, 40)]), 100)
        self.assertEqual(m.union_length([(30, 40), (0, 10), (10, 30)]), 40)

    def test_clipped_to_window(self):
        self.assertEqual(m.union_length([(-5, 5), (8, 20)], lo=0, hi=10), 7)
        self.assertEqual(m.union_length([(20, 30)], lo=0, hi=10), 0)


SQL_SITE = "\n".join([
    "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1234)",
    "org.apache.spark.sql.execution.SQLExecution$.withNewExecutionId(SQLExecution.scala:99)",
    "scala.collection.immutable.List.foreach(List.scala:333)",
    "graft.sources.Zones$.overwriteSwap(Zones.scala:210)",
    "graft.pipeline.DailyRun$.$anonfun$runStages$3(DailyRun.scala:121)",
    "graft.pipeline.DailyRun$.run(DailyRun.scala:77)",
    "perfbench.Harness$.main(Harness.scala:83)"])


class AttributionTest(unittest.TestCase):
    def test_innermost_graft_frame(self):
        self.assertEqual(m.attribute(SQL_SITE, "op2/pipeline.DailyRun"), "sources.Zones")

    def test_frame_to_module(self):
        cases = {
            "graft.pipeline.DailyRun$.$anonfun$run$1(DailyRun.scala:77)": "pipeline.DailyRun",
            "graft.operators.Scd2$.applyZonedWithStats(Scd2.scala:250)": "operators.Scd2",
            "graft.operators.Dedup$Bands.probe(Dedup.scala:12)": "operators.Dedup",
            "graft.SparkEntry$.$anonfun$queries$5(SparkEntry.scala:170)": "SparkEntry",
            "graft.Tables$.load(Tables.scala:20)": "graft.Tables",
            "graft.control.RunLedger$.startRun(RunLedger.scala:66)": "control.RunLedger",
        }
        for frame, module in cases.items():
            self.assertEqual(m.module_of_frame(frame), module, frame)

    def test_benchmark_only_stack(self):
        site = "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1)\n" \
               "perfbench.Harness$.main(Harness.scala:95)"
        self.assertEqual(m.attribute(site, "op7/SparkEntry.result"), "SparkEntry")
        self.assertEqual(m.attribute(site, "op7/pipeline.DailyRun"), "unattributed")
        self.assertEqual(m.attribute(None, "op7/SparkEntry.build"), "unattributed")

    def test_every_listed_module_is_reachable(self):
        for mod in m.MODULES:
            if mod == "SparkEntry":
                continue
            layer, name = mod.split(".")
            frame = f"graft.{layer}.{name}$.f({name}.scala:1)"
            self.assertEqual(m.attribute(frame, "op1/x"), mod)


class FingerprintTest(unittest.TestCase):
    def test_column_and_row_order_do_not_matter(self):
        a = m.fingerprint(["B", "a"], [[1, "x"], [2, "y"]])
        b = m.fingerprint(["a", "b"], [["y", 2], ["x", 1]])
        self.assertEqual(a, b)

    def test_numbers_compare_by_value(self):
        self.assertEqual(m.fingerprint(["n"], [[2]]), m.fingerprint(["n"], [[2.0]]))
        self.assertEqual(m.fingerprint(["n"], [[decimal.Decimal("1.50")]]),
                         m.fingerprint(["n"], [[1.5]]))
        self.assertNotEqual(m.fingerprint(["n"], [[0.1 + 0.2]]), m.fingerprint(["n"], [[0.3]]))

    def test_nulls_and_nan(self):
        self.assertEqual(m.fingerprint(["n"], [[None], [float("nan")]]),
                         m.fingerprint(["n"], [[float("nan")], [None]]))
        self.assertNotEqual(m.fingerprint(["n"], [[None]]), m.fingerprint(["n"], [[0]]))

    def test_jvm_cells_match_duckdb_cells(self):
        jvm = [[["t", "2024-01-01T00:00"], ["d", "1.0E10"], ["n", "3.25"], ["D", "1998-09-02"],
                7, "a"]]
        duck = [[dt.datetime(2024, 1, 1), 1e10, 3.25, dt.date(1998, 9, 2), 7, "a"]]
        cols = ["ts", "big", "dec", "day", "n", "s"]
        self.assertEqual(m.fingerprint(cols, [[m.decode_jvm(v) for v in r] for r in jvm]),
                         m.fingerprint(cols, duck))

    def test_aware_timestamps_compare_as_utc(self):
        aware = dt.datetime(2024, 1, 1, 7, tzinfo=dt.timezone(dt.timedelta(hours=7)))
        self.assertEqual(m.fingerprint(["t"], [[aware]]),
                         m.fingerprint(["t"], [[dt.datetime(2024, 1, 1)]]))


def _run(ops, jobs, stages, plans=()):
    return {"ops": ops, "trace": {"jobs": jobs, "stages": stages, "plans": list(plans)}}


def _op(index, start, end, timed=True):
    return {"index": index, "timed": timed, "start_ms": start, "end_ms": end,
            "s": (end - start) / 1e3, "codegen_s": 0.0, "calls": [],
            "fs": {"files_written": 2, "files_deleted": 0, "files_live": 4, "bytes_live": 100}}


def _stage(sid, tasks=4, task_s=1.0, shuffle=0):
    return {"id": sid, "tasks": tasks, "tasks_failed": 0, "task_s": task_s,
            "scheduler_delay_s": 0.0, "gc_s": 0.0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": shuffle, "spill_bytes": 0, "input_bytes": 0, "output_bytes": 0}


class PerLayerTest(unittest.TestCase):
    def test_gap_attribution_and_skipped_stages(self):
        zones = "graft.sources.Zones$.read(Zones.scala:1)"
        ledger = "graft.control.RunLedger$.startRun(RunLedger.scala:1)"
        run = _run(
            [_op(1, 0, 1000, timed=False), _op(2, 2000, 4000)],
            [{"id": 0, "start_ms": 100, "end_ms": 900, "span": None, "stages": [0],
              "call_site": zones},
             {"id": 1, "start_ms": 2000, "end_ms": 2600, "span": "op2/pipeline.DailyRun",
              "stages": [1, 2], "call_site": zones},
             {"id": 2, "start_ms": 2400, "end_ms": 3000, "span": "op2/pipeline.DailyRun",
              "stages": [2, 3], "call_site": ledger},
             {"id": 3, "start_ms": 3500, "end_ms": 3600, "span": "op2/pipeline.DailyRun",
              "stages": [4], "call_site": "perfbench.Harness$.main(Harness.scala:1)"}],
            [_stage(0), _stage(1, shuffle=10), _stage(2), _stage(3), _stage(4)])
        out, share = m.per_layer(run)
        self.assertEqual(out["spark.jobs"], 3)  # the untimed op's job is not counted
        self.assertEqual(out["spark.stages_skipped"], 1)  # stage 2 ran in job 1 only
        self.assertEqual(out["sources.Zones.jobs"], 1)
        self.assertEqual(out["sources.Zones.task_s"], 2.0)
        self.assertEqual(out["sources.Zones.shuffle_bytes"], 10)
        self.assertEqual(out["control.RunLedger.task_s"], 1.0)
        self.assertAlmostEqual(out["unattributed.job_s"], 0.1)
        self.assertAlmostEqual(out["driver.gap_s"], 2.0 - 1.1)
        self.assertAlmostEqual(out["driver.gap_share"], 0.45)
        self.assertAlmostEqual(share, 1.2 / 1.3)
        self.assertEqual(out["fs.files_written"], 2)

    def test_every_listed_metric_is_produced(self):
        out, _ = m.per_layer(_run([_op(1, 0, 10)], [], []))
        produced = set(out) | {"pipeline.late_early_ratio", "host.calib_s", "host.nproc",
                               "host.load1", "trace.overhead_share"}
        self.assertEqual({n for n, _, _ in m.PER_LAYER} - produced, set())

    def test_benchmark_json_lists_the_same_metrics(self):
        path = os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside the benchmark")
        with open(path) as f:
            listed = [(x["name"], x["unit"], x["better"]) for x in json.load(f)["per_layer"]]
        self.assertEqual(listed, m.PER_LAYER)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            pa_ = gen.warehouse(5, 3, 60, a)
            pb = gen.warehouse(5, 3, 60, b)
            self.assertEqual([p["truth"] for p in pa_], [p["truth"] for p in pb])
            for p, q in zip(pa_, pb):
                cmp = filecmp.dircmp(p["inputs"][0], q["inputs"][0])
                self.assertEqual(cmp.left_list, cmp.right_list)
                for name in cmp.left_list:
                    self.assertTrue(filecmp.cmp(os.path.join(p["inputs"][0], name),
                                                os.path.join(q["inputs"][0], name), shallow=False))
            self.assertNotEqual([p["truth"] for p in gen.warehouse(6, 3, 60, a + "/x")],
                                [p["truth"] for p in pa_])

    def test_warehouse_truth_accumulates(self):
        with tempfile.TemporaryDirectory() as d:
            plan = gen.warehouse(1, 4, 200, d)
        live = 0
        for p in plan:
            t = p["truth"]
            live += t["new"]
            self.assertEqual(t["live"], live)
            self.assertLessEqual(t["expired"], t["processed"])
        self.assertEqual(plan[0]["truth"]["expired"], 0)

    def test_corpus_plants_one_drift_night(self):
        with tempfile.TemporaryDirectory() as d:
            plan = gen.corpus(3, 4, 40, d, drift_night=3)
        self.assertEqual([p["truth"]["retrain"] for p in plan], [False, False, True, False])
        for p in plan:
            t = p["truth"]
            self.assertEqual(t["input"], t["quality"] + t["exact"] + t["near"] + t["sem"] +
                             t["published"])
