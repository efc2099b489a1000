"""Self-tests of the benchmark's own logic.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import metrics  # noqa: E402


def step(name, kind, seconds, ok=True, start=0, end=0, traced=False):
    return {"name": name, "kind": kind, "seconds": seconds, "ok": ok, "error": "",
            "start_ms": start, "end_ms": end, "traced": traced}


class Stats(unittest.TestCase):
    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            metrics.median([])

    def test_tail_needs_ten_samples_beyond(self):
        # 20 samples: the median has exactly 10 beyond it, p75 only 5
        self.assertEqual(metrics.tail(list(range(1, 21))), (50, 10))
        self.assertIsNone(metrics.tail(list(range(1, 20))))
        # 100 samples: p90 has 10 beyond it, p95 only 5
        self.assertEqual(metrics.tail(list(range(1, 101))), (90, 90))
        # ties at the cut do not count as beyond it
        self.assertIsNone(metrics.tail([1.0] * 50))


class Names(unittest.TestCase):
    def test_metric_names(self):
        for ok in ("setup_s", "GraftSession.create_s", "exec.task_skew", "9lives", "a-b"):
            self.assertTrue(metrics.valid_name(ok), ok)
        for bad in ("", "_x", ".x", "a b", "a/b", "x" * 65, "naïve"):
            self.assertFalse(metrics.valid_name(bad), bad)

    def test_benchmark_json_names_are_valid_and_unique(self):
        root = os.path.dirname(os.path.dirname(HERE))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        names += [w["name"] for w in spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertTrue(all(metrics.valid_name(n) for n in names))
        for m in metrics.MODULES:
            self.assertIn(f"{m}.jobs", names)
            self.assertIn(f"{m}.busy_s", names)


class Ops(unittest.TestCase):
    result = {
        "iterations": [
            {"steps": [step("a", "read", 1), step("b", "write", 1)]},
            {"steps": [step("a", "read", 1, ok=False), step("b", "write", 1)]},
        ],
        "warm_up": [step("a", "read", 1)],
        "checks": [{"step": "a", "dump": "x"}, {"step": "mv_final_state", "ok": True}],
    }

    def test_failed_steps_are_counted(self):
        self.assertEqual(metrics.count_ops(self.result, {"a": True, "b": True}), (6, 1))

    def test_oracle_mismatch_fails_every_execution_of_the_step(self):
        self.assertEqual(metrics.count_ops(self.result, {"a": True, "b": False}), (6, 3))

    def test_failed_final_check_counts(self):
        r = dict(self.result, checks=[{"step": "mv_final_state", "ok": False}])
        self.assertEqual(metrics.count_ops(r, {}), (6, 2))


class Attribution(unittest.TestCase):
    def test_call_site_to_module(self):
        long_form = ("org.apache.spark.sql.Dataset.count(Dataset.scala:10)\n"
                     "graft.operators.DedupOps$.dupComponents(DedupOps.scala:120)\n"
                     "graft.Pipelines$.runCorpusPipeline(Pipelines.scala:160)\n")
        self.assertEqual(metrics.module_of([long_form]), "DedupOps")
        self.assertEqual(metrics.module_of(["parquet at Tables.scala:41"]), "Tables")
        # pool-thread call sites name no module: the execution's call site decides
        pool = "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768"
        self.assertEqual(metrics.module_of([pool, long_form]), "DedupOps")
        # an action issued by the benchmark belongs to the span it ran in
        self.assertEqual(metrics.module_of([pool, "collect at Main.scala:75"],
                                           "SparkEntry.queries:q1_pricing_summary"), "SparkEntry")
        self.assertEqual(metrics.module_of([pool], "warm_up"), "other")
        self.assertEqual(metrics.module_of([]), "other")

    def test_innermost_span(self):
        spans = [{"id": 0, "name": "outer", "start": 0, "end": 100},
                 {"id": 1, "name": "inner", "start": 10, "end": 20}]
        self.assertEqual(metrics.innermost_span(spans, 15), "inner")
        self.assertEqual(metrics.innermost_span(spans, 50), "outer")
        self.assertEqual(metrics.innermost_span(spans, 500), "")

    def test_busy_shares_sum_to_the_union(self):
        share = metrics.attribute_busy({1: (0, 4), 2: (2, 6), 3: (10, 11), 4: (5, 5)})
        self.assertAlmostEqual(sum(share.values()), 7.0)
        self.assertEqual(share, {1: 3.0, 2: 3.0, 3: 1.0, 4: 0.0})

    def test_module_sums_equal_driver_totals(self):
        pool = "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768"
        jobs = [
            {"id": 1, "start": 1000, "end": 3000, "stages": [1], "execution_id": "7",
             "call_short": pool, "call_long": ""},
            {"id": 2, "start": 2000, "end": 4000, "stages": [2], "execution_id": "",
             "call_short": "parquet at Tables.scala:41", "call_long": ""},
            {"id": 3, "start": 5000, "end": 5500, "stages": [3], "execution_id": "",
             "call_short": "collect at Main.scala:1", "call_long": ""},
            {"id": 4, "start": 9000, "end": 9500, "stages": [4], "execution_id": "",
             "call_short": "x at Other.scala:1", "call_long": ""},  # outside any step
            {"id": 5, "start": 200, "end": 400, "stages": [5], "execution_id": "",
             "call_short": "parquet at Tables.scala:41", "call_long": ""},
        ]
        stages = [{"id": i, "tasks": 2, "skew": 1.0} for i in range(1, 6)]
        result = {
            "iterations": [
                # each step is traced in one of the two iterations; the job of
                # the untraced step (id 5) is left out of the totals
                {"loop": "nightly", "latency_s": 4.0, "lag_s": 0.0,
                 "steps": [step("s1", "write", 2.5, start=100, end=500),
                           step("s2", "read", 2.0, start=4000, end=6000, traced=True)]},
                {"loop": "nightly", "latency_s": 5.0, "lag_s": 0.0,
                 "steps": [step("s1", "write", 3.0, start=1000, end=4000, traced=True),
                           step("s2", "read", 1.5, start=7000, end=7500)]}],
            "setup_s": 1.0, "create_s": 0.5,
            "checks": [], "peak_rss_mb": 100.0,
            "trace": {"jobs": jobs, "stages": stages, "queries": [], "blocks": [],
                      "streaming": [],
                      "executions": {"7": "graft.operators.FinanceOps$.x(FinanceOps.scala:3)"},
                      "spans": [{"id": 0, "name": "RelationalOps.mvRead",
                                 "start": 4000, "end": 6000}]},
        }
        out = metrics.layers(result)
        self.assertEqual(out["driver.jobs"], 3)
        self.assertEqual(out["driver.stages"], 3)
        self.assertEqual(sum(out[f"{m}.jobs"] for m in metrics.MODULES), out["driver.jobs"])
        self.assertAlmostEqual(sum(out[f"{m}.busy_s"] for m in metrics.MODULES),
                               out["driver.busy_s"])
        self.assertAlmostEqual(out["driver.busy_s"], 3.5)
        self.assertAlmostEqual(out["driver.gap_s"], 1.5)
        self.assertEqual(out["FinanceOps.jobs"], 1)
        self.assertEqual(out["Tables.jobs"], 1)
        self.assertEqual(out["RelationalOps.jobs"], 1)
        self.assertEqual(out["trace.steps"], 2)
        self.assertAlmostEqual(out["trace.run_s"], 5.0)
        self.assertAlmostEqual(out["trace.untraced_run_s"], 4.0)
        self.assertAlmostEqual(out["trace.overhead_s"], 1.0)

    def test_end_to_end(self):
        result = {
            "iterations": [
                {"loop": "nightly", "latency_s": 4.0, "lag_s": 0.0,
                 "steps": [step("a", "write", 3.0), step("b", "read", 1.0)]},
                {"loop": "nightly", "latency_s": 9.0, "lag_s": 0.0,
                 "steps": [step("a", "write", 6.0), step("b", "read", 3.0)]},
                {"loop": "nightly", "latency_s": 5.0, "lag_s": 0.0,
                 "steps": [step("a", "write", 4.0), step("b", "read", 1.0)]}],
            "setup_s": 12.5, "peak_rss_mb": 100.0, "heap_retained_mb": 90.0,
        }
        e = metrics.end_to_end(result)
        self.assertEqual((e["run_s"], e["write_s"], e["read_s"]), (5.0, 4.0, 1.0))
        self.assertEqual(e["increment_p50_s"], 5.0)
        self.assertEqual(e["setup_s"], 12.5)
        self.assertEqual(e["heap_retained_mb"], 90.0)


if __name__ == "__main__":
    unittest.main()
