"""Self-tests of the benchmark's own code; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import math
import os
import re
import sys
import tempfile
import unittest

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import worker  # noqa: E402
import workloads as W  # noqa: E402
from tracing import (  # noqa: E402
    Span,
    Tracer,
    hd_quantile,
    median,
    percentile,
    read_event_log,
    self_time,
    uncovered,
    union_length,
)

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class TestDeterminism(unittest.TestCase):
    def _same_dirs(self, a: str, b: str) -> bool:
        cmp = filecmp.dircmp(a, b)
        _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
        return not (mismatch or errors or cmp.left_only or cmp.right_only) and all(
            self._same_dirs(f"{a}/{d}", f"{b}/{d}") for d in cmp.common_dirs
        )

    def test_catalog_is_byte_identical_per_seed(self):
        with tempfile.TemporaryDirectory() as d:
            datagen.make_catalog(f"{d}/a", 7)
            datagen.make_catalog(f"{d}/b", 7)
            datagen.make_catalog(f"{d}/c", 8)
            self.assertEqual(len(os.listdir(f"{d}/a")), 10)
            self.assertTrue(self._same_dirs(f"{d}/a", f"{d}/b"))
            self.assertFalse(self._same_dirs(f"{d}/a", f"{d}/c"))

    def test_svm_data_is_byte_identical_per_seed(self):
        with tempfile.TemporaryDirectory() as d:
            for tag, seed in (("a", 3), ("b", 3), ("c", 4)):
                datagen.make_svm(f"{d}/{tag}", seed, 400)
            self.assertTrue(self._same_dirs(f"{d}/a", f"{d}/b"))
            self.assertFalse(self._same_dirs(f"{d}/a/libsvm", f"{d}/c/libsvm"))

    def test_libsvm_shards_hold_the_mixture(self):
        x, labels = datagen.svm_mixture(5, 300)
        with tempfile.TemporaryDirectory() as d:
            datagen.make_svm(d, 5, 300)
            lines = []
            for f in sorted(os.listdir(f"{d}/libsvm")):
                with open(f"{d}/libsvm/{f}") as fh:
                    lines += fh.read().splitlines()
        self.assertEqual(len(lines), 300)
        first = lines[0].split()
        self.assertEqual(int(first[0]), labels[0])
        vals = [float(tok.split(":")[1]) for tok in first[1:]]
        self.assertEqual([int(tok.split(":")[0]) for tok in first[1:]], list(range(1, 65)))
        np.testing.assert_array_equal(np.float32(vals), x[0])

    def test_query_sample_is_seeded_stratified_and_balanced(self):
        pool = W.load_pool()
        queries, fixed = pool["queries"], list(pool["operators"].values())
        a = W.sample_queries(11, pool)
        self.assertEqual(a, W.sample_queries(11, pool))
        self.assertNotEqual(a, W.sample_queries(12, pool))
        self.assertEqual(len(a), W.SQL_SAMPLE_SIZE)
        self.assertEqual(len(set(a)), len(a))
        self.assertEqual({queries[k]["module"] for k in a}, set(W.SQL_MODULES))
        self.assertTrue(all(queries[k]["cost_s"] <= W.MAX_QUERY_COST_S for k in a))
        totals = [
            sum(queries[k]["cost_s"] for k in W.sample_queries(seed, pool)) + sum(fixed)
            for seed in range(20)
        ]
        self.assertLess(max(totals) / min(totals), 1.05)

    def test_oracle_mismatches_are_never_sampled(self):
        pool = W.load_pool()
        self.assertTrue(set(W.ORACLE_MISMATCH) <= set(pool["queries"]))
        # seeds whose sample held one of them before they were excluded
        for seed in (46, 94, 124, 155, 159, 168):
            self.assertFalse(set(W.sample_queries(seed, pool)) & set(W.ORACLE_MISMATCH))

    def test_allocate(self):
        self.assertEqual(W.allocate({"a": 90, "b": 10}, 4), {"a": 3, "b": 1})
        self.assertEqual(sum(W.allocate({"a": 5, "b": 5, "c": 1}, 7).values()), 7)
        with self.assertRaises(ValueError):
            W.allocate({"a": 1, "b": 1}, 1)


class TestArithmetic(unittest.TestCase):
    def test_percentile_matches_numpy(self):
        rng = np.random.default_rng(0)
        for n in (1, 2, 5, 31, 100):
            xs = list(rng.lognormal(size=n))
            for q in (0, 10, 50, 90, 100):
                self.assertAlmostEqual(percentile(xs, q), float(np.percentile(xs, q)), 12)
        self.assertEqual(median([3.0, 1.0, 2.0]), 2.0)
        with self.assertRaises(ValueError):
            percentile([], 50)

    def test_harrell_davis_quantile(self):
        # n=3, q=0.5: Beta(2, 2) weights I(1/3) = 7/27, 13/27, 7/27
        self.assertAlmostEqual(hd_quantile([27.0, 0.0, 0.0], 0.5), 7.0, 5)
        self.assertAlmostEqual(hd_quantile([5.0] * 8, 0.9), 5.0, 12)
        xs = [1.0, 2.0, 4.0, 8.0, 16.0]
        self.assertAlmostEqual(hd_quantile([1.0, 2.0, 3.0, 4.0, 5.0], 0.5), 3.0, 9)
        self.assertLess(hd_quantile(xs, 0.5), hd_quantile(xs, 0.9))
        self.assertLess(hd_quantile(xs, 0.9), max(xs))
        # every order statistic carries weight, not only the middle one
        self.assertGreater(hd_quantile([1.0, 2.5, 3.0, 4.0, 5.0], 0.5), 3.0)
        with self.assertRaises(ValueError):
            hd_quantile([], 0.5)

    def test_union_and_uncovered(self):
        self.assertEqual(union_length([]), 0.0)
        self.assertEqual(union_length([(0, 2), (1, 3), (5, 6)]), 4.0)
        self.assertEqual(union_length([(0, 10), (2, 3)]), 10.0)
        # intervals are clipped to the window
        self.assertEqual(uncovered(0, 10, [(-5, 1), (4, 6), (9, 20)]), 6.0)
        self.assertEqual(uncovered(0, 10, []), 10.0)

    def test_self_time(self):
        parent = Span("p", None, "op", 0.0, 10.0)
        kids = [Span("a", "p", "c", 1.0, 4.0), Span("b", "p", "c", 3.0, 5.0)]
        self.assertEqual(self_time(parent, kids), 6.0)
        self.assertEqual(self_time(parent, []), 10.0)

    def test_tracer_nesting_and_dump(self):
        t = Tracer("t", enabled=True)
        run = t.begin("run")
        op = t.begin("op")
        t.end(op)
        t.end(run)
        self.assertEqual(op.parent, run.id)
        with tempfile.TemporaryDirectory() as d:
            t.dump(f"{d}/trace.json")
            with open(f"{d}/trace.json") as fh:
                spans = {s["name"]: s for s in json.load(fh)["spans"]}
        self.assertAlmostEqual(spans["op"]["self_s"], op.end - op.start)
        self.assertAlmostEqual(
            spans["run"]["self_s"], (run.end - run.start) - (op.end - op.start)
        )
        off = Tracer("t", enabled=False)
        self.assertIsNone(off.begin("run"))
        self.assertEqual(off.spans, [])

    def test_event_log_is_joined_per_job_group(self):
        events = [
            {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
             "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "g"}},
            {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1000,
             "Stage IDs": [2], "Properties": {}},
            {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
             "Task End Reason": {"Reason": "Success"},
             "Task Metrics": {"Executor Run Time": 500, "Executor CPU Time": 2e8,
                              "JVM GC Time": 10, "Result Size": 100,
                              "Input Metrics": {"Records Read": 7, "Bytes Read": 70},
                              "Shuffle Write Metrics": {"Shuffle Bytes Written": 5}}},
            {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
             "Task End Reason": {"Reason": "ExceptionFailure"}},
            {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
             "Task End Reason": {"Reason": "Success"}},
            {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
            {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        ]
        with tempfile.TemporaryDirectory() as d:
            with open(f"{d}/app-1", "w") as fh:
                fh.write("\n".join(json.dumps(e) for e in events) + "\n")
            stats = read_event_log(d)
        self.assertEqual(set(stats), {"g"})
        g = stats["g"]
        self.assertEqual((g.jobs, g.stages, g.tasks, g.task_failures), (1, 1, 2, 1))
        self.assertEqual((g.input_records, g.input_bytes, g.result_bytes), (7, 70, 100))
        self.assertEqual(g.shuffle_write_bytes, 5)
        self.assertTrue(math.isclose(g.executor_run_s, 0.5))
        self.assertTrue(math.isclose(g.executor_cpu_s, 0.2))
        self.assertEqual(g.job_intervals, [(1.0, 3.0)])


class TestMetricNames(unittest.TestCase):
    def test_spec_shape(self):
        spec = _spec()
        self.assertEqual(
            set(spec), {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
        )
        self.assertEqual([w["name"] for w in spec["workloads"]], list(W.WORKLOADS))
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertIsNotNone(NAME_RE.fullmatch(n), n)
            self.assertLessEqual(len(n), 64)
        for m in spec["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in spec["end_to_end"]))

    def test_worker_reports_exactly_the_spec_metrics(self):
        spec = _spec()
        # an op's latency is the median of its executions: q -> 1.5, r -> 0.25
        rec = [worker.OpRecord(i, "q", "queries.graph", 0.5 + i, True) for i in range(3)]
        rec += [worker.OpRecord(i, "r", "queries.graph", 0.25, True) for i in range(3)]
        rec.append(worker.OpRecord(3, "r", "queries.graph", 9.0, False))
        e2e = worker.end_to_end(rec, [1.0, 2.0, 3.0], 9.0)
        self.assertEqual(set(e2e), {m["name"] for m in spec["end_to_end"]})
        self.assertEqual(e2e["wall_s"], 2.0)
        self.assertAlmostEqual(e2e["op_p50_s"], 0.875, 9)  # symmetric weights
        self.assertEqual(e2e["op_p90_s"], hd_quantile([0.25, 1.5], 0.9))
        self.assertTrue(0.875 < e2e["op_p90_s"] < 1.5)

        t = Tracer("t", enabled=True)
        rec = []
        for i in range(2):
            s = t.begin("op")
            t.end(s)
            rec.append(worker.OpRecord(i, "q", "queries.graph", 0.5, True, span_id=s.id))
        setup = {"session.get_spark_s": 1.0, "registry.load_all_s": 0.1,
                 "session.warmup_s": 2.0}
        with tempfile.TemporaryDirectory() as d:
            layers = worker.per_layer(
                rec, [1.0, 1.0], setup, t, d, 4, None, {"fail_ratio": 0.0, "peak_rss_mb": 1.0}
            )
        layers["trace.overhead_s"] = 0.0  # added by run.py
        self.assertEqual(set(layers), {m["name"] for m in spec["per_layer"]})
        self.assertEqual(layers["queries.graph.sum_s"], 0.5)


if __name__ == "__main__":
    unittest.main()
