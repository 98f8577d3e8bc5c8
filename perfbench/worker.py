"""One benchmark run in one process: set up Spark, check outputs, time
passes, write ``result.json``.

Started by ``run.py`` with the environment already sized (CPUs, driver
memory, temp and event-log directories).  Layout of a run:

1. set-up (``setup_s``, process start to first timed op): ``get_spark``,
   ``registry.load_all``, source registration, and a warm-up that runs
   every op of the pass once and checks its output (oracle comparison,
   row count or reference value);
2. timed passes over the op list for ``--seconds`` (at least the
   workload's ``min_passes``; no further pass is started when it would
   overrun), with only session hygiene between ops;
3. checks that the timed passes returned what the warm-up returned.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, before pyspark is imported

import argparse  # noqa: E402
import contextlib  # noqa: E402
import functools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())

import workloads as W  # noqa: E402
from tracing import Tracer, hd_quantile, median, read_event_log, uncovered  # noqa: E402


@dataclass
class OpRecord:
    pass_index: int
    name: str
    layer: str
    seconds: float
    ok: bool
    value: object = None
    span_id: str | None = None


@dataclass
class RunState:
    failures: list[str] = field(default_factory=list)
    attempts: int = 0

    def fail(self, msg: str) -> None:
        self.failures.append(msg)


# -- process-tree memory ---------------------------------------------------


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants, read from /proc."""
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)] = int(rest[1])
        rss[int(d)] = int(rest[21])
    members, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in members:
                members.add(c)
                frontier.append(c)
    return sum(rss.get(p, 0) for p in members) * os.sysconf("SC_PAGE_SIZE")


class RssSampler:
    """Peak of ``tree_rss_bytes`` for this process, sampled every 0.2 s."""

    interval = 0.2

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


@contextlib.contextmanager
def warehouse_under(path: str):
    """Build the session with its SQL warehouse at ``path``.

    ``get_spark`` pins ``spark.sql.warehouse.dir`` to a fixed directory
    in the system temp dir, which the catalog creates on first use; the
    benchmark keeps every file it causes inside the run directory.  The
    location has no effect on timings."""
    from pyspark.sql import SparkSession

    original = SparkSession.Builder.config

    def config(self, key=None, value=None, conf=None, *, map=None):
        if key == "spark.sql.warehouse.dir":
            value = path
        return original(self, key, value, conf, map=map)

    SparkSession.Builder.config = config
    try:
        yield
    finally:
        SparkSession.Builder.config = original


# -- workloads -----------------------------------------------------------------


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def hygiene(spark) -> None:
    """What a long-lived app does between requests: release cached
    relations and persisted RDDs (local checkpoints included)."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)


class OperatorCalls:
    """Direct calls of ``psvm_spark.operators`` on the catalog tables.
    Each returns its output row count, which must not change from pass
    to pass."""

    def __init__(self, spark, sf_dir: str):
        self.spark, self.sf_dir = spark, sf_dir

    def __call__(self, name: str) -> int:
        return getattr(self, name)()

    def _table(self, name: str):
        from psvm_spark.catalog import load_table

        return load_table(self.spark, self.sf_dir, name)

    def band_join(self) -> int:
        from pyspark.sql import functions as F

        from psvm_spark.operators.rangejoin import band_join

        def micros(col: str):
            # the catalog's dates are TIMESTAMP_NTZ; the session zone is UTC
            return F.unix_micros(F.col(col).cast("timestamp"))

        li = self._table("lineitem").select("l_orderkey", micros("l_shipdate").alias("lts"))
        od = self._table("orders").select("o_orderkey", micros("o_orderdate").alias("ots"))
        day = 86_400_000_000
        return band_join(li, od, ["l_orderkey"], ["o_orderkey"], "lts", "ots", 30 * day).count()

    def asof_join(self) -> int:
        from pyspark.sql import functions as F

        from psvm_spark.operators.asof import asof_join

        ev = self._table("events").withColumn("t", F.unix_micros("ts"))
        buys = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "t")
        views = ev.filter(F.col("event_type") == "view").select("user_id", "t", "value")
        return asof_join(
            buys, views, ["user_id"], ["user_id"], "t", "t", "value", "last_view_value"
        ).count()

    def salted_groupby(self) -> int:
        from pyspark.sql import functions as F

        from psvm_spark.operators.salt import salted_groupby

        return salted_groupby(
            self._table("lineitem"),
            ["l_returnflag", "l_linestatus"],
            partial_aggs=[F.sum("l_quantity").alias("s"), F.count("*").alias("c")],
            final_aggs=[F.sum("s").alias("sum_qty"), F.sum("c").alias("n")],
        ).count()

    def bucketed_join(self) -> int:
        from psvm_spark.operators.bucketing import bucketed_join

        return bucketed_join(
            self.spark,
            self._table("orders"),
            self._table("lineitem"),
            "o_orderkey",
            "l_orderkey",
            names=("perfbench_bucket_orders", "perfbench_bucket_lineitem"),
        ).count()

    def connected_components(self) -> int:
        from pyspark.sql import functions as F

        from psvm_spark.operators.components import connected_components

        # part-supplier graph; driver_threshold=0 keeps the distributed
        # label-propagation path at this data size
        edges = (
            self._table("lineitem")
            .select(F.col("l_partkey").alias("a"), (F.col("l_suppkey") + 1_000_000).alias("b"))
            .distinct()
        )
        return connected_components(edges, driver_threshold=0, assume_unique=True).count()


class SqlWorkload:
    """``sql_analytics``: a seeded sample of registered queries plus the
    direct operator calls, over the generated catalog."""

    min_passes = 1

    def __init__(self, spark, data_dir: str, seed: int, tracer: Tracer):
        from psvm_spark import registry

        self.spark, self.sf_dir, self.tracer = spark, data_dir, tracer
        self.registry = registry
        pool = W.load_pool()["queries"]
        self.names = W.sample_queries(seed)
        missing = [k for k in self.names if k not in registry.QUERIES]
        if missing:
            raise RuntimeError(f"pooled queries no longer registered: {missing}")
        self.module = {k: pool[k]["module"] for k in self.names}
        self.operators = OperatorCalls(spark, data_dir)
        self.counts: dict[str, int] = {}
        self.reference: dict[str, object] = {}

    def oracle_sql(self, key: str) -> bool:
        # A deferred oracle builder digests the repository's fixture
        # files, not this run's generated tables: rows-only here.
        return key in self.registry.ORACLES and not callable(
            dict.__getitem__(self.registry.ORACLES, key)
        )

    def warmup(self, state: RunState) -> None:
        """Run every sampled query once: oracle-backed ones through
        ``compare_query``, rows-only ones counted.  The operator calls
        run once too; their row counts are the reference for the passes."""
        from psvm_spark.oracle import compare_query, duckdb_connection

        con = duckdb_connection(self.sf_dir)
        try:
            for key in self.names:
                state.attempts += 1
                try:
                    if self.oracle_sql(key):
                        res = compare_query(self.spark, self.sf_dir, key, con)
                        if not res.ok:
                            state.fail(f"oracle mismatch: {res}")
                    else:
                        self.counts[key] = self.registry.QUERIES[key](self.spark, self.sf_dir).count()
                except Exception as ex:  # noqa: BLE001 - a failed check is a failed op
                    state.fail(f"check {key}: {type(ex).__name__}: {_first_line(ex)}")
                hygiene(self.spark)
        finally:
            con.close()
        for name in W.OPERATOR_OPS:
            state.attempts += 1
            try:
                self.reference[name] = self.operators(name)
            except Exception as ex:  # noqa: BLE001
                state.fail(f"warm-up {name}: {type(ex).__name__}: {_first_line(ex)}")
            hygiene(self.spark)

    def check_after(self, records: list[OpRecord], state: RunState) -> None:
        for key, before in self.counts.items():
            state.attempts += 1
            try:
                after = self.registry.QUERIES[key](self.spark, self.sf_dir).count()
            except Exception as ex:  # noqa: BLE001
                state.fail(f"recount {key}: {type(ex).__name__}: {_first_line(ex)}")
                continue
            if after != before:
                state.fail(f"row count of {key} changed: {before} -> {after}")
        _check_reference(records, self.reference, state)

    def ops(self):
        for key in self.names:
            yield key, f"queries.{self.module[key]}", self._query_op(key)
        for name in W.OPERATOR_OPS:
            yield name, f"operators.{name}", functools.partial(self.operators, name)

    def _query_op(self, key: str):
        fn = self.registry.QUERIES[key]

        def run():
            span = self.tracer.begin(f"call:{key}")
            df = fn(self.spark, self.sf_dir)
            self.tracer.end(span)
            span = self.tracer.begin("call:materialize")
            materialize(df)
            self.tracer.end(span)

        return run


class SvmWorkload:
    """The paper's pipeline on a generated Gaussian mixture: ingest,
    simultaneous multiclass hinge, linear and kernel-mapped LinearSVC,
    Nystrom scoring, failsafe power iteration."""

    min_passes = 1

    ACC_FLOOR = {"multiclass_acc": 0.95, "kernel_acc": 0.90}

    def __init__(self, spark, data_dir: str, tracer: Tracer):
        import numpy as np
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        self.spark, self.dir, self.tracer, self.F = spark, data_dir, tracer, F
        t = pq.read_table(f"{data_dir}/embeddings.parquet")
        vec_id = t["vec_id"].to_numpy()
        self.labels = t["label"].to_numpy()
        self.x = np.stack(t["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
        self.n_rows = len(vec_id)
        self.train_mask = vec_id % 5 < 4
        self.n_train = int(self.train_mask.sum())
        self.n_test = self.n_rows - self.n_train
        self.reference: dict[str, object] = {}
        emb = spark.read.parquet(f"{data_dir}/embeddings.parquet")
        self.train = emb.filter(F.col("vec_id") % 5 < 4)
        self.test = emb.filter(F.col("vec_id") % 5 == 4)
        binary = emb.select(
            "vec_id", (F.col("label") % 2).cast("double").alias("y"), "embedding"
        )
        self.train_bin = binary.filter(F.col("vec_id") % 5 < 4)
        self.test_bin = binary.filter(F.col("vec_id") % 5 == 4)

    def warmup(self, state: RunState) -> None:
        """One full untimed pass: starts the Python workers, JIT-compiles
        every code path, and gives the reference outputs, which are
        checked here and which every timed pass must repeat exactly."""
        import numpy as np

        for name, _, fn in self.ops():
            state.attempts += 1
            try:
                self.reference[name] = fn()
            except Exception as ex:  # noqa: BLE001
                state.fail(f"warm-up {name}: {type(ex).__name__}: {_first_line(ex)}")
            hygiene(self.spark)
        ref = self.reference
        want = (self.n_rows, int(self.labels.sum()))
        if ref.get("sources.libsvm_text.read") != want:
            state.fail(f"libsvm_text read {ref.get('sources.libsvm_text.read')}, wrote {want}")
        for key, op in (("multiclass_acc", "ml.multiclass.eval"),
                        ("kernel_acc", "ml.svm.score_nystrom")):
            if ref.get(op, 0.0) < self.ACC_FLOOR[key]:
                state.fail(f"{key} {ref.get(op)} below floor {self.ACC_FLOOR[key]}")
        # the same deterministic power steps on the driver, in float64
        xt = self.x[self.train_mask]
        v = np.ones(W.SVM_DIM) / np.sqrt(W.SVM_DIM)
        for _ in range(W.SVM_POWER_ITERS):
            w = xt.T @ (xt @ v)
            lam = float(v @ w)
            v = w / np.linalg.norm(w)
        got = ref.get("ml.failsafe.power_iteration", 0.0)
        if abs(got - lam) > 1e-9 * lam:
            state.fail(f"power iteration eigenvalue {got} vs driver-side {lam}")

    def check_after(self, records: list[OpRecord], state: RunState) -> None:
        _check_reference(records, self.reference, state)

    def ops(self):
        yield "sources.libsvm_text.read", "sources.libsvm_text", self._read
        yield "ml.multiclass.fit", "ml.multiclass", self._fit_multiclass
        yield "ml.multiclass.eval", "ml.multiclass", self._eval_multiclass
        yield "ml.svm.fit_linear", "ml.svm", self._fit_linear
        yield "ml.svm.fit_nystrom", "ml.svm", self._fit_nystrom
        yield "ml.svm.fit_rff", "ml.svm", self._fit_rff
        yield "ml.svm.score_nystrom", "ml.svm", self._score_nystrom
        yield "ml.failsafe.power_iteration", "ml.failsafe", self._power_iteration

    def _call(self, name: str, fn, *args, **kw):
        span = self.tracer.begin(f"call:{name}")
        try:
            return fn(*args, **kw)
        finally:
            self.tracer.end(span)

    def _read(self):
        F = self.F
        df = (
            self.spark.read.format("libsvm_text")
            .option("path", f"{self.dir}/libsvm")
            .option("numFeatures", str(W.SVM_DIM))
            .load()
        )
        row = self._call(
            "collect", lambda: df.agg(F.count("*").alias("n"), F.sum("label").alias("s")).first()
        )
        return int(row.n), int(row.s)

    def _fit_multiclass(self):
        from psvm_spark.ml.multiclass import train_multiclass_hinge

        self.W = self._call(
            "train_multiclass_hinge", train_multiclass_hinge,
            self.train, "embedding", "label", W.SVM_CLASSES, W.SVM_DIM,
            n_iter=W.SVM_MULTICLASS_ITERS,
        )
        return float(abs(self.W).sum())

    def _eval_multiclass(self):
        from psvm_spark.ml.multiclass import eval_multiclass

        df = self._call("eval_multiclass", eval_multiclass, self.test, "embedding", "label", self.W)
        return float(self._call("collect", df.first).accuracy)

    def _fit_linear(self):
        from psvm_spark.ml.svm import fit_eval_linear_svc

        _, acc = self._call(
            "fit_eval_linear_svc", fit_eval_linear_svc, self.train_bin, self.test_bin, "embedding",
            max_iter=W.SVM_LINEAR_MAX_ITER,
        )
        return acc

    def _fit_nystrom(self):
        import numpy as np

        from psvm_spark.ml.svm import fit_eval_linear_svc, nystrom_map

        # landmarks: the first SVM_LANDMARKS training rows (vec_id % 5 < 4)
        F = self.F
        rows = self._call(
            "collect",
            self.train.filter(F.col("vec_id") < W.SVM_LANDMARKS * 5 // 4)
            .select("vec_id", "embedding").collect,
        )
        rows.sort(key=lambda r: r.vec_id)
        self.landmarks = np.array([r.embedding for r in rows], dtype=np.float64)
        if len(self.landmarks) != W.SVM_LANDMARKS:
            raise RuntimeError(f"{len(self.landmarks)} landmarks, want {W.SVM_LANDMARKS}")
        mapped = self._call(
            "nystrom_map", nystrom_map, self.train_bin, "embedding", self.landmarks, W.SVM_GAMMA
        )
        self.ny_model, acc = self._call(
            "fit_eval_linear_svc", fit_eval_linear_svc, mapped,
            nystrom_map(self.test_bin, "embedding", self.landmarks, W.SVM_GAMMA), "phi",
            max_iter=W.SVM_LINEAR_MAX_ITER,
        )
        return acc

    def _fit_rff(self):
        from psvm_spark.ml.svm import fit_eval_linear_svc, rff_map

        tr = self._call(
            "rff_map", rff_map, self.train_bin, "embedding", W.SVM_DIM, W.SVM_GAMMA, W.SVM_RFF_DIM
        )
        te = rff_map(self.test_bin, "embedding", W.SVM_DIM, W.SVM_GAMMA, W.SVM_RFF_DIM)
        _, acc = self._call(
            "fit_eval_linear_svc", fit_eval_linear_svc, tr, te, "phi",
            max_iter=W.SVM_LINEAR_MAX_ITER,
        )
        return acc

    def _score_nystrom(self):
        from pyspark.ml.functions import array_to_vector

        from psvm_spark.ml.svm import nystrom_map

        F = self.F
        te = self._call(
            "nystrom_map", nystrom_map, self.test_bin, "embedding", self.landmarks, W.SVM_GAMMA
        ).withColumn("features", array_to_vector(F.col("phi")))
        pred = self._call("transform", self.ny_model.transform, te)
        row = self._call(
            "collect",
            pred.agg(F.avg((F.col("prediction") == F.col("y")).cast("double")).alias("acc")).first,
        )
        return float(row.acc)

    def _power_iteration(self):
        import tempfile

        from psvm_spark.ml.failsafe import FailsafeState, power_iteration

        with tempfile.TemporaryDirectory(prefix="perfbench_ckpt_") as d:
            _, lam = self._call(
                "power_iteration", power_iteration, self.train, "embedding", W.SVM_DIM,
                n_iter=W.SVM_POWER_ITERS, state=FailsafeState(d), checkpoint_every=2,
            )
        return lam


def _first_line(ex: BaseException) -> str:
    return (str(ex).splitlines() or [""])[0][:200]


def _check_reference(records: list[OpRecord], reference: dict, state: RunState) -> None:
    """Ops that return a result (row count, accuracy, eigenvalue) must
    return exactly the warm-up's value on every timed pass."""
    for r in records:
        if r.ok and r.name in reference and r.value != reference[r.name]:
            state.fail(f"pass {r.pass_index} {r.name} returned {r.value!r}, "
                       f"warm-up {reference[r.name]!r}")


# -- the run ---------------------------------------------------------------------


def timed_passes(spark, workload, tracer: Tracer, seconds: float, state: RunState):
    sc = spark.sparkContext
    ops = list(workload.ops())
    records: list[OpRecord] = []
    pass_walls: list[float] = []
    start = time.perf_counter()
    i = 0
    while i < workload.min_passes or (
        time.perf_counter() - start + median(pass_walls) <= seconds
    ):
        pass_span = tracer.begin("pass", index=i)
        t_pass = time.perf_counter()
        for name, layer, fn in ops:
            span = tracer.begin("op", op=name, layer=layer)
            if span is not None:
                sc.setJobGroup(span.id, name)
            state.attempts += 1
            t = time.perf_counter()
            try:
                value, ok = fn(), True
            except Exception as ex:  # noqa: BLE001 - a failed op is counted, not retried
                value, ok = None, False
                state.fail(f"{name}: {type(ex).__name__}: {_first_line(ex)}")
            dt = time.perf_counter() - t
            tracer.end(span, ok=ok)
            records.append(OpRecord(i, name, layer, dt, ok, value, span.id if span else None))
            hygiene(spark)
        pass_walls.append(time.perf_counter() - t_pass)
        tracer.end(pass_span)
        i += 1
    if tracer.enabled:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return records, pass_walls


def op_latencies(records) -> list[float]:
    """One latency per op: the median of its successful timed executions."""
    by_op: dict[str, list[float]] = {}
    for r in records:
        if r.ok:
            by_op.setdefault(r.name, []).append(r.seconds)
    return [median(ts) for ts in by_op.values()]


def end_to_end(records, pass_walls, setup_s: float) -> dict[str, float]:
    times = op_latencies(records)
    return {
        "setup_s": setup_s,
        "wall_s": median(pass_walls),
        "op_p50_s": hd_quantile(times, 0.5),
        "op_p90_s": hd_quantile(times, 0.9),
    }


SVM_METRICS = ("train_rows_per_s", "score_rows_per_s", "multiclass_acc", "kernel_acc")


def svm_metrics(records, svm: SvmWorkload) -> dict[str, float]:
    def total(names):
        return sum(r.seconds for r in records if r.name in names and r.ok)

    fits = ("ml.multiclass.fit", "ml.svm.fit_linear", "ml.svm.fit_nystrom", "ml.svm.fit_rff")
    scores = ("ml.multiclass.eval", "ml.svm.score_nystrom")
    n_fit = sum(1 for r in records if r.name in fits and r.ok)
    n_score = {s: sum(1 for r in records if r.name == s and r.ok) for s in scores}
    last = {r.name: r.value for r in records if r.ok}
    return {
        "train_rows_per_s": svm.n_train * n_fit / total(fits),
        "score_rows_per_s": svm.n_test * sum(n_score.values()) / total(scores),
        "multiclass_acc": last["ml.multiclass.eval"],
        "kernel_acc": last["ml.svm.score_nystrom"],
    }


def per_layer(records, pass_walls, setup: dict, tracer: Tracer, log_dir: str,
              cpus: int, svm: SvmWorkload | None, extra: dict) -> dict[str, float]:
    """Per-layer numbers from the traced passes joined to the event log,
    plus the run's ``extra`` figures.  Layers the workload does not run
    report 0; ``trace.overhead_s`` is added by the caller, which knows
    the untraced run."""
    stats = read_event_log(log_dir)
    spans = {s.id: s for s in tracer.spans}
    n_pass = len(pass_walls)
    out: dict[str, float] = dict(setup)

    def by_name(name):
        return [r for r in records if r.name == name and r.ok]

    def med(name):
        rs = by_name(name)
        return median([r.seconds for r in rs]) if rs else 0.0

    def st(r):
        return stats.get(r.span_id)

    def gap(r) -> float:
        s, js = spans[r.span_id], st(r)
        return uncovered(s.start, s.end, js.job_intervals if js else [])

    # sources / operators / queries
    reads = by_name("sources.libsvm_text.read")
    out["sources.libsvm_text.read_s"] = med("sources.libsvm_text.read")
    out["sources.libsvm_text.rows_per_s"] = (
        svm.n_rows * len(reads) / sum(r.seconds for r in reads) if reads and svm else 0.0
    )
    for op in W.OPERATOR_OPS:
        out[f"operators.{op}_s"] = med(op)
    for m in W.SQL_MODULES:
        ts = [r.seconds for r in records if r.layer == f"queries.{m}" and r.ok]
        out[f"queries.{m}.p50_s"] = median(ts) if ts else 0.0
        out[f"queries.{m}.sum_s"] = sum(ts) / n_pass
    # ml
    fits = by_name("ml.multiclass.fit")
    out["ml.multiclass.fit_s"] = med("ml.multiclass.fit")
    out["ml.multiclass.jobs_per_fit"] = (
        sum(st(r).jobs for r in fits if st(r)) / len(fits) if fits else 0.0
    )
    out["ml.multiclass.result_bytes_per_iter"] = (
        sum(st(r).result_bytes for r in fits if st(r)) / len(fits) / 8 if fits else 0.0
    )
    out["ml.multiclass.driver_gap_s"] = median([gap(r) for r in fits]) if fits else 0.0
    out["ml.multiclass.eval_s"] = med("ml.multiclass.eval")
    out["ml.svm.score_nystrom_s"] = med("ml.svm.score_nystrom")
    svm_fits = [r for n in ("ml.svm.fit_linear", "ml.svm.fit_nystrom", "ml.svm.fit_rff")
                for r in by_name(n)]
    out["ml.svm.fit_linear_s"] = med("ml.svm.fit_linear")
    out["ml.svm.fit_nystrom_s"] = med("ml.svm.fit_nystrom")
    out["ml.svm.fit_rff_s"] = med("ml.svm.fit_rff")
    out["ml.svm.jobs_per_fit"] = (
        sum(st(r).jobs for r in svm_fits if st(r)) / len(svm_fits) if svm_fits else 0.0
    )
    out["ml.svm.data_passes_per_fit"] = (
        sum(st(r).input_records for r in svm_fits if st(r)) / len(svm_fits) / svm.n_train
        if svm_fits and svm else 0.0
    )
    out["ml.failsafe.power_iter_s"] = med("ml.failsafe.power_iteration")
    # Spark totals per pass
    ok = [r for r in records if r.ok and st(r)]
    tot = {k: sum(getattr(st(r), k) for r in ok) for k in (
        "jobs", "stages", "tasks", "task_failures", "executor_run_s", "executor_cpu_s",
        "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
        "result_bytes", "input_records", "input_bytes",
    )}
    for k, v in tot.items():
        if k.startswith("input_"):
            out[f"catalog.{k}"] = v / n_pass
        else:
            out[f"spark.{k}"] = v / n_pass
    op_time = sum(r.seconds for r in records if r.ok)
    out["spark.driver_gap_s"] = sum(gap(r) for r in records if r.ok) / n_pass
    out["spark.core_busy_ratio"] = tot["executor_run_s"] / (op_time * cpus)
    out["fail_ratio"] = extra["fail_ratio"]
    out["peak_rss_mb"] = extra["peak_rss_mb"]
    out.update({k: extra.get(k, 0.0) for k in SVM_METRICS})
    out["trace.wall_s"] = median(pass_walls)
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    a = ap.parse_args(argv)

    tracer = Tracer(f"{a.workload}-{a.seed}-{os.getpid()}", enabled=bool(a.trace))
    run_span = tracer.begin("run", workload=a.workload, seed=a.seed)
    state = RunState()
    setup: dict[str, float] = {}

    t = time.perf_counter()
    span = tracer.begin("session.get_spark")
    from psvm_spark.session import get_spark

    with warehouse_under(os.path.join(a.out, "warehouse")):
        spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    tracer.end(span)
    setup["session.get_spark_s"] = time.perf_counter() - t

    t = time.perf_counter()
    span = tracer.begin("registry.load_all")  # source registration included
    from psvm_spark import registry
    from psvm_spark.sources import (
        avro_ocf, jsonl_stream_sink, libsvm_text, replay_stream, segmented_csv, webdataset_tar,
    )

    registry.load_all()
    for source in (avro_ocf, jsonl_stream_sink, libsvm_text, replay_stream, segmented_csv,
                   webdataset_tar):
        source.register(spark)
    tracer.end(span)
    setup["registry.load_all_s"] = time.perf_counter() - t

    if a.workload == "svm_train":
        workload = SvmWorkload(spark, a.data, tracer)
    else:
        workload = SqlWorkload(spark, a.data, a.seed, tracer)
    t = time.perf_counter()
    span = tracer.begin("session.warmup")
    workload.warmup(state)
    tracer.end(span)
    setup["session.warmup_s"] = time.perf_counter() - t
    setup_s = time.perf_counter() - T0

    with RssSampler() as rss:
        records, pass_walls = timed_passes(spark, workload, tracer, a.seconds, state)
    t = time.perf_counter()
    workload.check_after(records, state)
    check_s = time.perf_counter() - t

    svm = workload if isinstance(workload, SvmWorkload) else None
    metrics = end_to_end(records, pass_walls, setup_s)
    extra = {"fail_ratio": len(state.failures) / state.attempts,
             "peak_rss_mb": rss.peak / 2**20, "check_s": check_s,
             "passes": len(pass_walls), "ops_timed": len(records)}
    if svm is not None and all(r.ok for r in records):
        extra.update(svm_metrics(records, svm))
    env = {
        "cpus": a.cpus,
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "seed": a.seed,
        "pyspark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "numpy": __import__("numpy").__version__,
        "ops": [name for name, _, _ in workload.ops()],
    }
    tracer.end(run_span)
    spark.stop()

    layers = None
    if tracer.enabled:
        layers = per_layer(records, pass_walls, setup, tracer, os.path.join(a.out, "eventlog"),
                           a.cpus, svm, extra)
        tracer.dump(os.path.join(a.out, "trace.json"))
    result = {
        "correct": not state.failures,
        "attempted": state.attempts,
        "failed": len(state.failures),
        "failures": state.failures[:20],
        "end_to_end": metrics,
        "extra": extra,
        "per_layer": layers,
        "env": env,
        "op_seconds": [[r.pass_index, r.name, r.seconds, r.ok] for r in records],
    }
    with open(os.path.join(a.out, "result.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except Exception:  # noqa: BLE001 - report and exit non-zero without a result
        traceback.print_exc()
        sys.exit(3)
