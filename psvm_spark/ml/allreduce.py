"""Resident-shard AllReduce: an iterative solve as ONE barrier stage.

PSVM keeps every machine's rows in memory for the whole solve and ends
each interior-point step with one AllReduce of a small per-rank partial
[psvm:pd_ipm.cc — SURVEY.md A10; file:line unavailable, §0.1].  A Spark
port that starts one job per iteration pays a job's fixed cost (task
launch, Python worker start-up, plan analysis; 0.15–0.25 s measured
here) every step however small the step is.  ``run`` instead:

  - launches a single barrier ``mapInArrow`` stage over ``df``, on the
    caller's thread (so the job keeps the caller's job group);
  - each rank converts its shard, once, into blocks (``load`` per Arrow
    batch, float64) and connects to a TCP hub on the driver;
  - the hub (a helper thread on the driver, rank 0 of the AllReduce)
    sends the current iterate to every rank, receives each rank's
    partial (``partial(blocks, x)``), sums the partials in partition-id
    order and hands the sum to ``solve``, which takes the step.

The barrier is used for gang scheduling only — every rank is running
before round 1 — not for the exchange: ``BarrierTaskContext.allGather``
costs ~1 s per call here, several whole jobs.  The barrier stage feeds
a shuffle, so it is a ShuffleMapStage, which Spark retries as a whole
when a rank fails (a failed barrier ResultStage is not retried).  The
iterate lives on the driver, so when a rank's connection drops the hub
accepts a full new set of ranks and resends the current iterate: no
round is lost and the result does not change.

Bit-reproducibility: the reduce order is fixed (partition id), and a
rank's blocks are the Arrow batches its partition arrives in, so the
result equals a per-iteration ``mapInPandas`` + sorted-collect solver
bit for bit.  Inputs with more partitions than
``sc.defaultParallelism`` (the barrier needs one slot per rank) are
first repartitioned to that many partitions, which changes the float
summation order; every other input keeps its partitioning.

Memory: each rank holds its shard in float64 for the whole solve,
n/p · d · 8 bytes per rank (n rows, d columns, p ranks); ~100 MB in
total for 200k × 64.  Shards that do not fit in executor memory are
out of scope.  Barrier stages need static allocation (Spark refuses
them under dynamic allocation).

Security and liveness: the hub binds on ``spark.driver.bindAddress``
(falling back to ``spark.driver.host``) and ranks connect to
``spark.driver.host``.  A connection counts as a rank only after it
presents the solve's random token (``secrets``).  Every accept and
recv is bounded: waits poll the job, so a failed job raises at once,
and no wait lasts longer than ``_WAIT_S`` without progress.
"""

from __future__ import annotations

import hmac
import secrets
import socket
import struct
import threading
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame

# Longest wait for any single accept/recv without progress.
_WAIT_S = 600.0
# How often a blocked hub wait looks at the job's state.
_TICK_S = 0.2
_TOKEN_BYTES = 32
_HELLO = struct.Struct("!iq")  # partition id, task attempt id
_LEN = struct.Struct("!q")  # payload bytes; -1 ends the solve


class _RankLost(Exception):
    """A rank's connection dropped: its barrier stage attempt failed."""


class _JobEnded(RuntimeError):
    """The barrier job ended while the hub still waited for ranks."""


class _Hub:
    """Driver-side AllReduce hub; called (``hub(x)``) on the hub thread."""

    def __init__(self, server, token: bytes, n_ranks: int, size: int, address):
        self.server = server
        self.address = address
        self.token = token
        self.n_ranks = n_ranks
        self.size = size
        self.ranks: dict[int, tuple[socket.socket, int]] = {}
        # ranks of a failed attempt (task attempt id <= floor) are refused
        self.floor = -1
        self.job_done = threading.Event()

    def __call__(self, x: np.ndarray) -> np.ndarray:
        """Send ``x`` to every rank; return the sum of their partials,
        added in partition-id order onto zeros."""
        if self.n_ranks == 0:
            return np.zeros(self.size)
        payload = np.ascontiguousarray(x, dtype="<f8").tobytes()
        frame = _LEN.pack(len(payload)) + payload
        while True:
            if len(self.ranks) < self.n_ranks:
                self._accept_all()
            order = sorted(self.ranks)
            try:
                for pid in order:
                    self.ranks[pid][0].sendall(frame)
                total = np.zeros(self.size)
                for pid in order:
                    total += self._recv_partial(self.ranks[pid][0])
            except (_RankLost, ConnectionError):
                # the stage attempt failed; Spark relaunches all ranks
                self.floor = max(tid for _, tid in self.ranks.values())
                self.close_ranks()
                continue
            return total

    def finish(self) -> None:
        stop = _LEN.pack(-1)
        for conn, _ in self.ranks.values():
            try:
                conn.sendall(stop)
            except OSError:
                pass
        self.close_ranks()

    def close_ranks(self) -> None:
        for conn, _ in self.ranks.values():
            conn.close()
        self.ranks.clear()

    def _check_job(self) -> None:
        if self.job_done.is_set():
            raise _JobEnded("the barrier job ended before the solve finished")

    def _accept_all(self) -> None:
        """Accept connections until every partition id has an
        authenticated rank of the current attempt."""
        idle = 0.0
        while len(self.ranks) < self.n_ranks:
            self._check_job()
            try:
                conn, _ = self.server.accept()
            except socket.timeout:
                idle += _TICK_S
                if idle >= _WAIT_S:
                    raise TimeoutError(
                        f"{len(self.ranks)} of {self.n_ranks} ranks connected in {_WAIT_S:.0f} s"
                    ) from None
                continue
            idle = 0.0
            hello = self._hello(conn)
            if hello is None:
                conn.close()
                continue
            pid, tid = hello
            old = self.ranks.get(pid)
            if tid <= self.floor or not 0 <= pid < self.n_ranks or (old and old[1] > tid):
                conn.close()
                continue
            if old:
                old[0].close()
            conn.settimeout(_TICK_S)
            self.ranks[pid] = (conn, tid)

    def _hello(self, conn: socket.socket) -> tuple[int, int] | None:
        """(partition id, task attempt id) of an authenticated rank, or
        None for a connection without the token."""
        conn.settimeout(_TICK_S)
        try:
            data = self._recv_exact(conn, _TOKEN_BYTES + _HELLO.size, limit_s=2.0)
        except (_RankLost, OSError):  # closed, silent or reset
            return None
        if not hmac.compare_digest(data[:_TOKEN_BYTES], self.token):
            return None
        return _HELLO.unpack(data[_TOKEN_BYTES:])

    def _recv_partial(self, conn: socket.socket) -> np.ndarray:
        (n,) = _LEN.unpack(self._recv_exact(conn, _LEN.size))
        if n != 8 * self.size:
            raise ValueError(f"rank sent {n} bytes, want {8 * self.size}")
        return np.frombuffer(self._recv_exact(conn, n), dtype="<f8")

    def _recv_exact(self, conn: socket.socket, n: int, limit_s: float = _WAIT_S) -> bytes:
        buf = bytearray()
        idle = 0.0
        while len(buf) < n:
            try:
                chunk = conn.recv(n - len(buf))
            except socket.timeout:
                self._check_job()
                idle += _TICK_S
                if idle >= limit_s:
                    raise TimeoutError(f"no data from a rank in {limit_s:.0f} s") from None
                continue
            if not chunk:
                raise _RankLost()
            buf += chunk
            idle = 0.0
        return bytes(buf)


def vector_loader() -> Callable:
    """Rank-side ``load``: the first column (array<float> or
    array<double>) of an Arrow batch as an n × d float64 block."""

    def load(batch):
        import numpy as _np

        flat = batch.column(0).flatten().to_numpy(zero_copy_only=False)
        return flat.reshape(batch.num_rows, -1).astype(_np.float64)

    return load


def _rank_task(host: str, port: int, token: bytes, load: Callable, partial: Callable):
    """The barrier task body.  Self-contained: executor Python workers
    cannot import psvm_spark."""
    wait_s, hello_fmt, len_fmt = _WAIT_S, _HELLO.format, _LEN.format

    def rank(batches):
        import socket as _socket
        import struct as _struct

        import numpy as _np
        from pyspark import BarrierTaskContext

        ctx = BarrierTaskContext.get()
        blocks = [load(b) for b in batches if b.num_rows]

        def recv_exact(s, n):
            buf = bytearray()
            while len(buf) < n:
                chunk = s.recv(n - len(buf))
                if not chunk:
                    raise ConnectionError("AllReduce hub closed the connection")
                buf += chunk
            return bytes(buf)

        with _socket.create_connection((host, port), timeout=wait_s) as s:
            s.sendall(token + _struct.pack(hello_fmt, ctx.partitionId(), ctx.taskAttemptId()))
            while True:
                (n,) = _struct.unpack(len_fmt, recv_exact(s, _struct.calcsize(len_fmt)))
                if n < 0:
                    break
                x = _np.frombuffer(recv_exact(s, n), dtype="<f8")
                out = _np.ascontiguousarray(partial(blocks, x), dtype="<f8").tobytes()
                s.sendall(_struct.pack(len_fmt, len(out)) + out)
        return iter(())

    return rank


def run(
    df: DataFrame,
    load: Callable,
    partial: Callable,
    size: int,
    solve: Callable[[Callable[[np.ndarray], np.ndarray]], object],
):
    """Run ``solve`` against ranks that hold ``df`` resident; return its result.

    ``load(batch)`` maps one non-empty ``pyarrow.RecordBatch`` of ``df``
    to a rank-side block; ``partial(blocks, x)`` maps a rank's blocks
    and the flat float64 iterate ``x`` to ``size`` float64s.  Both run
    on executors and must be self-contained closures.  ``solve`` runs
    on the driver with one argument, the hub: ``hub(x)`` returns the
    partition-id-ordered sum of every rank's partial for ``x`` (zeros
    when ``df`` has no partitions), and ``hub.address`` is its
    (host, port).  The whole solve is one Spark job.
    """
    sc = df.sparkSession.sparkContext
    conf = sc.getConf()
    host = conf.get("spark.driver.host", "localhost")
    token = secrets.token_bytes(_TOKEN_BYTES)
    server = socket.create_server((conf.get("spark.driver.bindAddress", host), 0))
    try:
        server.settimeout(_TICK_S)
        port = server.getsockname()[1]
        jrdd = _barrier_rdd(df, host, port, token, load, partial)
        if jrdd.getNumPartitions() > sc.defaultParallelism:
            # a barrier stage needs a slot per rank; coalesce is refused
            jrdd = _barrier_rdd(
                df.repartition(sc.defaultParallelism), host, port, token, load, partial
            )
        hub = _Hub(server, token, jrdd.getNumPartitions(), size, (host, port))
        if hub.n_ranks == 0:
            return solve(hub)
        return _run_job(sc, jrdd, hub, solve)
    finally:
        server.close()


def _run_job(sc, jrdd, hub: _Hub, solve):
    """The job on the caller's thread (it keeps the caller's job group),
    the hub loop on a helper thread."""
    tag = f"psvm-allreduce-{secrets.token_hex(8)}"
    outcome: dict[str, object] = {}

    def serve():
        try:
            outcome["result"] = solve(hub)
            hub.finish()
        except BaseException as ex:  # noqa: BLE001 — re-raised on the caller's thread
            outcome["error"] = ex
            hub.server.close()  # ranks yet to connect fail at once
            hub.close_ranks()
            sc.cancelJobsWithTag(tag)

    thread = threading.Thread(target=serve, name="psvm-allreduce-hub", daemon=True)
    sc.addJobTag(tag)
    thread.start()
    try:
        # the shuffle makes the barrier stage a retryable ShuffleMapStage
        jrdd.repartition(1).count()
    except Exception as ex:  # noqa: BLE001
        outcome["job_error"] = ex
    finally:
        sc.removeJobTag(tag)
        hub.job_done.set()
        thread.join()
        hub.close_ranks()
    error = outcome.get("error")
    if error is None or isinstance(error, _JobEnded):
        # a failed job is the cause; the hub only saw it end
        error = outcome.get("job_error", error)
    if error is not None:
        raise error
    return outcome["result"]


def _barrier_rdd(df: DataFrame, host: str, port: int, token: bytes, load, partial):
    """The barrier stage as a JVM RDD (it yields no rows)."""
    rank = _rank_task(host, port, token, load, partial)
    return df.mapInArrow(rank, "rank int", barrier=True)._jdf.queryExecution().toRdd().toJavaRDD()
