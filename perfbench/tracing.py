"""Spans, Spark event-log parsing and the arithmetic behind the metrics.

Spans are recorded by the benchmark around its own calls into the
program (run -> pass -> op -> call), kept in memory and written once at
exit.  Spark-side work is attributed to an op by tagging the op's jobs
with ``SparkContext.setJobGroup(<span id>)`` and joining the event log's
job, stage and task records back to the span.  Nothing here imports
pyspark, so the self-tests run without a JVM.
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import asdict, dataclass, field

import numpy as np


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (NumPy's default method), q in [0, 100]."""
    if not values:
        raise ValueError("percentile of an empty list")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def hd_quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-quantile, q in (0, 1): the mean of
    all order statistics weighted by a Beta((n+1)q, (n+1)(1-q))
    distribution.  A single order statistic jumps when two values near
    the quantile swap ranks; over the 15 ops of a sql_analytics pass the
    8th-ranked latency spread by 0.35 of its median across ten seeds."""
    if not values:
        raise ValueError("quantile of an empty list")
    xs = np.sort(np.asarray(values, dtype=np.float64))
    n, bins = len(xs), 4096
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    # Beta density at the midpoints of n * bins cells, summed per order
    # statistic's interval [(i-1)/n, i/n); midpoints avoid the endpoint
    # singularity when a or b is below 1.
    x = (np.arange(n * bins) + 0.5) / (n * bins)
    density = np.exp((a - 1) * np.log(x) + (b - 1) * np.log1p(-x))
    w = density.reshape(n, bins).sum(axis=1)
    return float(w @ xs / w.sum())


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def uncovered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Part of [start, end] that no interval covers (intervals are clipped)."""
    clipped = [
        (max(lo, start), min(hi, end)) for lo, hi in intervals if hi > start and lo < end
    ]
    return (end - start) - union_length(clipped)


@dataclass
class Span:
    id: str
    parent: str | None
    name: str
    start: float
    end: float = math.nan
    attrs: dict = field(default_factory=dict)


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it its children cover."""
    return uncovered(span.start, span.end, [(c.start, c.end) for c in children])


class Tracer:
    """In-memory span recorder.  Disabled tracers record nothing."""

    def __init__(self, trace_id: str, enabled: bool):
        self.trace_id = trace_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0

    def begin(self, name: str, **attrs) -> Span | None:
        if not self.enabled:
            return None
        self._next += 1
        parent = self._stack[-1].id if self._stack else None
        span = Span(f"{self.trace_id}.{self._next}", parent, name, time.time(), attrs=attrs)
        self.spans.append(span)
        self._stack.append(span)
        return span

    def end(self, span: Span | None, **attrs) -> None:
        if span is None:
            return
        span.end = time.time()
        span.attrs.update(attrs)
        popped = self._stack.pop()
        if popped is not span:
            raise RuntimeError(f"span {span.name} closed out of order")

    def dump(self, path: str) -> None:
        """Write every span, with its self time (``self_s``), as JSON."""
        kids: dict[str | None, list[Span]] = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        spans = [dict(asdict(s), self_s=self_time(s, kids.get(s.id, []))) for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"trace_id": self.trace_id, "spans": spans}, fh)


# -- Spark event log -----------------------------------------------------


@dataclass
class JobStats:
    """Event-log totals of the jobs of one job group (one op)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_failures: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    result_bytes: int = 0
    input_records: int = 0
    input_bytes: int = 0
    job_intervals: list = field(default_factory=list)  # (start_s, end_s) epoch


def read_event_log(log_dir: str) -> dict[str, JobStats]:
    """Aggregate the uncompressed Spark JSON event logs under ``log_dir``
    per ``spark.jobGroup.id``."""
    files = sorted(
        os.path.join(d, f)
        for d, _, names in os.walk(log_dir)
        for f in names
        if not f.startswith((".", "appstatus"))
    )
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    out: dict[str, JobStats] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = group
                    job_start[jid] = ev["Submission Time"] / 1000.0
                    st = out.setdefault(group, JobStats())
                    st.jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        out[job_group[jid]].job_intervals.append(
                            (job_start[jid], ev["Completion Time"] / 1000.0)
                        )
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_group:
                        out[stage_group[sid]].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is not None:
                        _add_task(out[group], ev)
    return out


def _add_task(st: JobStats, ev: dict) -> None:
    st.tasks += 1
    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
        st.task_failures += 1
    m = ev.get("Task Metrics") or {}
    st.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
    st.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
    st.gc_s += m.get("JVM GC Time", 0) / 1000.0
    st.result_bytes += m.get("Result Size", 0)
    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    inp = m.get("Input Metrics") or {}
    st.input_records += inp.get("Records Read", 0)
    st.input_bytes += inp.get("Bytes Read", 0)
