"""Spans, percentiles and Spark-side counters for the benchmark.

Spans are recorded by the benchmark around its calls into the package
(the package itself is not instrumented). They stay in memory and are
written once, at the end of a traced run. With tracing off the same
calls go through :data:`NULL_TRACER`, which records nothing.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = math.nan
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``span()`` nests through a per-thread
    stack; a span opened on another thread (the streaming query's
    ``foreachBatch`` callback) names its parent explicitly."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            s = Span(len(self.spans), parent, name, time.time(), attrs=attrs)
            self.spans.append(s)
        stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({"id": s.id, "parent": s.parent, "name": s.name,
                                     "start": s.start, "end": s.end, **s.attrs}) + "\n")


class _NullSpan:
    id = None
    attrs: dict = {}


class NullTracer:
    spans: list[Span] = []

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        yield _NullSpan()


NULL_TRACER = NullTracer()


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty list."""
    vals = sorted(values)
    k = max(0, math.ceil(q / 100.0 * len(vals)) - 1)
    return float(vals[k])


def weighted_percentile(pairs, q: float) -> float:
    """Nearest-rank percentile over ``(value, count)`` pairs."""
    pairs = sorted(pairs)
    total = sum(c for _, c in pairs)
    rank = max(1, math.ceil(q / 100.0 * total))
    seen = 0
    for v, c in pairs:
        seen += c
        if seen >= rank:
            return float(v)
    raise ValueError("no samples")


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def progress_rows(query) -> list[dict]:
    """``StreamingQuery.recentProgress`` as plain dicts, batches that
    read rows only."""
    out = []
    for p in query.recentProgress:
        d = json.loads(p.json) if hasattr(p, "json") else dict(p)
        if d.get("numInputRows", 0) > 0:
            out.append(d)
    return out


def progress_metrics(progress: list[dict]) -> dict[str, float]:
    """The ``relay.*`` trigger breakdown from progress records."""
    def dur(key: str) -> list[float]:
        return [float(p["durationMs"].get(key, 0)) for p in progress]

    trig = dur("triggerExecution")
    return {
        "relay.batches": float(len(progress)),
        "relay.rows_per_batch_p50": median([p["numInputRows"] for p in progress]),
        "relay.trigger_ms_p50": median(trig),
        "relay.trigger_ms_p99": percentile(trig, 99) if trig else 0.0,
        "relay.add_batch_ms_p50": median(dur("addBatch")),
        "relay.latest_offset_ms_p50": median(dur("latestOffset")),
        "relay.query_planning_ms_p50": median(dur("queryPlanning")),
        "relay.wal_commit_ms_p50": median(dur("walCommit")),
        "relay.commit_offsets_ms_p50": median(dur("commitOffsets")),
    }


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (``VmHWM``) of the driver JVM, from /proc."""
    with open(f"/proc/{jvm_pid(spark)}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def cpu_seconds(pids) -> float:
    """User plus system CPU time of ``pids`` so far, from /proc. Time
    the hypervisor gave to other machines (steal) is not in it."""
    ticks = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        ticks += int(fields[11]) + int(fields[12])  # utime, stime
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_jiffies() -> tuple[int, int]:
    """``(steal, total)`` CPU time of the host's view of this machine,
    in jiffies since boot, from /proc/stat. On a shared virtual machine
    steal is time the hypervisor ran someone else."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def failed_tasks(spark) -> int:
    """Failed task attempts over every job the status tracker still
    holds."""
    st = spark.sparkContext.statusTracker()
    n = 0
    for jid in st.getJobIdsForGroup(None):
        job = st.getJobInfo(jid)
        for sid in job.stageIds if job else ():
            info = st.getStageInfo(sid)
            if info is not None:
                n += info.numFailedTasks
    return n


def shuffle_stats(path: str, windows: list[tuple[float, float]]) -> dict[str, float]:
    """Shuffle bytes written, and skew of the shuffle-reading (ordered
    delivery) stages, for jobs submitted inside ``windows`` (epoch s).

    Skew is max/median records read per task of each shuffle-reading
    stage; the worst stage is reported, with the median task count of
    those stages (adaptive execution may coalesce a small shuffle into
    one task, whose skew is 1). Windows are given per rep and the
    result is the per-rep median of bytes and the max skew.
    """
    job_stages: dict[int, tuple[float, list[int]]] = {}
    stage_tasks: dict[int, list[tuple[int, int]]] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                job_stages[ev["Job ID"]] = (
                    ev["Submission Time"] / 1000.0,
                    [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                )
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                read = (m.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0)
                written = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                stage_tasks.setdefault(ev["Stage ID"], []).append((read, written))
    per_window_bytes = []
    skew = 1.0
    readers = []
    for lo, hi in windows:
        stages = {
            sid
            for t, sids in job_stages.values()
            if lo <= t <= hi
            for sid in sids
        }
        total = 0
        for sid in stages:
            tasks = stage_tasks.get(sid, [])
            total += sum(w for _, w in tasks)
            reads = [r for r, _ in tasks]
            if sum(reads) > 0:
                readers.append(len(reads))
                mid = statistics.median(reads)
                skew = max(skew, max(reads) / mid if mid > 0 else float(len(reads)))
        per_window_bytes.append(total)
    return {
        "wire.shuffle_write_bytes": median(per_window_bytes),
        "wire.partition_skew": skew,
        "wire.order_tasks_p50": median(readers),
    }
