"""Tracing from outside the engine: store spans, the Spark event log, JMX.

- ``TimingStore`` is a ``SnapshotStore`` injected through
  ``CrawlJob(store=...)``. The wave loop's two Spark jobs execute inside
  ``store.write(wave, "scheduled" | "page_results", ...)``, so each span
  brackets exactly one phase; the finalize thread's footer reads, row writes
  and manifest commits get spans of their own.
- ``parse_eventlog`` reads the uncompressed JSON event log and attributes
  every job to the ``w{n}:{phase}`` description the wave loop sets.
- ``jvm_gc_ms`` / ``heap_pools`` read the driver JVM's management beans.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

from bodhium_webscrapper_spark.plans.checkpoint import SnapshotStore


@dataclass(frozen=True)
class Span:
    name: str  # store method, plus ":artifact" for write/write_rows
    thread: str
    start: float  # time.time(), comparable with event-log timestamps
    end: float


_FOOTER_READS = ("row_count", "column_sum", "read_columns",
                 "partition_metrics", "artifact_bytes")


class TimingStore(SnapshotStore):
    """SnapshotStore that records a span around every call into it."""

    def __init__(self, root: str):
        super().__init__(root)
        self.spans: list[Span] = []
        self._lock = threading.Lock()

    def _timed(self, name: str, fn, *args, **kwargs):
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            span = Span(name, threading.current_thread().name, t0, time.time())
            with self._lock:
                self.spans.append(span)

    def write(self, wave, name, df):
        return self._timed(f"write:{name}", super().write, wave, name, df)

    def write_rows(self, wave, name, table):
        return self._timed(f"write_rows:{name}", super().write_rows,
                           wave, name, table)

    def commit_wave(self, wave, stats):
        return self._timed("commit_wave", super().commit_wave, wave, stats)

    def compact_deltas(self, spark, name, upto_wave):
        return self._timed("compact_deltas", super().compact_deltas,
                           spark, name, upto_wave)

    def row_count(self, wave, name):
        return self._timed("row_count", super().row_count, wave, name)

    def column_sum(self, wave, name, col):
        return self._timed("column_sum", super().column_sum, wave, name, col)

    def read_columns(self, wave, name, cols):
        return self._timed("read_columns", super().read_columns,
                           wave, name, cols)

    def partition_metrics(self, wave, name, bytes_col=None):
        return self._timed("partition_metrics", super().partition_metrics,
                           wave, name, bytes_col=bytes_col)

    def artifact_bytes(self, wave, name):
        return self._timed("artifact_bytes", super().artifact_bytes,
                           wave, name)

    def intervals(self, prefix: str, thread: str | None = None) -> list[tuple[float, float]]:
        return [(s.start, s.end) for s in self.spans
                if s.name.startswith(prefix) and (thread is None or s.thread == thread)]

    def footer_intervals(self) -> list[tuple[float, float]]:
        return [(s.start, s.end) for s in self.spans if s.name in _FOOTER_READS]

    def commit_intervals(self) -> list[tuple[float, float]]:
        return [(s.start, s.end) for s in self.spans
                if s.name == "commit_wave" or s.name.startswith("write_rows:")]


# ---------------------------------------------------------------- intervals

def union(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def length(intervals) -> float:
    return sum(b - a for a, b in union(intervals))


def intersect(xs, ys) -> list[tuple[float, float]]:
    xs, ys = union(xs), union(ys)
    out, i, j = [], 0, 0
    while i < len(xs) and j < len(ys):
        a, b = max(xs[i][0], ys[j][0]), min(xs[i][1], ys[j][1])
        if a < b:
            out.append((a, b))
        if xs[i][1] < ys[j][1]:
            i += 1
        else:
            j += 1
    return out


# ---------------------------------------------------------------- event log

@dataclass
class JobRecord:
    description: str
    start: float  # seconds, epoch
    end: float
    task_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_run_s: float = 0.0


def parse_eventlog(path: str) -> list[JobRecord]:
    """Completed jobs with their task metrics summed over their stages."""
    jobs: dict[int, JobRecord] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, list[dict]] = defaultdict(list)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                jobs[ev["Job ID"]] = JobRecord(desc, ev["Submission Time"] / 1e3, -1.0)
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                stage_tasks[ev["Stage ID"]].append(ev)
    for sid, tasks in stage_tasks.items():
        job = jobs.get(stage_job.get(sid, -1))
        if job is None:
            continue
        for ev in tasks:
            m = ev.get("Task Metrics") or {}
            job.task_s += m.get("Executor Run Time", 0) / 1e3
            job.gc_s += m.get("JVM GC Time", 0) / 1e3
            job.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            job.spill_bytes += m.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == "time to run Python workers":
                    job.python_run_s += int(acc.get("Update") or 0) / 1e3
    return [j for j in jobs.values() if j.end >= j.start]


def phase_jobs(jobs: list[JobRecord], phase: str) -> list[JobRecord]:
    """Jobs the wave loop labelled ``w{n}:{phase}``."""
    return [j for j in jobs if j.description.startswith("w")
            and j.description.partition(":")[2] == phase]


# ---------------------------------------------------------------- JMX

def jvm_gc_ms(spark) -> int:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans)


def heap_pools(spark) -> list:
    pools = spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    return [p for p in pools if p.getType().toString() == "Heap memory"]


def reset_heap_peak(spark) -> None:
    for p in heap_pools(spark):
        p.resetPeakUsage()


def heap_peak_mb(spark) -> float:
    return sum(p.getPeakUsage().getUsed() for p in heap_pools(spark)) / 2**20
