"""Tracing for the benchmark's traced run, kept entirely outside the package.

- `Tracer`: spans (name, start, end, parent, run id) recorded in memory at
  the calls the benchmark makes into each layer, plus counters; written
  out once at the end. With tracing off every call is a no-op.
- `self_times`: a span's duration minus the part of it its children
  cover (children may overlap, e.g. concurrent jobs).
- `parse_event_log`: per-interval task and job totals from a Spark event
  log, with stdlib json.
- `ProgressCollector`: a `StreamingQueryListener` keeping each
  micro-batch's progress numbers.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    enabled: bool
    run_id: str = ""
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)

    def __post_init__(self) -> None:
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        """Time the block. The parent is the enclosing span of this thread
        unless given (a job running on a pool thread names its dispatcher)."""
        if not self.enabled:
            yield
            return
        stack = self._stack()
        sid = next(self._ids)
        par = parent if parent is not None else (stack[-1] if stack else None)
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, t0, t1, par, self.run_id))

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counters[name] = self.counters.get(name, 0) + value

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s.start), min(b, s.end)) for a, b in kids.get(s.id, [])
        ]
        out[s.id] = s.duration - covered([c for c in clipped if c[1] > c[0]])
    return out


def descendants(spans: list[Span], root: int) -> list[Span]:
    by_parent: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            by_parent.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        for s in by_parent.get(todo.pop(), []):
            out.append(s)
            todo.append(s.id)
    return out


# -------------------------------------------------------------- event log

SPARK_KEYS = (
    "jobs",
    "tasks",
    "executor_run_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
)


def _event_files(log_dir: str) -> list[str]:
    """Event files of a plain or rolling (`eventlog_v2_*/events_*`) log."""
    return sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(log_dir)
        for f in files
        if not f.startswith(("appstatus", "."))
    )


def parse_event_log(log_dir: str, intervals: dict[str, list[tuple[float, float]]]):
    """Totals per named set of wall-clock intervals (epoch seconds): jobs
    by submission time, task metrics by launch time. Returns
    {name: {key: value}} for `SPARK_KEYS`."""
    out = {k: dict.fromkeys(SPARK_KEYS, 0.0) for k in intervals}
    flat = sorted((a, b, name) for name, ivs in intervals.items() for a, b in ivs)

    def which(ms: float):
        t = ms / 1000.0
        for a, b, name in flat:
            if a <= t < b:
                return name
        return None

    for path in _event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    name = which(ev.get("Submission Time", 0))
                    if name:
                        out[name]["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    name = which(ev.get("Task Info", {}).get("Launch Time", 0))
                    if not name:
                        continue
                    m = ev.get("Task Metrics") or {}
                    o = out[name]
                    o["tasks"] += 1
                    o["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    o["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    o["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    o["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return out


# -------------------------------------------------------------- streaming

STREAM_PHASES = {
    "add_batch_s": "addBatch",
    "query_planning_s": "queryPlanning",
    "wal_commit_s": "walCommit",
    "latest_offset_s": "latestOffset",
}


class ProgressCollector(StreamingQueryListener):
    """Keeps the phase durations and state rows of every micro-batch."""

    def __init__(self) -> None:
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self.batches.append(
                {
                    "durations": dict(p.durationMs or {}),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                }
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def totals(self) -> dict[str, float]:
        with self._lock:
            batches = list(self.batches)
        out = {"batches": float(len(batches))}
        for key, phase in STREAM_PHASES.items():
            out[key] = sum(b["durations"].get(phase, 0) for b in batches) / 1000.0
        out["state_rows"] = float(sum(b["state_rows"] for b in batches))
        return out
