"""Spans around the engine's public functions, recorded from outside it.

A ``Tracer`` replaces module attributes (``flows.delta_flow``,
``sinks.append_csv``, ...) with wrappers that open a span, and puts the
originals back on ``restore()``. The engine resolves these names at call
time (``sinks.append_csv(...)`` or a function-local import), so a wrapped
attribute sees every call without any change to the package.

Each span records its name, start, end, parent and the run id, and stays
in memory until the run ends. While a span is open it owns a Spark job
group, so the jobs fired in it (and not in a child span) are read back
from ``statusTracker`` when it closes. Executor CPU, GC, shuffle, spill
and output bytes are joined in later from Spark's event log, keyed by the
same job group. Spark is lazy: a plan executes in the span of the call
that fires its action, so spans around plan-building functions measure
plan building only.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@dataclass
class Span:
    name: str
    run_id: str
    start: float
    parent: int | None
    group: str
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    counters: dict[str, float] = field(default_factory=dict)
    saved: list | None = None

    @property
    def s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.sc = None  # set once the session exists; spans before it carry no job group
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.bookkeeping = 0.0  # seconds spent in open/close: the tracer's own cost

    def open(self, name: str) -> Span:
        t0 = time.perf_counter()
        idx = len(self.spans)
        span = Span(name, self.run_id, 0.0, self._stack[-1] if self._stack else None, f"{self.run_id}/{idx}")
        self.spans.append(span)
        self._stack.append(idx)
        if self.sc is not None:
            span.saved = [self.sc.getLocalProperty(p) for p in _GROUP_PROPS]
            self.sc.setJobGroup(span.group, span.name)
        span.start = time.perf_counter()
        self.bookkeeping += span.start - t0
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        if self.sc is not None:
            self._count_jobs(span)
            for prop, value in zip(_GROUP_PROPS, span.saved):
                self.sc.setLocalProperty(prop, value)
        self.bookkeeping += time.perf_counter() - span.end

    def _count_jobs(self, span: Span) -> None:
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(span.group):
            job = tracker.getJobInfo(job_id)
            if job is None:
                continue
            span.jobs += 1
            for stage_id in job.stageIds:
                stage = tracker.getStageInfo(stage_id)
                if stage is not None:
                    span.tasks += stage.numCompletedTasks

    def call(self, name: str, fn, *args, **kwargs):
        span = self.open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(span)

    def wrap(self, owner, attr: str, name: str, counters=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper. ``counters``,
        if given, maps the call's arguments to extra span counters."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            span = self.open(name)
            try:
                return original(*args, **kwargs)
            finally:
                if counters is not None:
                    span.counters.update(counters(*args, **kwargs))
                self.close(span)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """Duration minus the part of it that child spans cover."""
        span = self.spans[idx]
        covered, edge = 0.0, span.start
        for c in sorted((self.spans[i] for i in self.children(idx)), key=lambda s: s.start):
            lo, hi = max(c.start, edge), min(c.end, span.end)
            if hi > lo:
                covered += hi - lo
                edge = hi
        return span.s - covered

    def subtree(self, idx: int) -> list[int]:
        out = [idx]
        for c in self.children(idx):
            out.extend(self.subtree(c))
        return out


# Event-log task metrics summed per job group.
TASK_FIELDS = ("exec_run_s", "exec_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "bytes_written", "tasks")


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group from Spark's JSON event log.
    Call after the session has stopped, so the log is complete."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(TASK_FIELDS, 0.0))
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is not None:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    t = totals[group]
                    t["tasks"] += 1
                    t["exec_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    t["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    t["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    t["bytes_written"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    return totals


def planning_seconds(df) -> float:
    """Analysis + optimization + planning time of an executed DataFrame,
    from its ``QueryExecution`` phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total_ms = 0
    while it.hasNext():
        total_ms += it.next()._2().durationMs()
    return total_ms / 1e3
