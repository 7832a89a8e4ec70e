"""In-memory spans recorded by the benchmark around its calls into the
engine, plus the Spark-side counts attributed to them.

A span has a name, a wall-clock start and end (``time.time()`` seconds, the
clock Spark stamps jobs and streaming progress with), a parent and free-form
attributes.  Spans are kept in memory and written once, at the end, with
their self time (duration minus the part covered by child spans) and the
Spark jobs and tasks submitted inside them.

Jobs are attributed by time window, not by job group: a streaming query runs
its jobs on its own thread under its own group, so group-based attribution
would drop them.  Each job goes to the innermost span whose window holds its
submission time.  The benchmark's phases run one after another, so this
charges every job to the call that caused it.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op that
    still yields a usable attribute dict, so workload code reads the same
    in both modes."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        #: ids of the open spans, innermost last (spans open on one thread)
        self._stack: list[int] = []
        #: seconds spent in tracing bookkeeping (plan walks, job fetches)
        self.overhead_s = 0.0

    def add(self, name: str, start: float, end: float | None, parent: int | None, **attrs) -> int:
        """Record a span; finished ones come from engine reports, such as
        streaming micro-batches."""
        self.spans.append(Span(len(self.spans), name, parent, start, end, attrs))
        return len(self.spans) - 1

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        sid = self.add(name, time.time(), None, self.current(), **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid].attrs
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    @contextlib.contextmanager
    def bookkeeping(self):
        """Time spent here is tracing cost, reported as ``trace.overhead_s``."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t

    # -- end-of-run processing ------------------------------------------------

    def attribute_jobs(self, jobs: list[tuple[float, int]]) -> dict:
        """Charge each job, given as (submission time, task count), to the
        innermost span covering its submission time; returns totals."""
        children: dict[int | None, list[Span]] = {}
        for s in self.spans:
            children.setdefault(s.parent, []).append(s)
        for s in self.spans:
            s.attrs.setdefault("jobs_self", 0)
            s.attrs.setdefault("tasks_self", 0)
        unattributed = 0
        for submitted, tasks in jobs:
            best = None
            for s in self.spans:
                if s.start <= submitted <= (s.end or s.start) and (
                    best is None or s.start >= best.start
                ):
                    best = s
            if best is None:
                unattributed += 1
                continue
            best.attrs["jobs_self"] += 1
            best.attrs["tasks_self"] += tasks

        def total(s: Span) -> tuple[int, int]:
            j, t = s.attrs["jobs_self"], s.attrs["tasks_self"]
            for c in children.get(s.id, []):
                cj, ct = total(c)
                j, t = j + cj, t + ct
            s.attrs["jobs"], s.attrs["tasks"] = j, t
            return j, t

        for root in children.get(None, []):
            total(root)
        return {
            "jobs": len(jobs),
            "tasks": sum(t for _, t in jobs),
            "jobs_unattributed": unattributed,
        }

    def self_times(self) -> dict[int, float]:
        children: dict[int | None, list[Span]] = {}
        for s in self.spans:
            children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            end = s.end or s.start
            covered = 0.0
            cursor = s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end or c.start, end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.id] = max(0.0, s.duration - covered)
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            json.dump(
                {
                    **extra,
                    "spans": [
                        {
                            "id": s.id,
                            "name": s.name,
                            "parent": s.parent,
                            "start": s.start,
                            "end": s.end,
                            "duration_s": s.duration,
                            "self_s": selfs[s.id],
                            "attrs": s.attrs,
                        }
                        for s in self.spans
                    ],
                },
                fh,
                indent=1,
                default=str,
            )


def spark_jobs(spark) -> list[tuple[float, int]]:
    """(submission epoch seconds, task count) for every job the driver's
    status store still holds; this is the store ``statusTracker()`` reads,
    used directly because it also carries submission times."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jl = store.jobsList(None)
    out = []
    for i in range(jl.size()):
        j = jl.apply(i)
        sub = j.submissionTime()
        if sub.isDefined():
            out.append((sub.get().getTime() / 1000.0, int(j.numTasks())))
    return out


def scan_stats(df) -> tuple[int, int]:
    """(files read, rows produced) summed over the file scans of ``df``'s
    executed plan; call after the DataFrame has been collected."""
    files = rows = 0

    def walk(node):
        nonlocal files, rows
        cls = node.getClass().getSimpleName()
        if cls == "FileSourceScanExec":
            m = node.metrics()
            if m.get("numFiles").isDefined():
                files += int(m.get("numFiles").get().value())
            if m.get("numOutputRows").isDefined():
                rows += int(m.get("numOutputRows").get().value())
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            walk(node.plan())
        elif cls == "ReusedExchangeExec":
            walk(node.child())

    walk(df._jdf.queryExecution().executedPlan())
    return files, rows
