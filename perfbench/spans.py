"""Spans around the benchmark's calls into the engine, with each call's
Spark numbers read from outside the engine.

A span sets the Spark job group to its own id before the call, so every
job the call submits lands in that group. When the span closes it lists
the group's jobs (``statusTracker().getJobIdsForGroup``) and reads each
job's stages from the application status store. ``driver_s`` is the wall
time minus the time any of the call's jobs was running: the driver-side
wait around the jobs.

A disabled tracer hands out inert spans and touches nothing in Spark, so
untraced runs measure the engine alone.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager

SPARK_FIELDS = (
    "jobs",
    "stages",
    "exec_run_s",
    "exec_cpu_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "driver_s",
)


class Span:
    __slots__ = ("id", "name", "parent", "request", "start", "end", "attrs")

    def __init__(self, id, name, parent, request):
        self.id, self.name, self.parent, self.request = id, name, parent, request
        self.start = self.end = 0.0
        self.attrs: dict[str, float] = {}

    @property
    def s(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.id, "name": self.name, "parent": self.parent,
            "request": self.request, "start": self.start, "end": self.end,
            **self.attrs,
        }


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
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


class Tracer:
    """Collects spans in memory; ``spans`` is written out by the caller
    when the run ends. ``bookkeeping_s`` is the time spent reading Spark's
    status store, the tracing cost that lands inside a traced run."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self._request = 0

    def new_request(self) -> int:
        self._request += 1
        return self._request

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield Span(0, name, None, 0)
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), name, parent.id if parent else None, self._request)
        group = f"perfbench-{sp.id}"
        self.sc.setJobGroup(group, name)
        self._stack.append(sp)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            t0 = time.perf_counter()
            self._read_spark(sp, group)
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent.id}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.bookkeeping_s += time.perf_counter() - t0
            self.spans.append(sp)

    def _read_spark(self, sp: Span, group: str) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        agg = dict.fromkeys(SPARK_FIELDS, 0.0)
        running = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            agg["jobs"] += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                running.append((
                    max(job.submissionTime().get().getTime() / 1e3, sp.start),
                    min(job.completionTime().get().getTime() / 1e3, sp.end),
                ))
            it = job.stageIds().iterator()
            while it.hasNext():
                st = store.lastStageAttempt(it.next())
                if st.status().toString() == "SKIPPED":
                    continue
                agg["stages"] += 1
                agg["exec_run_s"] += st.executorRunTime() / 1e3
                agg["exec_cpu_s"] += st.executorCpuTime() / 1e9
                agg["shuffle_write_bytes"] += st.shuffleWriteBytes()
                agg["shuffle_read_bytes"] += st.shuffleReadBytes()
        agg["driver_s"] = max(0.0, sp.s - _union_length([r for r in running if r[1] > r[0]]))
        sp.attrs.update(agg)

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part covered by its child spans."""
        kids = [(c.start, c.end) for c in self.spans if c.parent == sp.id]
        return sp.s - _union_length(kids)
