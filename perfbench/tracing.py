"""Collectors for the traced run: spans, self time, py4j round-trips,
Catalyst phases and per-job-group counts from Spark's status tracker.

Everything here wraps the program from outside; nothing is installed
in an untraced run.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import MEMORY_COMMAND_NAME


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    op_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Py4jCounter:
    """Counts py4j round-trips by wrapping the gateway client's
    ``send_command`` on the instance (every JVM call goes through it).
    Releases of Python-side proxies are not counted: they are sent
    whenever Python's garbage collector runs, so they would make the
    count depend on timing."""

    def __init__(self, spark) -> None:
        self.count = 0
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command

        def counting(command, *args, **kwargs):
            if not command.startswith(MEMORY_COMMAND_NAME):
                self.count += 1
            return self._orig(command, *args, **kwargs)

        self._client.send_command = counting

    def uninstall(self) -> None:
        self._client.send_command = self._orig


class Tracer:
    """In-memory span recorder. Spans nest by call order; every span of
    one operation carries that operation's id. With a ``counter`` (a
    :class:`Py4jCounter`), each span's ``py4j`` attribute holds the
    round-trips made inside it."""

    def __init__(self, counter: Py4jCounter | None = None) -> None:
        self.spans: list[Span] = []
        self.counter = counter
        self._stack: list[int] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str, op_id: str, **attrs):
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        n0 = self.counter.count if self.counter else 0
        start = time.perf_counter()
        rec = Span(name, start, start, sid, parent, op_id, dict(attrs))
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            if self.counter:
                rec.attrs["py4j"] = self.counter.count - n0
            self._stack.pop()
            self.spans.append(rec)


def _covered(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.span_id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            children.setdefault(s.parent, []).append(
                (max(s.start, p.start), min(s.end, p.end)))
    return {s.span_id: s.duration - _covered(children.get(s.span_id, []))
            for s in spans}


PHASES = ("analysis", "optimization", "planning")


def planning_phases(df, since_ms: float) -> dict[str, float]:
    """Force physical planning of ``df`` and read its
    ``QueryPlanningTracker`` phase durations, in seconds.

    A phase that started before ``since_ms`` (epoch milliseconds) was run
    by an earlier operation that built the same DataFrame (a shared,
    cached one) and counts 0: the tracker merges repeated runs of a phase
    into one summary from the first start to the last end."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in PHASES:
        opt = phases.get(name)
        summary = opt.get() if opt.isDefined() else None
        fresh = summary is not None and summary.startTimeMs() >= since_ms
        out[name] = summary.durationMs() / 1000 if fresh else 0.0
    return out


def group_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages run and tasks completed/failed for one job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = stages = tasks = failed = 0
    for jid in tracker.getJobIdsForGroup(group):
        jobs += 1
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            st = tracker.getStageInfo(sid)
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue
            stages += 1
            tasks += st.numCompletedTasks
            failed += st.numFailedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}
