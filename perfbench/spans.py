"""Spans, counts and Spark job accounting for the benchmark's traced run.

Spans are recorded only from the benchmark's own files, around its calls
into the engine. Each span has a name, start, end, the span that caused
it and the id of the operation (catalog entry, ingest round, API
request) it belongs to. Spans stay in memory; :meth:`Tracer.self_times`
folds them into per-name self time at the end of the run.

With tracing off, :meth:`Tracer.span` still times its block when asked
(the workloads need wall times for their end-to-end metrics) but records
nothing and touches no Spark state.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    op_id: int | None
    name: str
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Timer:
    """Wall time of one ``with`` block, readable after it exits."""

    __slots__ = ("start", "seconds")

    def __init__(self) -> None:
        self.start = time.perf_counter()
        self.seconds = 0.0


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[Span] = []
        self._op_id: int | None = None
        self._next_op = 0

    @contextmanager
    def op(self, name: str):
        """A top-level operation; spans opened inside share its id."""
        self._next_op += 1
        self._op_id = self._next_op
        try:
            with self.span(name) as t:
                yield t
        finally:
            self._op_id = None

    @contextmanager
    def span(self, name: str):
        timer = Timer()
        if not self.enabled:
            try:
                yield timer
            finally:
                timer.seconds = time.perf_counter() - timer.start
            return
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(len(self.spans), parent, self._op_id, name, timer.start)
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield timer
        finally:
            sp.end = time.perf_counter()
            timer.seconds = sp.end - timer.start
            self._stack.pop()

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counts[name] += value

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover.

        Children of a span run inside it on the same thread, one after
        another, so the covered time is the sum of their durations."""
        child_time: dict[int, float] = defaultdict(float)
        for sp in self.spans:
            if sp.parent_id is not None:
                child_time[sp.parent_id] += sp.duration
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            out[sp.name] += sp.duration - child_time[sp.span_id]
        return dict(out)

    def totals(self) -> dict[str, float]:
        """Inclusive seconds per span name."""
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            out[sp.name] += sp.duration
        return dict(out)


class SparkCounters:
    """Jobs, stages and tasks run between two marks.

    Jobs are counted by job-id range, not by job group: Structured
    Streaming runs its micro-batch jobs on the stream thread under its
    own group, so a group set by the caller would miss them. Job and
    stage ids are handed out in order by the DAG scheduler, so the ids
    issued between two marks are exactly the work done in between.
    Task counts come from the public ``statusTracker()``; reading them
    waits for the listener bus to drain, so it is done only when tracing.
    """

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._dag = self._sc._jsc.sc().dagScheduler()

    def mark(self) -> tuple[int, int]:
        return int(self._dag.numTotalJobs()), int(self._dag.nextStageId())

    def since(self, mark: tuple[int, int]) -> dict[str, int]:
        """{jobs, stages, tasks} issued since ``mark``. ``stages`` counts
        stages that ran at least one task (skipped stages excluded)."""
        jobs0, _ = mark
        jobs1, _ = self.mark()
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        stages = tasks = 0
        seen: set[int] = set()
        for jid in range(jobs0, jobs1):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": jobs1 - jobs0, "stages": stages, "tasks": tasks}
