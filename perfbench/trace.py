"""Spans around the benchmark's calls into engine layers.

Each call gets a span (name, start, end, parent span, run id) held in
memory; the end-to-end metrics are computed from the span durations in
both modes. Only a traced tracer also tags the call's Spark jobs with a job
group and, when the call returns, reads ``statusTracker()`` for the group's
jobs and completed tasks; the run writes its spans out, by
:meth:`Tracer.write`, when it ends. The time spent on that Spark-side
bookkeeping is summed so the run can report the tracing overhead.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self._sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        """Time one layer call; yields the :class:`Span` so the caller can
        attach result attributes, and marks it ``ok`` if the call returned.
        Nested spans restore the parent's job group on exit, so a parent's
        counts cover only its own jobs."""
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans) + 1, name, parent.span_id if parent else None,
                 self.run_id, 0.0, attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        if self.enabled:
            t = time.perf_counter()
            self._sc.setJobGroup(self._group(s), name)
            self.overhead_s += time.perf_counter() - t
        s.start = time.perf_counter()
        try:
            yield s
            s.attrs["ok"] = True
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                t = time.perf_counter()
                s.jobs, s.tasks = self._count(self._group(s))
                if parent is not None:
                    self._sc.setJobGroup(self._group(parent), parent.name)
                else:
                    self._sc._jsc.clearJobGroup()
                self.overhead_s += time.perf_counter() - t

    def _group(self, s: Span) -> str:
        return f"{self.run_id}-{s.span_id}"

    def _count(self, group: str) -> tuple[int, int]:
        # Job and stage events reach the status store through the async
        # listener bus; drain it so the call's last job is counted.
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self._sc.statusTracker()
        stages: set[int] = set()
        jobs = st.getJobIdsForGroup(group)
        for jid in jobs:
            info = st.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for sid in stages:
            info = st.getStageInfo(sid)
            if info is not None:
                tasks += info.numCompletedTasks
        return len(jobs), tasks

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "seconds": s.seconds}) + "\n")
