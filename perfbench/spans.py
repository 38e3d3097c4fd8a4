"""Spans around the benchmark's calls into the package's layers.

Off (the default), ``span`` only yields: untraced runs pay one context
manager per call. On, each span records its name, start, end, parent span
and request id, and tags the Spark jobs it triggers through
``monitoring.PerformanceTracker.track`` (one job group per span); the
status tracker then gives job, stage, task and failed-task counts per span.
Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field, fields


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    request: str | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    children: list = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []  # open spans; calls are single-threaded
        self._spark = None
        self._perf = None

    def attach(self, spark) -> None:
        """Start tagging Spark jobs once a session exists."""
        if self.enabled:
            from weather_data_pipeline_spark.monitoring import PerformanceTracker

            self._spark = spark
            self._perf = PerformanceTracker(spark)

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, next(self._ids), parent.span_id if parent else None,
                  request or (parent.request if parent else None), 0.0)
        self._stack.append(sp)
        group = f"perfbench-{sp.span_id}"
        try:
            with self._perf.track(group) if self._perf else nullcontext():
                sp.start = time.perf_counter()
                try:
                    yield
                finally:
                    sp.end = time.perf_counter()
            if self._perf:
                # track() clears the job group on exit: give it back to the parent
                if parent is not None:
                    self._spark.sparkContext.setJobGroup(
                        f"perfbench-{parent.span_id}", parent.name
                    )
                self._count_jobs(sp, group)
        finally:
            self._stack.pop()
            self.spans.append(sp)
            if parent is not None:
                parent.children.append(sp)

    def _count_jobs(self, sp: Span, group: str) -> None:
        st = self._spark.sparkContext.statusTracker()
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            sp.jobs += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is None:
                    continue
                sp.stages += 1
                sp.tasks += stage.numCompletedTasks
                sp.failed_tasks += stage.numFailedTasks

    # -- reading the trace -------------------------------------------------
    def named(self, name: str) -> list[Span]:
        """Spans of ``name`` outside set-up warm-up (request "warmup")."""
        return [s for s in self.spans if s.name == name and s.request != "warmup"]

    def seconds(self, name: str) -> list[float]:
        return [s.seconds for s in self.named(name)]

    @staticmethod
    def total(sp: Span, attr: str) -> int:
        """A count over a span and every span under it."""
        return getattr(sp, attr) + sum(Tracer.total(c, attr) for c in sp.children)

    @staticmethod
    def self_seconds(sp: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(sp.children, key=lambda c: c.start):
            s, e = max(c.start, sp.start), min(c.end, sp.end)
            if cur_end is None or s > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = s, e
            else:
                cur_end = max(cur_end, e)
        if cur_end is not None:
            covered += cur_end - cur_start
        return sp.seconds - covered

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as JSON."""
        rows = []
        for s in self.spans:
            d = {f.name: getattr(s, f.name) for f in fields(s) if f.name != "children"}
            d["self_s"] = self.self_seconds(s)
            rows.append(d)
        with open(path, "w") as f:
            json.dump(rows, f)
