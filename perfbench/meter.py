"""Timing and tracing of calls into the package, from the outside.

An untraced call is one span: the package call plus the consumption of
its result. A traced call adds three child spans at the layer boundaries
the package exposes — ``build`` (the query function or Warehouse method
returns), ``plan`` (``queryExecution().executedPlan()``) and ``exec`` (the
result is consumed) — each under its own Spark job group, so
``statusTracker`` attributes jobs, stages and tasks to the phase that
launched them. Spans stay in memory until the run record is written.
"""

from __future__ import annotations

import sys
import time
import traceback
from dataclasses import dataclass, field

# Longest wait for Spark's status store to catch up with a job group's
# events; a safety cap, far above the milliseconds it takes.
SETTLE_S = 5.0


@dataclass
class Span:
    name: str
    layer: str
    phase: str
    start: float
    end: float
    parent: int | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Call:
    """One timed call: its total latency and, when traced, its phases."""

    name: str
    layer: str
    seconds: float
    phases: dict[str, Span] = field(default_factory=dict)
    ok: bool = True


class Meter:
    """Runs package calls, times them and counts what fails.

    ``attempted`` and ``failed`` cover every timed call; an exception is
    reported on stderr by call name and counted, never raised.
    """

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.attempted = 0
        self.failed = 0
        self._group = 0

    def call(self, name: str, layer: str, build, consume, trace: bool):
        """Time ``consume(build())``; return ``(Call, result)``.

        ``consume`` is None for eager calls whose return value is already
        the result (Warehouse writes). A failed call keeps the time it took,
        so a failure never makes a pass look faster, and returns no result.
        """
        self.attempted += 1
        start = time.perf_counter()
        try:
            if trace:
                return self._traced(name, layer, build, consume)
            out = build()
            if consume is not None:
                out = consume(out)
            return Call(name, layer, time.perf_counter() - start), out
        except Exception:  # a failing call is counted, named and timed
            self.failed += 1
            print(f"perfbench: call {name} failed:\n{traceback.format_exc()}", file=sys.stderr)
            return Call(name, layer, time.perf_counter() - start, ok=False), None

    def _traced(self, name, layer, build, consume):
        root = len(self.spans)
        t0 = time.perf_counter()
        self.spans.append(Span(name, layer, "call", t0, t0))
        phases = {}

        def phase(kind, fn):
            group = self._next_group()
            self.sc.setJobGroup(group, f"perfbench {name} {kind}")
            start = time.perf_counter()
            try:
                return fn()
            finally:
                end = time.perf_counter()
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                span = Span(name, layer, kind, start, end, parent=root)
                self._count(span, group)
                self.spans.append(span)
                phases[kind] = span

        out = phase("build", build)
        if consume is not None:
            phase("plan", lambda: out._jdf.queryExecution().executedPlan())
            out = phase("exec", lambda: consume(out))
        self.spans[root].end = time.perf_counter()
        return Call(name, layer, self.spans[root].seconds, phases), out

    def _next_group(self) -> str:
        self._group += 1
        return f"perfbench-{self._group}"

    def _count(self, span: Span, group: str) -> None:
        """Jobs, stages and tasks of one job group, read once the status
        store has caught up with the listener bus."""
        st = self.sc.statusTracker()
        deadline = time.perf_counter() + SETTLE_S
        while True:
            jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
            stages = [st.getStageInfo(s) for j in jobs if j for s in j.stageIds]
            busy = any(j is None or j.status in ("RUNNING", "UNKNOWN") for j in jobs) or any(
                s is not None and s.numActiveTasks for s in stages
            )
            if not busy or time.perf_counter() > deadline:
                break
            time.sleep(0.005)
        ran = [s for s in stages if s is not None and s.numCompletedTasks + s.numFailedTasks]
        span.jobs = len(jobs)
        span.stages = len(ran)
        span.tasks = sum(s.numCompletedTasks for s in ran)
        span.failed_tasks = sum(s.numFailedTasks for s in ran)
