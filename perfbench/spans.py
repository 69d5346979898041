"""Spans and Spark counters for the traced run.

A span is recorded around each call into a layer (``<layer>.<function>``),
from the benchmark's side: the engine is not modified. Spans are kept in
memory and written out once, when the run ends.

Spark counters are attributed to spans by time. After each unit of work
the tracer drains Spark's listener bus and reads the status store: every
job and stage submitted since the last read goes to the innermost span
open at its submission time. Catalyst phase times (analysis,
optimization, planning) arrive through a ``QueryExecutionListener`` that
reads ``queryExecution().tracker()`` for every executed query, and are
attributed the same way by their start time.
"""

from __future__ import annotations

import contextlib
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str  # "<layer>.<what>"
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    unit: int = -1
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


# Spark counters summed per span; names are the per-layer metric suffixes.
SPARK_COUNTERS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                  "shuffle_write_mb", "spill_mb", "analysis_s", "optimization_s",
                  "planning_s")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.unit = -1
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        sp = Span(name, time.time(), parent=parent, unit=self.unit, attrs=dict(attrs))
        with self._lock:
            self.spans.append(sp)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.time()

    def unit_spans(self, unit: int) -> list[Span]:
        return [s for s in self.spans if s.unit == unit]

    def innermost(self, t: float, unit: int) -> Span | None:
        """The latest-starting span of `unit` that was open at time `t`."""
        best = None
        for s in self.unit_spans(unit):
            if s.start <= t <= (s.end or float("inf")):
                if best is None or s.start >= best.start:
                    best = s
        return best

    def to_json(self) -> list[dict]:
        return [{"name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "unit": s.unit, "attrs": s.attrs}
                for s in self.spans]


class SparkCounters:
    """Reads Spark's status store and Catalyst phase times, and adds each
    job, stage and phase to the span that was open when it started."""

    def __init__(self, spark, tracer: Tracer):
        from pyspark.java_gateway import ensure_callback_server_started

        self.sc = spark.sparkContext
        self.tracer = tracer
        self._seen_stages: set[tuple[int, int]] = set()
        self._seen_jobs: set[int] = set()
        self._phases: list[tuple[str, float, float]] = []  # (phase, start, secs)
        self._lock = threading.Lock()
        ensure_callback_server_started(self.sc._gateway)
        self._listener = _PhaseListener(self)
        spark._jsparkSession.listenerManager().register(self._listener)
        self.drain()  # everything before the first unit is set-up
        self._take_new()
        with self._lock:
            self._phases.clear()

    def drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _take_new(self) -> tuple[list, list]:
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        stages = store.stageList(jvm.java.util.ArrayList(), False, False,
                                 self.sc._gateway.new_array(jvm.double, 0),
                                 jvm.java.util.ArrayList())
        new_stages = []
        for i in range(stages.size()):
            s = stages.apply(i)
            key = (s.stageId(), s.attemptId())
            sub = s.submissionTime()
            if key in self._seen_stages or not sub.isDefined():
                continue  # skipped stages are never submitted
            self._seen_stages.add(key)
            new_stages.append((sub.get().getTime() / 1000.0, {
                "stages": 1,
                "tasks": s.numCompleteTasks(),
                "executor_run_s": s.executorRunTime() / 1000.0,
                "executor_cpu_s": s.executorCpuTime() / 1e9,
                "shuffle_write_mb": s.shuffleWriteBytes() / 2 ** 20,
                "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2 ** 20,
            }))
        jobs = store.jobsList(None)
        new_jobs = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            sub = j.submissionTime()
            if j.jobId() in self._seen_jobs or not sub.isDefined():
                continue
            self._seen_jobs.add(j.jobId())
            new_jobs.append(sub.get().getTime() / 1000.0)
        return new_stages, new_jobs

    def attribute(self, unit: int) -> None:
        """Credit every job, stage and phase since the last call to the
        spans of `unit` (innermost open span at its start time)."""
        self.drain()
        stages, jobs = self._take_new()
        with self._lock:
            phases, self._phases = self._phases, []

        def add(t: float, key: str, value: float) -> None:
            sp = self.tracer.innermost(t, unit)
            if sp is not None:
                sp.attrs[key] = sp.attrs.get(key, 0) + value

        for t, counters in stages:
            for k, v in counters.items():
                add(t, k, v)
        for t in jobs:
            add(t, "jobs", 1)
        for phase, t, secs in phases:
            add(t, f"{phase}_s", secs)

    def _on_query(self, qe) -> None:
        it = qe.tracker().phases().iterator()
        rows = []
        while it.hasNext():
            kv = it.next()
            rows.append((kv._1(), kv._2().startTimeMs() / 1000.0,
                         kv._2().durationMs() / 1000.0))
        with self._lock:
            self._phases.extend(rows)


class _PhaseListener:
    """py4j implementation of Spark's QueryExecutionListener."""

    def __init__(self, owner: SparkCounters):
        self.owner = owner

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        self.owner._on_query(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        self.owner._on_query(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]
