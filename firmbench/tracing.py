"""Spans for the traced run, attributed to Spark work through job groups.

The benchmark opens a span around each op and around each call it makes into
a program layer (``construct``: a query or model function building its
DataFrame; ``write``: a noop or catalog write; ``land``: a RAW landing;
``test``: a model's data tests). Every span gets its own Spark job group, set
from the benchmark's thread; when the span closes the tracer drains the
listener bus and reads that group's jobs, stages, tasks and shuffle/spill
bytes from ``StatusTracker`` and the status store. A
``QueryExecutionListener`` (a py4j callback) records each executed query's
``QueryPlanningTracker`` phases, and a wrapper on the py4j client counts the
commands the benchmark thread sends while a ``construct`` span is open
(object-release commands left out). Spans stay in memory until the run ends.

``NoTrace`` is the untraced run's stand-in: the same interface, no work.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass

PHASES = ("analysis", "optimization", "planning")
#: py4j's object-release command: the JVM-side garbage collection of proxies
#: the Python side dropped, not a call the program made.
_PY4J_RELEASE = "m\nd\n"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    job_busy_s: float = 0.0
    py4j_calls: int = 0
    analysis_s: float = 0.0
    optimization_s: float = 0.0
    planning_s: float = 0.0
    # set by the caller for catalog writes
    rows_written: int = 0
    bytes_written: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return asdict(self)


class NoTrace:
    enabled = False
    spans: tuple[Span, ...] = ()

    def span(self, name: str, layer: str, df=None):
        return nullcontext()

    def close(self) -> None:
        pass


class _PlanListener:
    """Receives every executed QueryExecution on the listener bus thread."""

    def __init__(self, events: list):
        self.events = events

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        self.events.append(_phase_seconds(qe.tracker()))

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.events.append(_phase_seconds(qe.tracker()))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _phase_seconds(tracker) -> tuple[float, ...]:
    phases = tracker.phases()
    return tuple(
        phases.apply(p).durationMs() / 1e3 if phases.contains(p) else 0.0 for p in PHASES
    )


def _union_seconds(intervals: list[tuple[int, int]]) -> float:
    busy, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy / 1e3


class Tracer:
    enabled = True

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._events: list[tuple[float, ...]] = []
        self._main = threading.get_ident()
        self._counting = False
        self._calls = 0
        gateway = self.sc._gateway
        ensure_callback_server_started(gateway)
        self._listener = _PlanListener(self._events)
        spark._jsparkSession.listenerManager().register(self._listener)
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._client = gateway._gateway_client
        self._send = self._client.send_command
        self._client.send_command = self._counted_send

    def _counted_send(self, command, *args, **kwargs):
        if (
            self._counting
            and threading.get_ident() == self._main
            and not command.startswith(_PY4J_RELEASE)
        ):
            self._calls += 1
        return self._send(command, *args, **kwargs)

    def _set_group(self, span: Span | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None if span is None else f"bench-span-{span.id}")
        self.sc.setLocalProperty("spark.job.description", None if span is None else span.name)

    @contextmanager
    def span(self, name: str, layer: str, df=None):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        s = Span(sid, name, layer, parent.op if parent else sid, parent.id if parent else None, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        if df is not None:
            # the DataFrame was analyzed eagerly when it was built
            s.analysis_s += _phase_seconds(df._jdf.queryExecution().tracker())[0]
        first_event = len(self._events)
        calls = self._calls
        self._counting = layer == "construct"
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._counting = False
            s.py4j_calls = self._calls - calls
            self._bus.waitUntilEmpty()
            self._read_group(s, first_event)
            self._stack.pop()
            self._set_group(parent)
            self._counting = parent is not None and parent.layer == "construct"

    def _read_group(self, s: Span, first_event: int) -> None:
        tracker = self.sc.statusTracker()
        intervals = []
        for jid in tracker.getJobIdsForGroup(f"bench-span-{s.id}"):
            s.jobs += 1
            job = self._store.job(jid)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append(
                    (job.submissionTime().get().getTime(), job.completionTime().get().getTime())
                )
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = self._store.lastStageAttempt(sid)
                if stage.status().toString() == "SKIPPED":
                    continue
                s.stages += 1
                s.tasks += stage.numTasks()
                s.shuffle_write_bytes += stage.shuffleWriteBytes()
                s.spill_bytes += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
        s.job_busy_s = _union_seconds(intervals)
        if s.layer == "write":
            for ev in self._events[first_event:]:
                s.analysis_s += ev[0]
                s.optimization_s += ev[1]
                s.planning_s += ev[2]

    def close(self) -> None:
        self._client.send_command = self._send
        self.spark._jsparkSession.listenerManager().unregister(self._listener)
