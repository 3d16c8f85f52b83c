"""Tracing for the per-layer run: spans around the benchmark's calls into
each layer, a py4j gateway-call counter, and attribution of the Spark jobs
in the session's status store to those spans by time window.

The status store is the listener-fed job and stage record every
SparkContext keeps whether or not the UI or an event log is on, so a
traced run has the same session configuration as an untraced one; spans
and the gateway counter are active only during traced iterations.  Spans
stay in memory; the run prints them in its record line at exit.  Jobs are
matched to the innermost span whose window holds the job's submission
time, so jobs submitted from the program's own worker threads are
counted too.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Session conf that keeps every job and stage of a run in the status store
# (the defaults keep the last 1000, fewer than a corpus run submits).
RETAIN_CONF = {"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"}


@dataclass
class Span:
    name: str
    iteration: int
    parent: str | None
    t0: float  # epoch seconds, the status store's clock
    t1: float = 0.0
    gateway_calls: int = 0
    counts: dict[str, float] = field(default_factory=dict)


class GatewayCounter:
    """Counts py4j commands sent from Python to the JVM while installed."""

    def __init__(self) -> None:
        self.calls = 0
        self._lock = threading.Lock()
        self._patched: list[tuple[type, object]] = []

    def install(self) -> None:
        from py4j import clientserver, java_gateway

        for cls in (java_gateway.GatewayConnection, clientserver.ClientServerConnection):
            orig = cls.send_command
            self._patched.append((cls, orig))

            def send_command(conn, command, *args, _orig=orig, **kwargs):
                with self._lock:
                    self.calls += 1
                return _orig(conn, command, *args, **kwargs)

            cls.send_command = send_command

    def uninstall(self) -> None:
        for cls, orig in self._patched:
            cls.send_command = orig
        self._patched.clear()


class Tracer:
    """Records spans while ``enabled``; a disabled tracer costs one
    attribute test per span."""

    def __init__(self, gateway: GatewayCounter | None = None) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.gateway = gateway
        self._stack: list[Span] = []

    def set_enabled(self, on: bool) -> None:
        if self.gateway is not None and on != self.enabled:
            (self.gateway.install if on else self.gateway.uninstall)()
        self.enabled = on

    @contextmanager
    def span(self, name: str, iteration: int):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].name if self._stack else None
        s = Span(name, iteration, parent, time.time())
        g0 = self.gateway.calls if self.gateway else 0
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s.t1 = time.time()
            s.gateway_calls = (self.gateway.calls if self.gateway else 0) - g0
            self.spans.append(s)


# --- status store ------------------------------------------------------------


@dataclass
class Job:
    t0: float
    t1: float
    stages: list[int]


_STAGE_METRICS = {
    "executor_s": ("executorRunTime", 1e-3),
    "result_bytes": ("resultSize", 1),
    "bytes_written": ("outputBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("memoryBytesSpilled", 1),
    "disk_spill_bytes": ("diskBytesSpilled", 1),
    "records_read": ("inputRecords", 1),
}


def read_status_store(spark, windows: list[tuple[float, float]]
                      ) -> tuple[list[Job], dict[int, dict[str, float]]]:
    """The finished jobs submitted inside any of ``windows`` (epoch
    seconds) and the task-metric sums of their stages, read from the
    session's status store once the listener bus has caught up.  A stage
    shared by several jobs (a reused shuffle) belongs to the first."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    found: list[tuple[int, Job]] = []
    listed = store.jobsList(None)
    for i in range(listed.size()):
        j = listed.apply(i)
        if j.completionTime().isEmpty():
            continue
        t0 = j.submissionTime().get().getTime() / 1000
        if any(lo <= t0 <= hi for lo, hi in windows):
            ids = j.stageIds()
            found.append((j.jobId(), Job(t0, j.completionTime().get().getTime() / 1000,
                                         [ids.apply(k) for k in range(ids.size())])))
    jobs, stages = [], {}
    for _, job in sorted(found, key=lambda x: x[0]):
        job.stages = [sid for sid in job.stages if sid not in stages]
        for sid in job.stages:
            s = store.lastStageAttempt(sid)
            st = {k: getattr(s, name)() * scale for k, (name, scale) in _STAGE_METRICS.items()}
            st["spill_bytes"] += st.pop("disk_spill_bytes")
            st["tasks"] = s.numCompleteTasks()
            stages[sid] = st
        jobs.append(job)
    return jobs, stages


def attribute(spans: list[Span], jobs: list[Job], stages: dict[int, dict[str, float]]) -> None:
    """Fill each span's ``counts`` with the Spark work submitted inside it
    (innermost span wins) and its driver gap: wall time not covered by any
    of its jobs."""
    owned: dict[int, list[Job]] = {id(s): [] for s in spans}
    for j in jobs:
        inside = [s for s in spans if s.t0 <= j.t0 <= s.t1]
        if inside:
            owned[id(min(inside, key=lambda s: s.t1 - s.t0))].append(j)
    by_iter_parent = {}
    for s in spans:
        by_iter_parent.setdefault((s.iteration, s.parent), []).append(s)
    for s in spans:
        mine = list(owned[id(s)])
        for child in by_iter_parent.get((s.iteration, s.name), []):
            mine += owned[id(child)]
        c = {"jobs": len(mine), "tasks": 0, "executor_s": 0.0, "result_bytes": 0,
             "bytes_written": 0, "shuffle_write_bytes": 0, "spill_bytes": 0, "records_read": 0}
        for j in mine:
            for sid in j.stages:
                for k, v in stages.get(sid, {}).items():
                    c[k] += v
        covered, end = 0.0, s.t0
        for j in sorted(mine, key=lambda j: j.t0):
            lo, hi = max(j.t0, end), min(j.t1, s.t1)
            if hi > lo:
                covered += hi - lo
                end = hi
        c["driver_gap_s"] = max(0.0, (s.t1 - s.t0) - covered)
        s.counts = c
