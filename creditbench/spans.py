"""Spans around calls into the pipeline's layers, and the Spark status-store
counters read at each span boundary.

A ``Tracer`` that is not enabled records nothing, so the untraced runs that
give the end-to-end numbers carry no tracing cost. An enabled tracer keeps
every span in memory (name, start, end, parent and the counters at both
ends); ``run.py`` writes them out when the run ends.

Layers are traced from outside the program: ``Tracer.instrument`` swaps a
module's function for a wrapper that opens a span around each call, and
puts the original back afterwards.
"""

from __future__ import annotations

import functools
import time
from collections.abc import Callable, Iterable
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: StatusCounters | None = None
        # time spent inside the tracer itself (counter reads, bookkeeping)
        self.bookkeeping_s = 0.0
        self._stack: list[int] = []

    def attach(self, spark) -> None:
        """Start reading counters once there is a session."""
        if self.enabled:
            self.counters = StatusCounters(spark)

    def _snapshot(self) -> dict | None:
        return self.counters.snapshot() if self.counters else None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "c0": self._snapshot(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["wall0"] = time.time()
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            rec["wall1"] = time.time()
            rec["c1"] = self._snapshot()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def wrap(self, name: str, fn: Callable, label: Callable | None = None) -> Callable:
        """``fn`` with a span around each call; ``label(args, kwargs)``
        names the span ``name:label``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            n = name if label is None else f"{name}:{label(args, kwargs)}"
            with self.span(n):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def instrument(self, module, names: dict[str, Callable | None]):
        """Trace calls that go through ``module.<name>`` for each name, with
        the label function given for it; restore the originals on exit."""
        if not self.enabled:
            yield
            return
        saved = {n: getattr(module, n) for n in names}
        for n, label in names.items():
            setattr(module, n, self.wrap(n, saved[n], label))
        try:
            yield
        finally:
            for n, fn in saved.items():
                setattr(module, n, fn)


class StatusCounters:
    """Reads Spark's own status store (the data behind the web UI).

    ``snapshot`` is cheap and taken at every span boundary: executor-wide
    task, run-time, GC, input and shuffle totals, plus the number of jobs
    started. ``stages`` walks every stage of a job range once, at the end
    of a run, for the figures only stages carry (spill, output, records,
    and when tasks ran)."""

    EXECUTOR_FIELDS = (
        "totalTasks",
        "totalDuration",
        "totalGCTime",
        "totalInputBytes",
        "totalShuffleRead",
        "totalShuffleWrite",
    )

    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._tracker = sc.statusTracker()

    def _drain(self) -> None:
        """Wait until the status listener has seen every finished task."""
        self._bus.waitUntilEmpty()

    def snapshot(self) -> dict:
        self._drain()
        out = dict.fromkeys(self.EXECUTOR_FIELDS, 0)
        execs = self._store.executorList(False)
        for i in range(execs.size()):
            e = execs.apply(i)
            for f in self.EXECUTOR_FIELDS:
                out[f] += getattr(e, f)()
        out["jobs"] = max(self._tracker.getJobIdsForGroup(None), default=-1) + 1
        return out

    def stages(self, first_job: int, end_job: int) -> list[dict]:
        """Every stage that ran for jobs ``first_job`` .. ``end_job - 1``;
        skipped stages (reused shuffle output) are left out."""
        from py4j.protocol import Py4JError

        self._drain()
        seen: set[int] = set()
        out = []
        for j in range(first_job, end_job):
            info = self._tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    s = self._store.lastStageAttempt(sid)
                except Py4JError:
                    continue
                launched, done = s.firstTaskLaunchedTime(), s.completionTime()
                if str(s.status()) == "SKIPPED" or not launched.isDefined():
                    continue
                out.append({
                    "stage": sid,
                    "tasks": s.numTasks(),
                    "run_ms": s.executorRunTime(),
                    "input_bytes": s.inputBytes(),
                    "input_records": s.inputRecords(),
                    "output_records": s.outputRecords(),
                    "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    "t0": launched.get().getTime() / 1000.0,
                    "t1": (done.get().getTime() if done.isDefined()
                           else launched.get().getTime()) / 1000.0,
                })
        return out


def self_times(spans: Iterable[dict]) -> dict[str, float]:
    """Total self time per layer: each span's duration minus the time its
    child spans cover (children run one after another on the single
    client thread). A span named ``layer:detail`` counts under ``layer``."""
    spans = list(spans)
    child_time: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] = (
                child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
            )
    out: dict[str, float] = {}
    for s in spans:
        layer = s["name"].split(":", 1)[0]
        own = (s["end"] - s["start"]) - child_time.get(s["id"], 0.0)
        out[layer] = out.get(layer, 0.0) + own
    return out


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total
