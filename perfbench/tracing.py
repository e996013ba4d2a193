"""Tracing for the traced benchmark run (``--trace 1``).

Spans are recorded from outside the engine: ``install`` replaces the
public functions each module exposes with wrappers that open a span
around the call, and restores them on ``uninstall``. Spans live in
memory and are dumped as JSON when the run ends.

Wrapping a lazy DataFrame builder (``admit``, ``politeness_schedule``,
``fetch_documents_join``) times driver plan construction only; the
execution lands in eager ``checkpoint_cut`` calls, ``collect``s and
``write_wave``. Those spans are therefore reported as ``*.plan_s``.

Spark engine counters come from the local UI's REST API, which the
traced run enables (the untraced run keeps the UI off).
"""

from __future__ import annotations

import functools
import json
import threading
import time
import urllib.request
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    thread: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Parents are tracked per thread, so the
    flush writes that run on the ``wave-flush`` thread (and its writer
    pool) form their own span trees."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self._patched: list[tuple[object, str, object]] = []
        # runners seen by WaveRunner.run/resume, for phase_seconds
        self.runners: list = []
        # seconds spent inside the tracer's own bookkeeping
        self.bookkeeping_s = 0.0

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, name: str, fn, args, kwargs, attrs: dict | None = None):
        b0 = time.perf_counter()
        stack = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        parent = stack[-1] if stack else None
        stack.append(sid)
        self.bookkeeping_s += time.perf_counter() - b0
        start = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            end = time.time()
            b1 = time.perf_counter()
            stack.pop()
            span = Span(sid, name, start, end, parent,
                        threading.current_thread().name, attrs or {})
            with self._lock:
                self.spans.append(span)
            self.bookkeeping_s += time.perf_counter() - b1

    def wrap(self, owner, attr: str, name: str, attrs_of=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper.
        ``attrs_of(args, kwargs)`` may add attributes to the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            attrs = attrs_of(args, kwargs) if attrs_of else None
            return tracer.call(name, orig, args, kwargs, attrs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ---- derived numbers ------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        return {
            s.id: (s.end - s.start) - covered(
                [(c.start, c.end) for c in children.get(s.id, [])], s.start, s.end
            )
            for s in self.spans
        }

    def dump(self, path) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def install(tracer: Tracer) -> None:
    """Wrap the public functions of every traced engine module."""
    from kryptone_spark.operators import admission, schedule
    from kryptone_spark.plans import lineage_cut, tableio, waves
    from kryptone_spark.streaming import ingest

    W = waves.WaveRunner

    def keep_runner(fn_name):
        orig = getattr(W, fn_name)

        @functools.wraps(orig)
        def wrapper(self, *a, **k):
            if self not in tracer.runners:
                tracer.runners.append(self)
            return orig(self, *a, **k)

        tracer._patched.append((W, fn_name, orig))
        setattr(W, fn_name, wrapper)

    keep_runner("run")
    keep_runner("resume")
    tracer.wrap(W, "run_wave", "waves.run_wave")
    tracer.wrap(W, "flush", "waves.flush")
    tracer.wrap(W, "resume", "waves.resume")
    tracer.wrap(waves, "fetch_documents_join", "waves.fetch_join")
    tracer.wrap(admission, "admit", "admission.admit")
    tracer.wrap(schedule, "politeness_schedule", "schedule.politeness_schedule")
    eager = lambda a, k: {"eager": bool(k.get("eager", a[1] if len(a) > 1 else False))}
    # checkpoint_cut is imported by name into the modules that call it
    for mod in (lineage_cut, waves, ingest):
        tracer.wrap(mod, "checkpoint_cut", "lineage_cut.checkpoint_cut", eager)
    T = tableio.TableIO
    tracer.wrap(T, "write_wave", "tableio.write_wave")
    tracer.wrap(T, "read", "tableio.read")
    tracer.wrap(T, "committed_waves", "tableio.committed_waves")
    tracer.wrap(T, "drop_waves_after", "tableio.drop_waves_after")
    tracer.wrap(ingest, "run_crawl_ingest", "ingest.run_crawl_ingest")


def max_job_id(spark) -> int:
    """Highest Spark job id submitted so far (-1 if none). Job counts
    are differences of this: the length of a status-tracker job list
    is capped by ``spark.ui.retainedJobs``."""
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids) if ids else -1


class SparkRest:
    """Reader for the local Spark UI REST API (``/api/v1``)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (
            f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        )

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.loads(r.read())

    def executor_totals(self) -> dict:
        ex = self.get("executors")
        return {
            "gc_ms": sum(e.get("totalGCTime", 0) for e in ex),
            "tasks": sum(e.get("totalTasks", 0) for e in ex),
        }

    def stages_after(self, stage0: int) -> list[dict]:
        return [s for s in self.get("stages") if s["stageId"] > stage0]

    def max_stage_id(self) -> int:
        return max((s["stageId"] for s in self.get("stages")), default=-1)

    def jobs_between(self, job0: int, job1: int) -> list[dict]:
        return [j for j in self.get("jobs") if job0 < j["jobId"] <= job1]

    def task_skew(self, stage: dict) -> float:
        """max / median task run time of one stage attempt."""
        q = self.get(
            f"stages/{stage['stageId']}/{stage['attemptId']}"
            "/taskSummary?quantiles=0.5,1.0"
        )
        med, mx = q["executorRunTime"]
        return mx / med if med > 0 else 0.0


def rest_time(s: str | None) -> float | None:
    """REST timestamps ('2026-01-01T00:00:00.123GMT') → epoch seconds."""
    if not s:
        return None
    import calendar

    base, ms = s.replace("GMT", "").split(".")
    return calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) + int(ms) / 1000

