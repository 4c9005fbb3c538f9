"""Tracing from outside the engine: spans around calls into its public
functions, job groups for attribution, and a reader for Spark's local
event log.

Nothing inside the engine is changed. ``Tracer.wrap`` replaces a public
function, in every engine module that holds it, with a wrapper that
records a span; the workload wraps its own calls (plan builds,
actions) with ``Tracer.span``.
"""

from __future__ import annotations

import functools
import json
import statistics
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    req: str | None
    sid: int


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its
    direct children cover (overlapping children counted once)."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(kids[s.sid], key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.sid] = (s.end - s.start) - covered
    return out


class Tracer:
    """In-memory span recorder. ``sc`` (a SparkContext) is optional; when
    given, spans opened with ``group=`` tag the Spark jobs they run."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self.request: str | None = None  # main-thread request id

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, req: str | None = None, group: str | None = None):
        return _SpanCtx(self, name, req, group)

    def wrap(self, func, name: str, group: str | None = None, new_request: bool = False):
        """Wrapper recording a span per call. ``new_request`` starts a new
        request id on the calling thread (used for the per-batch entry
        point, which runs on Spark's callback thread)."""
        counter = [0]

        @functools.wraps(func)
        def wrapper(*args, **kwargs):
            if new_request:
                self._local.req = f"{name}#{counter[0]}"
                counter[0] += 1
            with self.span(name, group=group):
                return func(*args, **kwargs)

        return wrapper

    def patch(self, func, name: str, prefixes=("hrfco_data_pipeline_spark", "__spark_entry__"), **kw):
        """Replace ``func`` by ``wrap(func)`` in every loaded engine module
        that binds it (modules import the engine's functions by name)."""
        wrapped = self.wrap(func, name, **kw)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(prefixes):
                continue
            for attr, val in list(vars(mod).items()):
                if val is func:
                    setattr(mod, attr, wrapped)
        return wrapped

    def dump(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, req: str | None, group: str | None):
        self.t, self.name, self.req, self.group = tracer, name, req, group
        self.prev_group = None

    def __enter__(self):
        t = self.t
        stack = t._stack()
        parent = stack[-1] if stack else None
        req = self.req or (parent.req if parent else None) or getattr(t._local, "req", None) or t.request
        with t._lock:
            sid = t._next
            t._next += 1
        self.span = Span(self.name, time.perf_counter(), 0.0, parent.sid if parent else None, req, sid)
        stack.append(self.span)
        if self.group and t.sc is not None:
            self.prev_group = t.sc.getLocalProperty("spark.jobGroup.id")
            t.sc.setJobGroup(f"{req}|{self.group}", self.name)
        return self.span

    def __exit__(self, *exc):
        t = self.t
        self.span.end = time.perf_counter()
        t._stack().pop()
        if self.group and t.sc is not None:
            if self.prev_group is None:
                t.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                t.sc.setJobGroup(self.prev_group, "")
        with t._lock:
            t.spans.append(self.span)
        return False


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


@dataclass
class Work:
    """Execution counters of one group of Spark jobs."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    spill_b: int = 0
    skews: list = field(default_factory=list)  # max/median task time per stage


def read_event_log(path: str):
    """Per-job-group execution counters and SQL executions from one
    uncompressed, non-rolling event log file.

    Returns ``(by_group, sql)``: ``by_group`` maps the job-group id (or
    ``"streaming:<batchId>"`` for stream micro-batch jobs, ``None`` for
    untagged jobs) to a ``Work``; ``sql`` is a list of ``(plan,
    duration_ms)`` per SQL execution."""
    job_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    by_group: dict[str | None, Work] = defaultdict(Work)
    sql_start: dict[int, tuple] = {}
    sql: list[tuple] = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                batch = props.get("streaming.sql.batchId")
                if batch is not None:
                    group = f"streaming:{batch}"
                job_group[e["Job ID"]] = group
                by_group[group].jobs += 1
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, e["Job ID"])
            elif kind == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                w = by_group[job_group.get(stage_job.get(sid))]
                m = e.get("Task Metrics") or {}
                run_ms = m.get("Executor Run Time", 0)
                w.tasks += 1
                w.task_ms += run_ms
                w.gc_ms += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                w.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                w.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                w.spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                stage_tasks[sid].append(run_ms)
            elif kind == "SparkListenerStageCompleted":
                sid = e["Stage Info"]["Stage ID"]
                w = by_group[job_group.get(stage_job.get(sid))]
                w.stages += 1
                times = stage_tasks.get(sid, [])
                if len(times) >= 2 and statistics.median(times) > 0:
                    w.skews.append(max(times) / statistics.median(times))
            elif kind == SQL_START:
                sql_start[e["executionId"]] = (e.get("physicalPlanDescription", ""), e["time"])
            elif kind == SQL_END and e["executionId"] in sql_start:
                plan, t0 = sql_start.pop(e["executionId"])
                sql.append((plan, e["time"] - t0))
    return dict(by_group), sql


def merge(works) -> Work:
    out = Work()
    for w in works:
        for k in ("jobs", "stages", "tasks", "task_ms", "gc_ms", "shuffle_write_b", "shuffle_read_b", "spill_b"):
            setattr(out, k, getattr(out, k) + getattr(w, k))
        out.skews.extend(w.skews)
    return out
