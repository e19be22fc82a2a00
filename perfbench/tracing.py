"""Spans around the program's public entry points, recorded from outside.

``install`` replaces each traced entry point (a module function or a
class method of the program) with a wrapper that opens a span while the
calling thread has tracing switched on, and is a plain pass-through
otherwise. A span records its name, start, end, parent and request id.
While it is open the thread's Spark job group is set to the span's id, so
every job the call submits is attributed to the innermost span, even with
several client threads. Spans whose work runs on Spark's own threads
(streaming micro-batches carry their own job group) are attributed by
job-id range instead; those only ever run on one thread.

Spans are kept in memory; when the run ends they are joined with the
status-store job stats and SQL-execution counts.
"""

from __future__ import annotations

import functools
import itertools
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from stats import clipped, union_length

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    request: str | None
    start: float  # time.time(), comparable with Spark's job timestamps
    end: float
    job_range: tuple[int, int] | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark=None, counters=None):
        self._sc = spark.sparkContext if spark is not None else None
        self._counters = counters
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self.spans: list[Span] = []

    # -- per-thread switches ------------------------------------------------
    @property
    def on(self) -> bool:
        return getattr(self._local, "on", False)

    @on.setter
    def on(self, value: bool) -> None:
        self._local.on = value

    @contextmanager
    def request(self, request_id: str):
        self._local.request = request_id
        try:
            yield
        finally:
            self._local.request = None

    def _set_group(self, span_id: int | None) -> None:
        if self._sc is None:
            return
        if span_id is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            # the description names the span too: SQL executions carry it
            self._sc.setJobGroup(f"{GROUP_PREFIX}{span_id}", f"{GROUP_PREFIX}{span_id}")

    @contextmanager
    def span(self, name: str, by_job_range: bool = False):
        """Yields the span's attribute dict, or None when tracing is off."""
        if not self.on:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        span_id = next(self._ids)
        parent = stack[-1] if stack else None
        attrs: dict = {}
        self._set_group(span_id)
        first_job = self._counters.jobs_submitted() if by_job_range else None
        stack.append(span_id)
        start = time.time()
        try:
            yield attrs
        finally:
            end = time.time()
            stack.pop()
            job_range = (first_job, self._counters.jobs_submitted()) if by_job_range else None
            self._set_group(parent)
            with self._lock:
                self.spans.append(Span(span_id, name, parent, getattr(self._local, "request", None),
                                       start, end, job_range, attrs))


def _wrap(owner, attr: str, name: str, tracer: Tracer, measure_db: bool = False) -> None:
    original = getattr(owner, attr)

    @functools.wraps(original)
    def traced(*args, **kwargs):
        if not tracer.on:
            return original(*args, **kwargs)
        size_before = os.path.getsize(args[0].db_path) if measure_db else 0
        with tracer.span(name) as attrs:
            result = original(*args, **kwargs)
        if measure_db:
            attrs["bytes"] = os.path.getsize(args[0].db_path) - size_before
        return result

    setattr(owner, attr, traced)


def install(tracer: Tracer) -> None:
    """Wrap the program's public entry points; the program is not edited."""
    from ai_duckdb_spark import engine, executor, metadata, nl2sql, registry, webapp

    for owner, attr, name in (
        (engine.AnalyticsEngine, "analyze_file", "engine.analyze_file"),
        (engine.AnalyticsEngine, "analyze_data_with_ai", "engine.ask"),
        (engine, "load_data_from_file", "io.load"),
        (engine, "profile_dataframe", "profile"),
        (engine, "execute_sql", "executor.execute"),
        (executor, "ensure_select_only", "executor.gate"),
        (registry.TableRegistry, "register", "registry.register"),
        (registry.TableRegistry, "activate", "registry.activate"),
        (nl2sql.StubSqlGenerator, "generate", "nl2sql.generate"),
        (webapp, "format_analysis_result", "formatter"),
        (metadata.ChatDatabase, "get_chat_history", "metadata.read"),
        (metadata.ChatDatabase, "get_file_detail", "metadata.read"),
    ):
        _wrap(owner, attr, name, tracer)
    for attr in ("save_chat_record", "save_file_info", "create_session"):
        _wrap(metadata.ChatDatabase, attr, "metadata.write", tracer, measure_db=True)


# -- analysis ----------------------------------------------------------------

def children_of(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            out.setdefault(s.parent, []).append(s)
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    kids = children_of(spans)
    return {
        s.span_id: s.duration
        - union_length(clipped([(c.start, c.end) for c in kids.get(s.span_id, [])], s.start, s.end))
        for s in spans
    }


def subtree_ids(span_id: int, kids: dict[int, list[Span]]) -> list[int]:
    out, todo = [], [span_id]
    while todo:
        sid = todo.pop()
        out.append(sid)
        todo.extend(c.span_id for c in kids.get(sid, []))
    return out


def jobs_by_span(spans: list[Span], jobs: dict) -> dict[int, list]:
    """Span id -> the jobs it submitted itself (innermost span wins)."""
    out: dict[int, list] = {}
    for job in jobs.values():
        if job.group and job.group.startswith(GROUP_PREFIX):
            out.setdefault(int(job.group[len(GROUP_PREFIX):]), []).append(job)
    for s in spans:
        if s.job_range is not None:
            out[s.span_id] = [jobs[j] for j in range(*s.job_range) if j in jobs]
    return out


def spark_totals(span: Span, own_jobs: dict[int, list], kids: dict[int, list[Span]],
                 executions: dict[int, int]) -> dict[str, float]:
    """The spark.* family for one span, its descendants' jobs and SQL
    executions included."""
    subtree = subtree_ids(span.span_id, kids)
    if span.job_range is not None:
        jobs = own_jobs.get(span.span_id, [])
    else:
        jobs = [j for sid in subtree for j in own_jobs.get(sid, [])]
    busy = union_length(clipped([(j.start, j.end) for j in jobs], span.start, span.end))
    return {
        "jobs": len(jobs),
        "sql_executions": sum(executions.get(sid, 0) for sid in subtree),
        "tasks": sum(j.tasks for j in jobs),
        "stage_run_s": sum(j.stage_run_s for j in jobs),
        "stage_cpu_s": sum(j.stage_cpu_s for j in jobs),
        "job_s": busy,
        "driver_gap_s": max(0.0, span.duration - busy),
        "shuffle_read_bytes": sum(j.shuffle_read_bytes for j in jobs),
        "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
        "spill_bytes": sum(j.spill_bytes for j in jobs),
    }
