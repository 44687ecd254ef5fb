"""Tracing for the ``--trace 1`` run, built entirely in the benchmark.

* Spans: the public functions of the layers are wrapped at module level
  for the traced run only (and restored afterwards). The wrappers record
  a span only while the calling thread has tracing switched on, so one
  run can interleave traced and untraced operations. A span records
  name, start, end and its parent span; spans live in memory.
* Job groups: each span tags the Spark jobs started inside it with
  ``setJobGroup(<span id>)`` and restores the parent's group when it
  ends, so the work of a lazy builder shows up under the write span
  that runs it.
* Stage metrics: Spark's in-process status store (always on, with or
  without the UI) holds every job's group and every stage's task
  metrics; :func:`read_status_store` reads those of the timed loop once
  after it and attributes each stage to the job group that ran it. Nothing
  is switched on for this, so a traced and an untraced operation differ
  only by the wrappers and the job-group calls.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    sid: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._n = 0
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @property
    def active(self) -> bool:
        """Whether the calling thread records spans."""
        return getattr(self._local, "active", False)

    @contextlib.contextmanager
    def tracing(self, on: bool):
        """Switch span recording on or off for the calling thread."""
        prev = self.active
        self._local.active = on
        try:
            yield
        finally:
            self._local.active = prev

    @contextlib.contextmanager
    def span(self, name: str):
        with self._lock:
            self._n += 1
            sid = f"{name}#{self._n}"
        stack = self._stack()
        s = Span(sid, name, stack[-1].sid if stack else None, time.perf_counter())
        stack.append(s)
        self.sc.setJobGroup(sid, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", stack[-1].sid if stack else None)
            with self._lock:
                self.spans.append(s)

    def wrap(self, owner, attr: str, name: str, suffix=None) -> None:
        """Replace ``owner.attr`` (module attribute or dict entry) with a
        span-recording wrapper until :meth:`restore`. ``suffix(args)``
        may refine the span name per call."""
        is_dict = isinstance(owner, dict)
        fn = owner[attr] if is_dict else getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(f"{name}.{suffix(args)}" if suffix else name):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        if is_dict:
            owner[attr] = traced
        else:
            setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            if isinstance(owner, dict):
                owner[attr] = fn
            else:
                setattr(owner, attr, fn)
        self._patched.clear()

    def self_time(self, span: Span) -> float:
        """Span duration minus the time its direct children cover."""
        kids = sum(s.dur for s in self.spans if s.parent == span.sid)
        return span.dur - kids

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def descendants(self, root: Span) -> set[str]:
        """Span ids of ``root`` and every span below it."""
        kids: dict[str | None, list[str]] = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s.sid)
        out, todo = set(), [root.sid]
        while todo:
            sid = todo.pop()
            out.add(sid)
            todo.extend(kids.get(sid, []))
        return out


def install_layer_wrappers(tracer: Tracer) -> None:
    """Wrap the public layer entry points the workloads call."""
    from formula1_etl_analytics_project_spark import etl
    from formula1_etl_analytics_project_spark.plans import analytics, star
    from formula1_etl_analytics_project_spark.sources import sinks

    tracer.wrap(etl, "read_wide_csv", "readers.read_wide_csv")
    for table in list(etl.BUILDERS):
        tracer.wrap(etl.BUILDERS, table, f"star.build.{table}")
    # run_etl writes each table to <out>/<table>: one span per table
    tracer.wrap(etl, "write_parquet", "sinks.write_parquet", lambda a: a[1].rstrip("/").rsplit("/", 1)[-1])
    for fn in ("write_parquet", "upsert_parquet_partitioned"):
        tracer.wrap(sinks, fn, f"sinks.{fn}")
    for fn in (
        "driver_standings_recompute",
        "fastest_lap_ranking",
        "pitstop_aggregates",
        "season_team_rollup",
    ):
        tracer.wrap(analytics, fn, f"analytics.{fn}")
    tracer.wrap(star, "reconstruct_wide", "star.reconstruct_wide")


@dataclass
class StageStats:
    group: str | None
    submitted_ms: int
    duration_s: float
    run_s: float
    gc_s: float
    input_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class StageLog:
    jobs_by_group: dict[str | None, int] = field(default_factory=lambda: defaultdict(int))
    stages: list[StageStats] = field(default_factory=list)

    def stages_of(self, groups) -> list[StageStats]:
        groups = set(groups)
        return [s for s in self.stages if s.group in groups]


def _opt(o):
    return o.get() if o.isDefined() else None


def read_status_store(sc, since_ms: int) -> StageLog:
    """Jobs submitted at or after ``since_ms`` (epoch ms) and their
    completed stages, read from the session's live status store, each
    stage under the job group of the first job that ran it."""
    log = StageLog()
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    stage_group: dict[int, str | None] = {}
    for i in range(jobs.size()):
        job = jobs.apply(i)
        submitted = _opt(job.submissionTime())
        if submitted is None or submitted.getTime() < since_ms:
            continue
        group = _opt(job.jobGroup())
        log.jobs_by_group[group] += 1
        ids = job.stageIds()
        for k in range(ids.size()):
            stage_group.setdefault(ids.apply(k), group)
    for sid, group in sorted(stage_group.items()):
        try:
            s = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted from the store
            continue
        if str(s.status()) != "COMPLETE":  # skipped: its shuffle output was reused
            continue
        sub = _opt(s.submissionTime()).getTime()
        done = _opt(s.completionTime()).getTime()
        log.stages.append(StageStats(
            group=group,
            submitted_ms=sub,
            duration_s=(done - sub) / 1000.0,
            run_s=s.executorRunTime() / 1000.0,
            gc_s=s.jvmGcTime() / 1000.0,
            input_bytes=s.inputBytes(),
            shuffle_write_bytes=s.shuffleWriteBytes(),
            spill_bytes=s.memoryBytesSpilled() + s.diskBytesSpilled(),
        ))
    return log
