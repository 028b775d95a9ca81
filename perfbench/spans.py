"""In-memory spans around calls into the program's layers.

A span records its name, start, end, parent span and run id. Spans
opened on the main thread also set a Spark job group, so the jobs a call
launched can be read back through ``statusTracker()`` once the call has
returned; stage names cannot be used for this, because under AQE they
all read like ``$anonfun$withThreadLocalCaptured$2``. Spans opened on
other threads (the stream's ``foreachBatch`` callback) only time the
call: the stream's own job group already holds its jobs.

Spans are recorded only in traced runs, and only while ``enabled`` is
set: a traced run also times untraced operations in the same JVM, to
measure what tracing costs. The layer functions are wrapped from here,
by ``patch``, so the program itself carries no tracing code.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    group: str | None = None
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    resolved: bool = False

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self.enabled = True
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if span is not None and span.group is not None:
            self.sc.setJobGroup(span.group, span.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        """Record a span around the block; yields it, or None while the
        tracer is disabled."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        on_main = threading.current_thread() is threading.main_thread()
        with self._lock:
            sid = next(self._ids)
        sp = Span(sid, name, stack[-1].id if stack else None, self.run_id, 0.0)
        if on_main:
            sp.group = f"{self.run_id}/{sid}"
            self._set_group(sp)
        with self._lock:
            self.spans.append(sp)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if on_main:
                self._set_group(stack[-1] if stack else None)

    def patch(self, owner, attr: str, span_name: str) -> None:
        """Wrap ``owner.attr`` (a module function or a class method) in a
        span for the rest of the run."""
        original = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return original(*args, **kwargs)
            with tracer.span(span_name):
                return original(*args, **kwargs)

        wrapper.__name__ = getattr(original, "__name__", attr)
        self._patched.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def resolve_jobs(self) -> None:
        """Attach job, stage and task counts to every finished span.
        Call between operations, outside timed regions: the status store
        keeps only the most recent jobs."""
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            if sp.group is None or sp.resolved or not sp.end:
                continue
            sp.resolved = True
            sp.jobs = sorted(tracker.getJobIdsForGroup(sp.group))
            for jid in sp.jobs:
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                for stage_id in info.stageIds:
                    sp.stages += 1
                    stage = tracker.getStageInfo(stage_id)
                    sp.tasks += stage.numTasks if stage is not None else 0

    # --- aggregation -----------------------------------------------------

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(kids)
        return out

    def self_seconds(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        covered, cur_start, cur_end = 0.0, None, None
        for s in sorted(self.children(span), key=lambda s: s.start):
            start, end = max(s.start, span.start), min(s.end, span.end)
            if cur_end is None or start > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = start, end
            else:
                cur_end = max(cur_end, end)
        if cur_end is not None:
            covered += cur_end - cur_start
        return span.seconds - covered

    def dump(self) -> list[dict]:
        return [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "run_id": s.run_id,
                "start": s.start,
                "end": s.end,
                "jobs": len(s.jobs),
                "stages": s.stages,
                "tasks": s.tasks,
            }
            for s in self.spans
        ]
