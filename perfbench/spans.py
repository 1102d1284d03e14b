"""Spans around the program's layer functions, and JVM counters.

A :class:`Tracer` records one span per call into a layer: name, start,
end, parent and the window or cycle it served. Spans stay in memory
until the benchmark ends. Each span runs its Spark work under its own
job group, so the scheduler's jobs, stages and tasks are attributed to
the innermost span; they are read from the status tracker as the span
closes, because the tracker keeps only the most recent jobs.

:func:`patched` installs the spans where the program looks the layer
functions up: the module globals of ``pipeline`` and
``operators.silver``. No program file changes.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field

# pipeline's global name -> layer span name
PIPELINE_LAYERS = {
    "fetch_earthquake_data_limit_offset": "sources.rest.fetch_earthquake_data_limit_offset",
    "events_from_geojson_strings": "sources.geojson.events_from_geojson_strings",
    "save_partitioned_table": "sinks.save_partitioned_table",
    "read_partitioned_table": "sinks.read_partitioned_table",
    "build_silver_layer": "operators.silver.build_silver_layer",
    "ingest_window_paged": "pipeline.ingest_window_paged",
}
SILVER_LAYERS = {"save_partitioned_table": "sinks.save_partitioned_table"}


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    ctx: str | None = None
    end: float = 0.0
    error: str | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


class Tracer:
    def __init__(self, sc=None, clock=time.perf_counter):
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _group(self, span: Span | None) -> str | None:
        return None if span is None else f"perfbench-{span.id}"

    @contextlib.contextmanager
    def span(self, name: str, ctx: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if ctx is None and parent is not None:
            ctx = parent.ctx
        s = Span(len(self.spans), name, self.clock(), parent and parent.id, ctx)
        self.spans.append(s)
        if parent is not None:
            parent.children.append(s.id)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(self._group(s), name)
        try:
            yield s
        except BaseException as exc:
            s.error = type(exc).__name__
            raise
        finally:
            s.end = self.clock()
            self._stack.pop()
            if self.sc is not None:
                self._read_scheduler(s)
                self.sc.setLocalProperty("spark.jobGroup.id", self._group(parent))

    def _read_scheduler(self, s: Span) -> None:
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(self._group(s)):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            s.jobs += 1
            for stage_id in info.stageIds:
                stage = tracker.getStageInfo(stage_id)
                if stage is None:  # skipped: its shuffle output was reused
                    continue
                s.stages += 1
                s.tasks += stage.numTasks
                s.tasks_failed += stage.numFailedTasks

    def wrap(self, name: str, fn, ctx_arg: int | None = None):
        """``fn`` inside a span; ``ctx_arg`` names the positional
        argument that identifies the window."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            ctx = str(args[ctx_arg]) if ctx_arg is not None and len(args) > ctx_arg else None
            with self.span(name, ctx):
                return fn(*args, **kwargs)

        return traced

    # --- aggregation -------------------------------------------------------

    def self_time(self, s: Span) -> float:
        kids = [(self.spans[c].start, self.spans[c].end) for c in s.children]
        return s.duration - covered(kids, s.start, s.end)

    def subtree(self, s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.spans[c] for c in cur.children)
        return out

    def totals(self, name: str, roots: list[Span]) -> dict:
        """calls, busy_s, self_s and inclusive Spark counts of every
        span called ``name`` under ``roots``."""
        out = dict(calls=0, busy_s=0.0, self_s=0.0, jobs=0, stages=0, tasks=0, tasks_failed=0)
        for root in roots:
            for s in self.subtree(root):
                if s.name != name:
                    continue
                out["calls"] += 1
                out["busy_s"] += s.duration
                out["self_s"] += self.self_time(s)
                for k in self.subtree(s):
                    out["jobs"] += k.jobs
                    out["stages"] += k.stages
                    out["tasks"] += k.tasks
                    out["tasks_failed"] += k.tasks_failed
        return out

    def records(self) -> list[dict]:
        return [
            dict(id=s.id, name=s.name, start=s.start, end=s.end, parent=s.parent,
                 ctx=s.ctx, error=s.error, jobs=s.jobs, stages=s.stages,
                 tasks=s.tasks, tasks_failed=s.tasks_failed)
            for s in self.spans
        ]


@contextlib.contextmanager
def patched(tracer: Tracer):
    """Route the program's layer lookups through ``tracer``."""
    from usgs_earthquake_data_pipeline_spark import pipeline
    from usgs_earthquake_data_pipeline_spark.operators import silver

    saved = []
    for module, layers in ((pipeline, PIPELINE_LAYERS), (silver, SILVER_LAYERS)):
        for attr, name in layers.items():
            fn = getattr(module, attr)
            saved.append((module, attr, fn))
            # ingest_window_paged(spark, api_url, start_time, ...): the
            # window start names the span's window
            ctx_arg = 2 if attr == "ingest_window_paged" else None
            setattr(module, attr, tracer.wrap(name, fn, ctx_arg))
    try:
        yield
    finally:
        for module, attr, fn in reversed(saved):
            setattr(module, attr, fn)


# --- the Spark JVM seen from /proc -----------------------------------------


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def proc_status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def proc_io(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/io") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)
