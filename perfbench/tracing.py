"""Tracing for the benchmark's traced run: spans, job groups, the Spark
event-log fold and the streaming progress listener.

- ``Tracer.span(name)`` records (id, name, parent, start, end) in memory
  and tags the Spark jobs started inside it with the job group
  ``span-<id>``; spans are written out once, at the end of the run.
- ``Tracer.instrument(targets)`` wraps engine functions with spans from
  the benchmark's side (the engine itself is not modified) and keeps the
  DataFrames they take and return, so each stage of a lazy lineage can
  later be forced alone (``force``).
- ``fold_event_log`` reads the uncompressed, non-rolling JSON event log
  Spark writes when ``spark.eventLog.enabled`` is set, and folds jobs,
  stages and task metrics per job group and per time interval.
- ``ProgressRecorder`` keeps every ``StreamingQueryProgress`` of the run.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"span-{self.id}"


class Tracer:
    """In-memory span recorder. Spans opened on the main thread set the
    Spark job group; spans opened on other threads (``foreachBatch``
    callbacks) do not, because those threads carry the streaming query's
    own group, and their jobs are attributed by time instead."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.captured: list[tuple[Span, list, object]] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()

    def span(self, name: str):
        return _SpanCtx(self, name)

    def _open(self, name: str) -> Span:
        with self._lock:
            parent = self._stack[-1].id if self._stack else None
            s = Span(len(self.spans), name, parent, time.time())
            self.spans.append(s)
            self._stack.append(s)
        if self.sc is not None and threading.current_thread() is threading.main_thread():
            self.sc.setJobGroup(s.group, name)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.time()
        with self._lock:
            self._stack.remove(s)
            parent = self._stack[-1] if self._stack else None
        if self.sc is not None and threading.current_thread() is threading.main_thread():
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, fn, name: str, capture: bool):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
            if capture:
                self.captured.append((s, [*args, *kwargs.values()], out))
            return out

        return traced

    def instrument(self, targets):
        """Context manager patching ``(module, attribute, span name,
        capture)`` targets with traced wrappers, restored on exit."""
        return _Patched(self, targets)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def self_time(self, s: Span) -> float:
        """Span duration minus the part its child spans cover."""
        return (s.end - s.start) - union_length(
            [(c.start, c.end) for c in self.children(s)], s.start, s.end
        )

    def to_json(self) -> list[dict]:
        return [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "wall_s": s.end - s.start,
                "self_s": self.self_time(s),
            }
            for s in self.spans
        ]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> Span:
        self.s = self.tracer._open(self.name)
        return self.s

    def __exit__(self, *exc):
        self.tracer._close(self.s)
        return False


class _Patched:
    def __init__(self, tracer: Tracer, targets):
        self.tracer, self.targets, self.saved = tracer, targets, []

    def __enter__(self):
        for mod, attr, name, capture in self.targets:
            fn = getattr(mod, attr)
            self.saved.append((mod, attr, fn))
            setattr(mod, attr, self.tracer.wrap(fn, name, capture))
        return self

    def __exit__(self, *exc):
        for mod, attr, fn in reversed(self.saved):
            setattr(mod, attr, fn)
        return False


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def force(df) -> float:
    """Execute ``df`` alone through the ``noop`` sink; returns wall seconds."""
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


# --- event log -------------------------------------------------------------


@dataclass
class Job:
    id: int
    group: str | None
    start: float  # epoch seconds
    end: float = 0.0
    stages: set = field(default_factory=set)
    tasks: int = 0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def fold_event_log(path: str) -> list[Job]:
    """Jobs of one application's event log, each with the stages that ran
    (skipped stages excluded) and its tasks' summed metrics."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                j = Job(e["Job ID"], props.get("spark.jobGroup.id"), e["Submission Time"] / 1e3)
                jobs[j.id] = j
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, j.id)
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(e["Stage ID"]))
                if j is None:
                    continue
                j.stages.add(e["Stage ID"])
                j.tasks += 1
                m = e.get("Task Metrics") or {}
                j.executor_run_s += m.get("Executor Run Time", 0) / 1e3
                j.gc_s += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                j.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                j.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                j.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return sorted(jobs.values(), key=lambda j: j.id)


def attribute_jobs(tracer: Tracer, jobs: list[Job]) -> dict[int, list[Job]]:
    """Span id -> the jobs it started itself: by job group when the group
    names a span, else the innermost span open at submission time."""
    by_group = {s.group: s.id for s in tracer.spans}
    out: dict[int, list[Job]] = defaultdict(list)
    for j in jobs:
        sid = by_group.get(j.group)
        if sid is None:
            open_spans = [s for s in tracer.spans if s.start <= j.start <= s.end]
            if not open_spans:
                continue
            sid = max(open_spans, key=lambda s: s.start).id
        out[sid].append(j)
    return out


ENGINE_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "driver_s",
)


def engine_totals(jobs: list[Job], wall: tuple[float, float]) -> dict:
    """Engine metrics of a set of jobs; ``driver_s`` is the wall interval
    minus the union of the jobs' run intervals."""
    return {
        "jobs": len(jobs),
        "stages": sum(len(j.stages) for j in jobs),
        "tasks": sum(j.tasks for j in jobs),
        "executor_run_s": sum(j.executor_run_s for j in jobs),
        "gc_s": sum(j.gc_s for j in jobs),
        "shuffle_read_bytes": sum(j.shuffle_read_bytes for j in jobs),
        "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
        "spill_bytes": sum(j.spill_bytes for j in jobs),
        "driver_s": (wall[1] - wall[0])
        - union_length([(j.start, j.end) for j in jobs], wall[0], wall[1]),
    }


def subtree(tracer: Tracer, root: Span) -> list[Span]:
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(tracer.children(s))
    return out


def span_jobs(tracer: Tracer, owned: dict[int, list[Job]], root: Span) -> list[Job]:
    """Jobs of ``root`` and every span below it."""
    return [j for s in subtree(tracer, root) for j in owned.get(s.id, [])]


# --- streaming -------------------------------------------------------------


def progress_recorder_class():
    """A ``StreamingQueryListener`` subclass keeping each progress event's
    batch id, input rows and ``durationMs`` phases (built lazily so that
    importing this module needs no pyspark)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressRecorder(StreamingQueryListener):
        def __init__(self):
            self.epochs: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.epochs.append(
                {
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressRecorder
