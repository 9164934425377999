"""Spans recorded from outside the engine, and Spark's event log joined
to them.

A :class:`Tracer` keeps spans in memory (name, start, end, parent) and,
while a span is open, sets the Spark local property
:data:`harness.SPAN_PROPERTY` to its id, so every job launched inside it
carries the id in its ``SparkListenerJobStart`` properties.
:func:`install` wraps public engine calls in spans; the engine itself is
not changed. After the run, :func:`parse_event_log` reads the plain JSON
event log and :func:`attribute` joins jobs to spans and stages to jobs.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import dataclass, field

from perfbench.harness import SPAN_PROPERTY


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class NullTracer:
    """The untraced run: spans cost nothing and record nothing."""

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 1

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(self._next, name, 0.0, 0.0, parent.id if parent else None, attrs)
        self._next += 1
        self._stack.append(sp)
        self.sc.setLocalProperty(SPAN_PROPERTY, str(sp.id))
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(
                SPAN_PROPERTY, str(parent.id) if parent else None
            )
            self.spans.append(sp)


def install(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """Wrap ``owner.attr`` in a span named ``name`` for each target;
    returns a function that restores the originals."""

    def spanned(original, name):
        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        return wrapper

    saved = []
    for owner, attr, name in targets:
        original = getattr(owner, attr)
        saved.append((owner, attr, original))
        setattr(owner, attr, spanned(original, name))

    def uninstall():
        for owner, attr, original in reversed(saved):
            setattr(owner, attr, original)

    return uninstall


# -- event log ----------------------------------------------------------


@dataclass
class Job:
    id: int
    start: float  # seconds since the epoch
    end: float
    span: int | None
    stages: list[int]


@dataclass
class Stage:
    id: int
    executor_run_s: float
    shuffle_write_bytes: int
    input_records: int


def _accum(stage_info: dict, name: str) -> float:
    for acc in stage_info.get("Accumulables", []):
        if acc.get("Name") == name:
            return float(acc.get("Value") or 0)
    return 0.0


def parse_event_log(path: str) -> tuple[dict[int, Job], dict[int, Stage]]:
    """Jobs (with their span tag) and completed stages from a plain JSON
    lines event log. Skipped stages never complete and are not counted;
    a retried stage counts once, with its completed attempts' metrics
    summed."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                tag = props.get(SPAN_PROPERTY)
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"],
                    ev["Submission Time"] / 1000,
                    ev["Submission Time"] / 1000,
                    int(tag) if tag else None,
                    list(ev.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job.end = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Failure Reason" in info:
                    continue
                prev = stages.get(info["Stage ID"])
                st = Stage(
                    info["Stage ID"],
                    _accum(info, "internal.metrics.executorRunTime") / 1000,
                    int(_accum(info, "internal.metrics.shuffle.write.bytesWritten")),
                    int(_accum(info, "internal.metrics.input.recordsRead")),
                )
                if prev is not None:
                    st.executor_run_s += prev.executor_run_s
                    st.shuffle_write_bytes += prev.shuffle_write_bytes
                    st.input_records += prev.input_records
                stages[st.id] = st
    return jobs, stages


# -- joining spans, jobs and stages ------------------------------------


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    return {
        sp.id: sp.duration
        - covered([(c.start, c.end) for c in children.get(sp.id, [])], sp.start, sp.end)
        for sp in spans
    }


def attribute(
    spans: list[Span], jobs: dict[int, Job], stages: dict[int, Stage]
) -> dict[int, dict]:
    """Per span, over the jobs tagged with it or any span beneath it:
    job and completed-stage counts, executor run time, shuffle bytes
    written, input records read, and ``driver_s`` — the span's time
    during which no such job was running."""
    children: dict[int, list[int]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp.id)
    by_span: dict[int, list[Job]] = {}
    for job in jobs.values():
        if job.span is not None:
            by_span.setdefault(job.span, []).append(job)

    out: dict[int, dict] = {}
    for sp in spans:
        ids, todo = [], [sp.id]
        while todo:
            s = todo.pop()
            ids.append(s)
            todo.extend(children.get(s, []))
        mine = [j for s in ids for j in by_span.get(s, [])]
        done = [stages[st] for j in mine for st in j.stages if st in stages]
        busy = covered([(j.start, j.end) for j in mine], sp.start, sp.end)
        out[sp.id] = {
            "jobs": len(mine),
            "stages": len(done),
            "executor_run_s": sum(st.executor_run_s for st in done),
            "shuffle_write_bytes": sum(st.shuffle_write_bytes for st in done),
            "input_records": sum(st.input_records for st in done),
            "driver_s": sp.duration - busy,
        }
    return out
