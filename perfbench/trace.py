"""Spans around public calls, joined to Spark jobs through the event log.

A span records its name, epoch start and end (so it joins with event-log
timestamps), its parent, and attributes the caller attaches. While a span
is open its tag is added to the SparkContext's job tags, so every job the
span launches carries it; the event log then says which jobs, stages and
tasks ran inside which span.

With tracing off, :meth:`Tracer.span` only yields a throw-away span and
nothing is patched, so untraced runs pay no span cost.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def tag(self) -> str:
        return f"pb-span-{self.id}"

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark=None, enabled: bool = False):
        self.sc = spark.sparkContext if (spark is not None and enabled) else None
        self.enabled = enabled
        self.recording = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        # ids (and so job tags) are never reused, also not after reset():
        # the event log still holds the jobs of forgotten spans
        self._ids = itertools.count()
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.recording:
            yield Span(-1, name, None, 0.0, attrs=attrs)
            return
        parent = self._stack[-1].id if self._stack else None
        sp = Span(next(self._ids), name, parent, time.time(), attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        if self.sc is not None:
            self.sc.addJobTag(sp.tag)
        try:
            yield sp
        finally:
            sp.end = time.time()
            if self.sc is not None:
                self.sc.removeJobTag(sp.tag)
            self._stack.pop()

    def reset(self) -> None:
        """Forget finished spans (warm-up work is not measured)."""
        self.spans = list(self._stack)

    def stop(self) -> None:
        """Record no further spans (the correctness checks after the
        measured window are not measured either)."""
        self.recording = False

    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Replace ``owner.attr`` by a version that runs inside a span.
        ``on_call(span, args, kwargs, result)`` may attach attributes."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            with self.span(name) as sp:
                out = orig(*args, **kwargs)
                if on_call is not None:
                    on_call(sp, args, kwargs, out)
                return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches = []


# ------------------------------------------------------------ interval math
def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
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


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its child spans cover."""
    return span.dur - union_length(
        [(c.start, c.end) for c in children], span.start, span.end
    )


def driver_time(span: Span, jobs: list["Job"]) -> float:
    """The span's duration minus the union of its jobs' run intervals: time
    the driver spent planning, listing, scanning footers or committing."""
    return span.dur - union_length(
        [(j.start, j.end) for j in jobs], span.start, span.end
    )


# ---------------------------------------------------------------- event log
@dataclass
class Stage:
    id: int
    n_tasks: int = 0
    task_s: float = 0.0  # executor run time
    cpu_s: float = 0.0
    gc_s: float = 0.0
    max_task_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0


@dataclass
class Job:
    id: int
    start: float
    end: float
    tags: set
    stage_ids: list


class EventLog:
    """Jobs and per-stage task sums read from Spark's JSON event log."""

    def __init__(self, jobs: dict[int, Job], stages: dict[int, Stage]):
        self.jobs = jobs
        self.stages = stages

    @staticmethod
    def load(directory: str) -> "EventLog":
        jobs: dict[int, Job] = {}
        stages: dict[int, Stage] = {}
        for path in sorted(glob.glob(os.path.join(directory, "**"), recursive=True)):
            if not os.path.isfile(path):
                continue
            with open(path) as f:
                for line in f:
                    _apply(json.loads(line), jobs, stages)
        return EventLog(jobs, stages)

    def jobs_with_tag(self, tag: str) -> list[Job]:
        return [j for j in self.jobs.values() if tag in j.tags]

    def stages_of(self, jobs: list[Job]) -> list[Stage]:
        ids = {s for j in jobs for s in j.stage_ids}
        return [self.stages[i] for i in sorted(ids) if i in self.stages]


def _apply(ev: dict, jobs: dict, stages: dict) -> None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        tags = set(filter(None, (props.get("spark.job.tags") or "").split(",")))
        jid = ev["Job ID"]
        jobs[jid] = Job(
            jid, ev["Submission Time"] / 1000.0, ev["Submission Time"] / 1000.0,
            tags, list(ev.get("Stage IDs") or []),
        )
    elif kind == "SparkListenerJobEnd":
        j = jobs.get(ev["Job ID"])
        if j is not None:
            j.end = ev["Completion Time"] / 1000.0
    elif kind == "SparkListenerTaskEnd":
        sid = ev["Stage ID"]
        st = stages.setdefault(sid, Stage(sid))
        m = ev.get("Task Metrics") or {}
        st.n_tasks += 1
        run_s = m.get("Executor Run Time", 0) / 1000.0
        st.task_s += run_s
        st.max_task_s = max(st.max_task_s, run_s)
        st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        st.gc_s += m.get("JVM GC Time", 0) / 1000.0
        st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)


# ------------------------------------------------------------------ reports
@dataclass
class SpanStats:
    """One span joined with its jobs."""

    span: Span
    self_s: float
    driver_s: float
    jobs: int
    stages: int
    tasks: int
    task_s: float
    cpu_s: float
    gc_s: float
    max_task_s: float
    input_bytes: int
    shuffle_write_bytes: int
    output_bytes: int
    map_task_s: float  # stages that wrote shuffle output
    result_task_s: float  # the remaining stages


def span_stats(spans: list[Span], log: EventLog) -> list[SpanStats]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = []
    for s in spans:
        jobs = log.jobs_with_tag(s.tag)
        stages = log.stages_of(jobs)
        mapped = [st for st in stages if st.shuffle_write_bytes > 0]
        out.append(
            SpanStats(
                span=s,
                self_s=self_time(s, kids.get(s.id, [])),
                driver_s=driver_time(s, jobs),
                jobs=len(jobs),
                stages=len(stages),
                tasks=sum(st.n_tasks for st in stages),
                task_s=sum(st.task_s for st in stages),
                cpu_s=sum(st.cpu_s for st in stages),
                gc_s=sum(st.gc_s for st in stages),
                max_task_s=max((st.max_task_s for st in stages), default=0.0),
                input_bytes=sum(st.input_bytes for st in stages),
                shuffle_write_bytes=sum(st.shuffle_write_bytes for st in stages),
                output_bytes=sum(st.output_bytes for st in stages),
                map_task_s=sum(st.task_s for st in mapped),
                result_task_s=sum(st.task_s for st in stages) - sum(
                    st.task_s for st in mapped
                ),
            )
        )
    return out
