"""In-memory span tracer that links wall time to Spark jobs.

A span has a name, a start and an end, its parent, and a trace id (one
per trading day or dashboard page).  While a span is open, every Spark
job its thread starts carries the span's tag (``spark.addTag`` tags are
thread-local, so concurrent client threads never share jobs).  On exit
the span drains the listener bus and asks the JVM status store which
jobs carry its tag; a job belongs to the innermost span that tagged it.
Per-job counters (stages, tasks, executor run/CPU time, GC, input,
shuffle and output bytes/records) are read once per job and cached.

Spans stay in memory until :meth:`Tracer.dump` writes them as JSONL.
With tracing off for a thread, :meth:`Tracer.span` yields immediately:
no tag, no clock read, no status-store call.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field, fields

#: per-job counters, summed over the job's non-skipped stages
COUNTERS = ("tasks", "run_s", "cpu_s", "gc_s", "input_bytes",
            "input_records", "shuffle_read_bytes", "shuffle_write_bytes",
            "output_bytes", "output_records")


@dataclass
class Span:
    span_id: int
    name: str
    trace: str
    parent: int | None
    thread: str
    start: float                  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    #: job ids this span tagged, its descendants' included
    all_jobs: list = field(default_factory=list)
    #: the subset no child span tagged
    self_jobs: list = field(default_factory=list)
    self_s: float = 0.0
    #: driver-side wall inside the span covered by none of its jobs
    driver_only_s: float = 0.0
    total: dict = field(default_factory=dict)
    own: dict = field(default_factory=dict)
    children: list = field(default_factory=list, repr=False)

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
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


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of it its children cover
    (overlapping children count once)."""
    return (end - start) - union_length(children, start, end)


class Tracer:
    """Collects spans for one process.  ``spark`` may be None in tests
    that exercise only the span arithmetic."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._jobs: dict[int, dict] = {}
        self._stages_seen: set[int] = set()

    # -- switching -----------------------------------------------------

    @property
    def on(self) -> bool:
        """Whether spans opened on this thread are recorded."""
        return getattr(self._local, "on", False)

    @contextmanager
    def enabled(self, on: bool = True):
        prior = self.on
        self._local.on = on
        try:
            yield
        finally:
            self._local.on = prior

    # -- spans ---------------------------------------------------------

    @contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        if not self.on:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sp = Span(span_id=next(self._ids), name=name,
                  trace=trace or (parent.trace if parent else name),
                  parent=parent.span_id if parent else None,
                  thread=threading.current_thread().name,
                  start=0.0, attrs=dict(attrs))
        tag = f"pbspan{sp.span_id}"
        full_tag = self._add_tag(tag)
        stack.append(sp)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            self._close(sp, tag, full_tag)
            if parent is not None:
                parent.children.append(sp)
            with self._lock:
                self.spans.append(sp)

    def _add_tag(self, tag: str) -> str | None:
        """Tag this thread's jobs; returns the tag as jobs carry it."""
        if self.spark is None:
            return None
        self.spark.addTag(tag)
        return self.spark._jsparkSession.managedJobTags().get().apply(tag)

    def _close(self, sp: Span, tag: str, full_tag: str | None) -> None:
        if self.spark is not None:
            self.spark.removeTag(tag)
            jsc = self.spark.sparkContext._jsc.sc()
            jsc.listenerBus().waitUntilEmpty()
            sp.all_jobs = sorted(
                int(j) for j in jsc.statusTracker().getJobIdsForTag(full_tag))
        child_jobs = {j for c in sp.children for j in c.all_jobs}
        sp.self_jobs = [j for j in sp.all_jobs if j not in child_jobs]
        sp.self_s = self_time(sp.start, sp.end,
                              [(c.start, c.end) for c in sp.children])
        infos = [self._job(j) for j in sp.all_jobs]
        sp.total = _sum_counters(infos)
        sp.own = _sum_counters([self._job(j) for j in sp.self_jobs])
        sp.driver_only_s = sp.dur - union_length(
            [(i["submitted"], i["completed"]) for i in infos],
            sp.start, sp.end)

    def _job(self, job_id: int) -> dict:
        """Counters of one finished job, read from the status store
        once and cached (a stage shared by two jobs counts once)."""
        with self._lock:
            if job_id in self._jobs:
                return self._jobs[job_id]
        store = self.spark.sparkContext._jsc.sc().statusStore()
        j = store.job(job_id)
        sub, comp = j.submissionTime(), j.completionTime()
        info = {c: 0 for c in COUNTERS}
        info["submitted"] = sub.get().getTime() / 1e3 if sub.isDefined() else 0.0
        info["completed"] = (comp.get().getTime() / 1e3 if comp.isDefined()
                             else info["submitted"])
        stage_ids = j.stageIds()
        for k in range(stage_ids.size()):
            sid = int(stage_ids.apply(k))
            st = store.lastStageAttempt(sid)
            if str(st.status()) == "SKIPPED":
                continue
            with self._lock:
                if sid in self._stages_seen:
                    continue
                self._stages_seen.add(sid)
            info["tasks"] += int(st.numTasks())
            info["run_s"] += st.executorRunTime() / 1e3
            info["cpu_s"] += st.executorCpuTime() / 1e9
            info["gc_s"] += st.jvmGcTime() / 1e3
            info["input_bytes"] += int(st.inputBytes())
            info["input_records"] += int(st.inputRecords())
            info["shuffle_read_bytes"] += int(st.shuffleReadBytes())
            info["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
            info["output_bytes"] += int(st.outputBytes())
            info["output_records"] += int(st.outputRecords())
        with self._lock:
            self._jobs[job_id] = info
        return info

    # -- output --------------------------------------------------------

    def dump(self, path: str) -> None:
        """Write every recorded span as one JSON object per line."""
        with open(path, "w") as fh:
            for sp in sorted(self.spans, key=lambda s: s.start):
                rec = {f.name: getattr(sp, f.name) for f in fields(Span)
                       if f.name != "children"}
                rec["dur"] = sp.dur
                fh.write(json.dumps(rec, default=str) + "\n")


def _sum_counters(infos: list[dict]) -> dict:
    out = {c: 0 for c in COUNTERS}
    for i in infos:
        for c in COUNTERS:
            out[c] += i[c]
    out["jobs"] = len(infos)
    return out


def load(path: str) -> list[dict]:
    """Read a JSONL trace back as span dicts."""
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]
