"""Span recorder and Spark event-log reducer for the traced run.

A span is one call into a program layer made by the benchmark: name, start,
end, parent span and the id of the operation it served. While a span is
open its id rides as a thread-local Spark job tag, so the event log says
which span submitted each job; a job carrying several span tags belongs to
the innermost one. The tag is set with ``SparkContext.addJobTag`` rather
than ``SparkSession.addTag``: the session's tags reach only jobs run inside
a SQL execution, and would miss e.g. parquet schema-inference jobs. A job
with no span tag (one the program submits from a thread of its own) is
counted as untagged, never dropped, and belongs to the innermost span that
was open for all of it, if those spans are all on one client thread.

Spans stay in memory and are written once, when the run ends. The reducer
reads the rolling event log (``eventlog_v2_*/events_*``) with the standard
library only.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

TAG_PREFIX = "pbspan-"


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    op: int | None
    thread: str
    depth: int


@dataclass
class Tracer:
    """Collects spans in memory. With ``enabled=False`` a span is an empty
    context manager: the untraced run sets no tags and records nothing."""

    spark: object
    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _next: int = 1
    _next_op: int = 0

    def _stack(self) -> list[tuple[int, int | None]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def next_op(self) -> int:
        with self._lock:
            self._next_op += 1
            return self._next_op

    def set_op(self, op: int | None) -> None:
        """Operation id for this thread's next root spans."""
        self._local.op = op

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1][0] if stack else None
        if op is None:
            op = stack[-1][1] if stack else getattr(self._local, "op", None)
        with self._lock:
            sid = self._next
            self._next += 1
        tag = f"{TAG_PREFIX}{sid}"
        self.spark.sparkContext.addJobTag(tag)
        stack.append((sid, op))
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            self.spark.sparkContext.removeJobTag(tag)
            with self._lock:
                self.spans.append(
                    Span(sid, name, start, end, parent, op,
                         threading.current_thread().name, len(stack))
                )

    def wrap(self, name: str, fn):
        """``fn`` wrapped in a span named ``name``."""

        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        wrapped.__wrapped__ = fn
        return wrapped

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


# --------------------------------------------------------------- event log


@dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    end: float
    tags: tuple[str, ...]
    stages: tuple[int, ...]
    call_site: str = ""


@dataclass
class StageStats:
    submit: float | None = None
    first_launch: float | None = None
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    bytes_written: int = 0
    bytes_read: int = 0
    records_read: int = 0


def _event_files(log_dir: str) -> list[str]:
    """The rolling event-log parts, in write order."""
    files = []
    for d in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        parts = glob.glob(os.path.join(d, "events_*"))
        files += sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return files


def read_event_log(log_dir: str) -> tuple[dict[int, Job], dict[int, StageStats]]:
    jobs: dict[int, Job] = {}
    submits: dict[int, tuple] = {}
    stages: dict[int, StageStats] = defaultdict(StageStats)
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    tags = tuple(t for t in props.get("spark.job.tags", "").split(",") if t)
                    submits[ev["Job ID"]] = (
                        ev["Submission Time"] / 1e3, tags, tuple(ev.get("Stage IDs", ())),
                        props.get("callSite.short", ""),
                    )
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in submits:
                        sub, tags, st, site = submits[jid]
                        jobs[jid] = Job(jid, sub, ev["Completion Time"] / 1e3, tags, st, site)
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    sub = info.get("Submission Time")
                    if sub is not None:
                        stages[info["Stage ID"]].submit = sub / 1e3
                elif kind == "SparkListenerTaskEnd":
                    st = stages[ev["Stage ID"]]
                    launch = ev["Task Info"]["Launch Time"] / 1e3
                    if st.first_launch is None or launch < st.first_launch:
                        st.first_launch = launch
                    m = ev.get("Task Metrics") or {}
                    st.tasks += 1
                    st.run_s += m.get("Executor Run Time", 0) / 1e3
                    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    st.gc_s += m.get("JVM GC Time", 0) / 1e3
                    st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    st.bytes_written += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    inp = m.get("Input Metrics") or {}
                    st.bytes_read += inp.get("Bytes Read", 0)
                    st.records_read += inp.get("Records Read", 0)
    return jobs, stages


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


@dataclass
class SpanStats:
    """What one group of spans cost, from the spans and the jobs they own."""

    calls: int = 0
    busy_s: float = 0.0  # summed span wall time
    self_s: float = 0.0  # busy minus time covered by child spans
    jobs: int = 0
    job_s: float = 0.0  # union of the owned jobs' intervals, per span
    driver_s: float = 0.0  # busy minus job_s
    job_wait_s: float = 0.0  # stage submitted -> first task launched
    input_scans: int = 0  # stages whose tasks read input files
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    bytes_written: int = 0
    records_read: int = 0


class Attribution:
    """Jobs assigned to spans: the innermost span whose tag the job carries."""

    def __init__(self, spans: list[Span], jobs: dict[int, Job], stages: dict[int, StageStats]):
        self.spans = {s.id: s for s in spans}
        self.stages = stages
        self.jobs = jobs
        self.owned: dict[int, list[Job]] = defaultdict(list)
        self.untagged: list[Job] = []  # jobs no span tag claimed
        self.unclaimed: list[Job] = []  # of those, jobs no span claimed by time either
        for job in jobs.values():
            # session-level tags read "spark-session-<id>-thread-<id>-<tag>"
            ids = [int(t.rsplit(TAG_PREFIX, 1)[1]) for t in job.tags if TAG_PREFIX in t]
            ids = [i for i in ids if i in self.spans]
            if not ids:
                self.untagged.append(job)
                ids = self._enclosing(job)
            if not ids:
                self.unclaimed.append(job)
                continue
            owner = max(ids, key=lambda i: self.spans[i].depth)
            self.owned[owner].append(job)
        self.children: dict[int, list[Span]] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                self.children[s.parent].append(s)

    def _enclosing(self, job: Job) -> list[int]:
        """Spans open for the whole of an untagged job (e.g. one the purge
        rewrite submits from its thread pool), provided they all belong to
        one client thread: with one client that is the span that started
        the work, with several it is ambiguous and the job stays
        unclaimed."""
        ids = [
            s.id for s in self.spans.values() if s.start <= job.submit and job.end <= s.end
        ]
        threads = {self.spans[i].thread for i in ids}
        return ids if len(threads) == 1 else []

    def stats(self, match) -> SpanStats:
        """Aggregate the spans for which ``match(span)`` holds. A matching
        span nested in another matching span is counted once, through its
        ancestor."""
        out = SpanStats()
        for s in self.spans.values():
            if not match(s) or self._has_matching_ancestor(s, match):
                continue
            wall = s.end - s.start
            out.calls += 1
            out.busy_s += wall
            out.self_s += wall - union_length(
                [(c.start, c.end) for c in self.children.get(s.id, [])]
            )
            jobs = self.subtree_jobs(s.id)
            # not clipped to the span: a job outliving its span shows up as
            # job time above wall time instead of vanishing
            job_s = union_length([(j.submit, j.end) for j in jobs])
            out.jobs += len(jobs)
            out.job_s += job_s
            out.driver_s += wall - job_s
            for j in jobs:
                for sid in j.stages:
                    st = self.stages.get(sid)
                    if st is None or st.tasks == 0:
                        continue  # skipped stage (shuffle reuse)
                    out.input_scans += st.bytes_read > 0
                    if st.submit is not None and st.first_launch is not None:
                        out.job_wait_s += max(0.0, st.first_launch - st.submit)
                    out.tasks += st.tasks
                    out.task_run_s += st.run_s
                    out.task_cpu_s += st.cpu_s
                    out.gc_s += st.gc_s
                    out.shuffle_write_bytes += st.shuffle_write_bytes
                    out.spill_bytes += st.spill_bytes
                    out.bytes_written += st.bytes_written
                    out.records_read += st.records_read
        return out

    def _has_matching_ancestor(self, s: Span, match) -> bool:
        p = s.parent
        while p is not None and p in self.spans:
            if match(self.spans[p]):
                return True
            p = self.spans[p].parent
        return False

    def subtree_jobs(self, sid: int) -> list[Job]:
        jobs = list(self.owned.get(sid, []))
        for c in self.children.get(sid, []):
            jobs += self.subtree_jobs(c.id)
        return jobs
