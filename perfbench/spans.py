"""Tracing for the benchmark: in-memory spans around calls into the
package's public functions, Spark job attribution through job groups,
and a parser for Spark's JSON event log.

Everything except :class:`Tracer`'s job-group calls is pure Python and
unit-tested in ``perfbench/tests``.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# A percentile needs this many samples beyond it (the choosing-metrics
# rule): p90 needs >= 100 samples, p50 needs >= 20.
TAIL_SAMPLES = 10


def percentile(values: list[float], q: float) -> float | None:
    """The q-th percentile (0 < q < 100) by linear interpolation, or
    None when fewer than TAIL_SAMPLES samples lie beyond it."""
    n = len(values)
    if n == 0 or n * (1 - q / 100) < TAIL_SAMPLES - 1e-9:
        return None
    xs = sorted(values)
    pos = (n - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start: float, end: float) -> list[tuple[float, float]]:
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


@dataclass
class Span:
    sid: int
    name: str
    start: float  # epoch seconds, comparable with event-log times
    end: float
    parent: int | None
    op: int | None  # the benchmark op this span ran under

    @property
    def wall(self) -> float:
        return self.end - self.start


def self_time(span: Span, covered: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it that ``covered`` (its
    child spans, and optionally its own Spark jobs) overlaps."""
    return span.wall - union_length(clip(covered, span.start, span.end))


class Tracer:
    """Records spans in memory. With a SparkContext, each span also sets
    the job group to ``span-<sid>`` on entry and restores its parent's
    on exit, so every Spark job lands in the innermost open span."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._patches: list[tuple[object, str, object]] = []

    def _group(self, sid: int | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"span-{sid}", self.spans[sid].name)

    @contextmanager
    def span(self, name: str, op: bool = False):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op:
            self._op = sid
        s = Span(sid, name, time.time(), 0.0, parent, self._op)
        self.spans.append(s)
        self._stack.append(sid)
        self._group(sid)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)
            if op:
                self._op = None

    def wrap(self, name: str, owners: list[tuple[object, str]], flat: bool = False) -> None:
        """Replace ``owner.attr`` for every (owner, attr) with one wrapper
        that runs the original inside a span called ``name``; owners list
        each place the function is reachable from, including modules
        that imported it by name. With ``flat``, a call made from inside
        a span of the same layer (the part of ``name`` before the first
        dot) opens no span of its own: a table method calling another
        counts once."""
        original = getattr(*owners[0])
        layer = name.split(".", 1)[0] + "."

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if flat and self._stack and self.spans[self._stack[-1]].name.startswith(layer):
                return original(*args, **kwargs)
            with self.span(name):
                return original(*args, **kwargs)

        for owner, attr in owners:
            self._patches.append((owner, attr, getattr(owner, attr)))
            setattr(owner, attr, traced)

    def unwrap(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                out[s.parent].append(s)
        return out


# ------------------------------------------------------------ event log


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float  # epoch seconds
    end: float
    stages: list[int] = field(default_factory=list)


@dataclass
class Stage:
    stage_id: int
    tasks: int = 0
    start: float = 0.0
    end: float = 0.0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_read_records: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def parse_event_log(lines) -> tuple[dict[int, Job], dict[int, Stage], dict[int, int]]:
    """Parse Spark's JSON-lines event log into jobs, stages (with task
    metrics summed) and the stage -> job map (a stage belongs to the
    first job that lists it; later jobs that list it skip it)."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            sids = list(ev.get("Stage IDs", []))
            jobs[jid] = Job(jid, props.get("spark.jobGroup.id"),
                            ev["Submission Time"] / 1000, ev["Submission Time"] / 1000, sids)
            for sid in sids:
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            if "Submission Time" in info:
                st.start = info["Submission Time"] / 1000
            if "Completion Time" in info:
                st.end = info["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.run_s += m.get("Executor Run Time", 0) / 1000
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1000
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st.shuffle_read_records += sr.get("Total Records Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return jobs, stages, stage_job


def jobs_by_span(jobs: dict[int, Job]) -> dict[int, list[Job]]:
    out: dict[int, list[Job]] = defaultdict(list)
    for j in jobs.values():
        if j.group and j.group.startswith("span-"):
            out[int(j.group[5:])].append(j)
    return out


def mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0
