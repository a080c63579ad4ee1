"""Spans around the program's public functions, and an event-log
summariser that charges every Spark job to the span it ran in.

Spans are recorded from outside the program: ``Tracer.instrument`` swaps a
class attribute for a timing wrapper and restores it afterwards, and
``Tracer.span`` times a call the benchmark makes itself. A span keeps its
name, start, end, parent and run id, in memory, on the thread that opened it.

Attribution is by time window, not by job group: each job goes to the
innermost span whose interval contains the job's submission time. Jobs that
``Scd2Table.merge`` submits from its pool threads carry no job group, but
they are submitted inside the merge's interval, so the merge is charged for
them. Task metrics come from the ``SparkListenerTaskEnd`` events of each job's
stages.

Per span, the summary gives:

- ``wall_s``: end minus start, children included;
- ``self_s``: the part of the interval no child span covers;
- ``driver_s``: the part of the self time no Spark job (of any span) covers;
- ``jobs``, ``stages``, ``tasks``, ``task_s``, ``cpu_s``, ``gc_s``,
  ``shuffle_bytes`` (shuffle write), ``spill_bytes`` (disk spill),
  ``bytes_written`` and ``rows_written`` (output metrics): sums over the jobs
  charged to the span itself, not to its children.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# the job/task counters a span is charged with
JOB_FIELDS = ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
              "shuffle_bytes", "spill_bytes", "bytes_written", "rows_written")
# clock slack between a job's millisecond submission stamp and a span edge
_SLACK_S = 0.001


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float  # epoch seconds: the clock the event log stamps jobs with
    end: float = 0.0
    result: object = None  # the wrapped call's return value

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder for one traced run."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._lock:
            s = Span(len(self.spans), name, stack[-1].id if stack else None,
                     self.run_id, time.time())
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                s.result = fn(*args, **kwargs)
                return s.result

        return traced

    @contextmanager
    def instrument(self, targets: list[tuple[object, str, str]]):
        """Wrap ``owner.attr`` as span ``name`` for each (owner, attr, name)
        for the duration of the block."""
        saved = [(owner, attr, owner.__dict__[attr]) for owner, attr, _ in targets]
        try:
            for owner, attr, name in targets:
                setattr(owner, attr, self.wrap(name, getattr(owner, attr)))
            yield self
        finally:
            for owner, attr, fn in saved:
                setattr(owner, attr, fn)


# -- event log ----------------------------------------------------------------
@dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    end: float
    group: str | None
    stages: list[int]
    metrics: dict = field(default_factory=lambda: dict.fromkeys(JOB_FIELDS, 0))


def event_files(log_dir: str) -> list[str]:
    """The uncompressed event files of every application under ``log_dir``:
    plain files, or the ``eventlog_v2_*/events_<n>_*`` parts of a rolling log,
    in part order."""
    out = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            parts = glob.glob(os.path.join(path, "events_*"))
            out += sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
        elif not entry.endswith(".inprogress"):
            out.append(path)
    return out


def read_jobs(log_dir: str) -> list[Job]:
    """Jobs with their task metrics summed from SparkListenerTaskEnd."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, int] = {}
    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = Job(ev["Job ID"], ev["Submission Time"] / 1000.0, 0.0,
                            props.get("spark.jobGroup.id"), list(ev["Stage IDs"]))
                    jobs[j.id] = j
                    for sid in j.stages:
                        stage_job.setdefault(sid, j.id)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    tm = ev.get("Task Metrics")
                    if sid not in stage_job or not tm:
                        continue
                    m = jobs[stage_job[sid]].metrics
                    if stage_tasks.get(sid, 0) == 0:
                        m["stages"] += 1
                    stage_tasks[sid] = stage_tasks.get(sid, 0) + 1
                    m["tasks"] += 1
                    m["task_s"] += tm["Executor Run Time"] / 1e3
                    m["cpu_s"] += tm["Executor CPU Time"] / 1e9
                    m["gc_s"] += tm["JVM GC Time"] / 1e3
                    m["shuffle_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    m["spill_bytes"] += tm["Disk Bytes Spilled"]
                    m["bytes_written"] += tm["Output Metrics"]["Bytes Written"]
                    m["rows_written"] += tm["Output Metrics"]["Records Written"]
    for j in jobs.values():
        j.metrics["jobs"] = 1
    return sorted(jobs.values(), key=lambda j: j.submit)


# -- interval arithmetic --------------------------------------------------------
def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[tuple[float, float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def _minus(base: list[tuple[float, float]], cut: list[tuple[float, float]]):
    """``base`` minus the union of ``cut`` (both lists of intervals)."""
    out = []
    cut = _union(cut)
    for a, b in base:
        pos = a
        for c, d in cut:
            if d <= pos or c >= b:
                continue
            if c > pos:
                out.append((pos, c))
            pos = max(pos, d)
        if pos < b:
            out.append((pos, b))
    return out


def _length(intervals) -> float:
    return sum(b - a for a, b in intervals)


# -- summary --------------------------------------------------------------------
def attribute(spans: list[Span], jobs: list[Job]) -> dict[int, int | None]:
    """Job id -> id of the innermost span containing its submission time."""
    depth: dict[int, int] = {}
    for s in spans:  # parents are recorded before their children
        depth[s.id] = 0 if s.parent is None else depth[s.parent] + 1
    owner = {}
    for j in jobs:
        inside = [s for s in spans if s.start - _SLACK_S <= j.submit <= s.end]
        owner[j.id] = max(inside, key=lambda s: depth[s.id]).id if inside else None
    return owner


def summarize(spans: list[Span], jobs: list[Job]) -> dict[int, dict]:
    """Per-span metrics (see the module docstring), keyed by span id."""
    owner = attribute(spans, jobs)
    job_cover = [(j.submit, j.end) for j in jobs]
    children: dict[int, list[Span]] = {s.id: [] for s in spans}
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        own = _minus([(s.start, s.end)], [(c.start, c.end) for c in children[s.id]])
        row = {"wall_s": s.wall_s, "self_s": _length(own),
               "driver_s": _length(_minus(own, job_cover))}
        row.update(dict.fromkeys(JOB_FIELDS, 0))
        for j in jobs:
            if owner[j.id] == s.id:
                for k in JOB_FIELDS:
                    row[k] += j.metrics[k]
        out[s.id] = row
    return out


def totals_by_name(spans: list[Span], summary: dict[int, dict]) -> dict[str, dict]:
    """Sum each metric over the spans that share a name."""
    out: dict[str, dict] = {}
    for s in spans:
        acc = out.setdefault(s.name, {})
        for k, v in summary[s.id].items():
            acc[k] = acc.get(k, 0) + v
    return out
