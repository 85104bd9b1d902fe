"""Span recording and Spark event-log parsing for the traced run.

A :class:`Tracer` keeps spans in memory: ``workload -> pass -> op ->
parts``, the parts being ``{build, plan, execute, release}`` for a query or
a merge-on-read read and ``{commit, release}`` for a delete.  Entering a span
adds a Spark job tag ``pb<span id>`` and leaving it removes the tag, so each
Spark job in the event log names every span that was open when it started;
the innermost (highest id) one owns it.

:func:`parse_event_log` reads the ``file:`` event log Spark writes when
``spark.eventLog.enabled`` is set and returns per-span Spark counters.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

TAG_PREFIX = "pb"

#: Task-level SQL metrics of the Arrow / Python-worker boundary.
PYTHON_METRICS = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class Span:
    id: int
    parent: int | None
    kind: str
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans; tags Spark jobs when a SparkContext is attached."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = None

    @contextmanager
    def span(self, kind: str, name: str = "", **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, kind, name, 0.0, attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.addJobTag(f"{TAG_PREFIX}{s.id}")
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if self.sc is not None:
                self.sc.removeJobTag(f"{TAG_PREFIX}{s.id}")
            self._stack.pop()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Span wall time minus the part of it its children cover."""
        return span.wall - _union([(c.start, c.end) for c in self.children(span)])

    def to_json(self) -> list[dict]:
        return [
            {"id": s.id, "parent": s.parent, "kind": s.kind, "name": s.name,
             "start": round(s.start, 6), "end": round(s.end, 6), **s.attrs}
            for s in self.spans
        ]


def _union(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of closed intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class SparkCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_intervals: list = field(default_factory=list)
    task_queue_s: float = 0.0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    python_bytes: int = 0
    result_bytes: int = 0

    @property
    def job_wall_s(self) -> float:
        return _union(self.job_intervals)

    def add(self, other: "SparkCounters") -> None:
        for k, v in vars(other).items():
            if k == "job_intervals":
                self.job_intervals.extend(v)
            else:
                setattr(self, k, getattr(self, k) + v)


def _owner(props: dict | None) -> int | None:
    tags = (props or {}).get("spark.job.tags") or ""
    ids = [int(t[len(TAG_PREFIX):]) for t in tags.split(",")
           if t.startswith(TAG_PREFIX) and t[len(TAG_PREFIX):].isdigit()]
    return max(ids) if ids else None


def parse_event_log(path: str) -> dict[int, SparkCounters]:
    """Per-span Spark counters from one application's event log.

    Jobs and stages are owned by the innermost span tagged on them; a task
    belongs to its stage's owner.  Stages that a job lists but never
    submits (skipped by shuffle reuse) are not counted."""
    out: dict[int, SparkCounters] = defaultdict(SparkCounters)
    job_owner: dict[int, int] = {}
    job_start: dict[int, float] = {}
    stage_owner: dict[int, int] = {}
    stage_submit: dict[int, float] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                owner = _owner(ev.get("Properties"))
                if owner is None:
                    continue
                job_owner[ev["Job ID"]] = owner
                job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                out[owner].jobs += 1
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_owner:
                    out[job_owner[jid]].job_intervals.append(
                        (job_start[jid], ev["Completion Time"] / 1000.0)
                    )
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                owner = _owner(ev.get("Properties"))
                if owner is None:
                    continue
                stage_owner[info["Stage ID"]] = owner
                stage_submit[info["Stage ID"]] = info.get("Submission Time", 0) / 1000.0
                out[owner].stages += 1
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                if sid not in stage_owner:
                    continue
                c = out[stage_owner[sid]]
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                c.tasks += 1
                c.task_queue_s += max(0.0, info.get("Launch Time", 0) / 1000.0 - stage_submit[sid])
                c.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
                c.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                c.result_bytes += m.get("Result Size", 0)
                c.spill_bytes += m.get("Disk Bytes Spilled", 0)
                c.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                c.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                c.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                for acc in info.get("Accumulables") or []:
                    if acc.get("Name") in PYTHON_METRICS:
                        c.python_bytes += int(acc.get("Update") or 0)
    return dict(out)
