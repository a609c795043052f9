"""Spans around calls into the engine, and their Spark cost.

A :class:`Tracer` keeps every span in memory: name, parent, start and
end on the wall clock. When the session ran with ``spark.eventLog``
enabled, :func:`attribute` reads the event log after the session has
stopped and charges every Spark job to the innermost span open at the
job's submission time (job groups are not used: the engine's driver
thread pools drop them). A span then carries:

- ``wall_s``: its duration;
- ``jobs``: jobs submitted inside it;
- ``tasks`` and ``task_s``: tasks of those jobs and their summed
  launch-to-finish time;
- ``driver_gap_s``: the part of its duration with no job of its own
  running, i.e. driver-side planning, Python and waiting;
- ``shuffle_write_bytes`` and ``spill_bytes``.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    #: [submission, completion] of each job charged to this span, in s
    job_spans: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def driver_gap_s(self) -> float:
        busy = _union_length(
            [(max(a, self.start), min(b, self.end)) for a, b in self.job_spans]
        )
        return max(self.wall_s - busy, 0.0)


def _union_length(intervals: list) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """In-memory span recorder; one per benchmark process."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent, time.time())
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]


def _events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "**"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                yield json.loads(line)


def attribute(tracer: Tracer, log_dir: str) -> dict:
    """Charge every job, stage and task in the event log under
    ``log_dir`` to the spans of ``tracer``; return run-wide totals."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {"submit": ev["Submission Time"] / 1000.0, "end": None}
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)

    # innermost span open at each job's submission (ms clock resolution)
    def owner(t: float) -> Span | None:
        best = None
        for s in tracer.spans:
            if s.start - 0.001 <= t <= s.end:
                if best is None or s.start >= best.start:
                    best = s
        return best

    job_span: dict[int, Span] = {}
    for jid, j in jobs.items():
        s = owner(j["submit"])
        if s is None:
            continue
        job_span[jid] = s
        s.jobs += 1
        s.job_spans.append((j["submit"], j["end"] or s.end))

    totals = {"tasks": 0, "task_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    for ev in tasks:
        info = ev.get("Task Info", {})
        dur = max(info.get("Finish Time", 0) - info.get("Launch Time", 0), 0) / 1000.0
        m = ev.get("Task Metrics") or {}
        shuffle = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        spill = m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        totals["tasks"] += 1
        totals["task_s"] += dur
        totals["shuffle_write_bytes"] += shuffle
        totals["spill_bytes"] += spill
        s = job_span.get(stage_job.get(ev.get("Stage ID")))
        if s is not None:
            s.tasks += 1
            s.task_s += dur
            s.shuffle_write_bytes += shuffle
            s.spill_bytes += spill
    totals["jobs"] = len(jobs)
    return totals
