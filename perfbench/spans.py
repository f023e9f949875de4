"""Spans kept in memory, and Spark counters read from the session's own
event log after the run.

A span records name, start, end, parent and op id. Spark jobs are attributed
to a span by their submission time. With one client this is unambiguous,
and unlike ``setJobGroup`` it also catches the jobs that the engine's merge
thread pool submits from threads that do not inherit the caller's group.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

# Spark's Python SQL metric for bytes sent to the Python workers
PYTHON_BYTES_SENT = "data sent to Python workers"


@dataclass(eq=False)  # spans compare by identity
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the parent span
    op: int | str | None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        sp = Span(name, time.time(), 0.0, parent, op)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def children(self, sp: Span) -> list[Span]:
        i = self.spans.index(sp)
        return [s for s in self.spans if s.parent == i]

    def self_time(self, sp: Span) -> float:
        """Duration minus the time its child spans cover."""
        covered, end = 0.0, sp.start
        for c in sorted(self.children(sp), key=lambda s: s.start):
            lo, hi = max(c.start, end), min(c.end, sp.end)
            if hi > lo:
                covered += hi - lo
                end = hi
        return sp.seconds - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


@dataclass
class JobCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    python_bytes_sent: int = 0


class EventLog:
    """Jobs, stages, tasks and shuffle bytes from one application's event log."""

    def __init__(self, log_dir: str) -> None:
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
        self.job_submit: dict[int, float] = {}  # job id -> submission time (s)
        # a stage belongs to the first job that lists it: later jobs list a
        # reused shuffle stage again but skip it
        self.job_stages: dict[int, list[int]] = {}
        owned: set[int] = set()
        self.stage_tasks: dict[int, int] = {}  # submitted stages only
        self.stage_read: dict[int, int] = {}
        self.stage_write: dict[int, int] = {}
        self.stage_py_sent: dict[int, int] = {}
        self.has_python_metrics = False
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    self.job_submit[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                    self.job_stages[ev["Job ID"]] = [s for s in ev["Stage IDs"] if s not in owned]
                    owned.update(ev["Stage IDs"])
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    self.stage_tasks.setdefault(sid, 0)
                elif kind == "SparkListenerTaskEnd":
                    self._task_end(ev)

    def _task_end(self, ev: dict) -> None:
        sid = ev["Stage ID"]
        self.stage_tasks[sid] = self.stage_tasks.get(sid, 0) + 1
        m = ev.get("Task Metrics") or {}
        r = m.get("Shuffle Read Metrics") or {}
        w = m.get("Shuffle Write Metrics") or {}
        self.stage_read[sid] = (
            self.stage_read.get(sid, 0) + r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
        )
        self.stage_write[sid] = self.stage_write.get(sid, 0) + w.get("Shuffle Bytes Written", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            if acc.get("Name") == PYTHON_BYTES_SENT:
                self.has_python_metrics = True
                self.stage_py_sent[sid] = self.stage_py_sent.get(sid, 0) + int(acc.get("Update", 0))

    def counts(self, start: float, end: float) -> JobCounts:
        """Counters of the jobs submitted within [start, end]."""
        out = JobCounts()
        stages: set[int] = set()
        for job, t in self.job_submit.items():
            if start <= t <= end:
                out.jobs += 1
                stages.update(s for s in self.job_stages[job] if s in self.stage_tasks)
        for s in stages:
            out.stages += 1
            out.tasks += self.stage_tasks[s]
            out.shuffle_read_bytes += self.stage_read.get(s, 0)
            out.shuffle_write_bytes += self.stage_write.get(s, 0)
            out.python_bytes_sent += self.stage_py_sent.get(s, 0)
        return out
