"""Spans around layer calls, and the Spark event-log records under them.

A span is recorded by the benchmark around each call into a public entry
point of the engine; nothing inside the engine is instrumented. Every Spark
action started inside a span runs under ``setJobGroup(<run id>:<span id>)``,
so the stage and task records of the event log attach to the innermost
open span. Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"{self.run_id}:{self.span_id}"


class Tracer:
    """Records spans when enabled; a disabled tracer yields ``None`` spans
    and labels no Spark job, so untraced passes run the bare calls."""

    def __init__(self, run_id: str, sc, enabled: bool = True):
        self.run_id = run_id
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, len(self.spans), parent.span_id if parent else None,
                 self.run_id, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._label(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._label(parent)

    def _label(self, s: Span | None) -> None:
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(s.group, s.name)

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.span_id]

    def descendants(self, s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children(cur))
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps([asdict(s) for s in self.spans], indent=1))


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover
    (overlapping children count once; parts outside the span not at all)."""
    iv = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    )
    covered = 0.0
    cur_s = cur_e = None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.seconds - covered


@dataclass
class TaskRecord:
    run_ms: float
    gc_ms: float
    shuffle_write: int
    shuffle_read: int
    spill: int
    failed: bool


@dataclass
class JobRecord:
    job_id: int
    group: str | None
    submitted_ms: int
    tasks: list[TaskRecord] = field(default_factory=list)


def read_event_log(path: Path) -> list[JobRecord]:
    """Jobs, with their task records, from an uncompressed event log."""
    jobs: dict[int, JobRecord] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = JobRecord(ev["Job ID"], props.get("spark.jobGroup.id"),
                                ev["Submission Time"])
                jobs[job.job_id] = job
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = job.job_id
            elif kind == "SparkListenerTaskEnd":
                job_id = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics") or {}
                if job_id is None:
                    continue
                info = ev["Task Info"]
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                jobs[job_id].tasks.append(TaskRecord(
                    run_ms=m.get("Executor Run Time", 0),
                    gc_ms=m.get("JVM GC Time", 0),
                    shuffle_write=sw.get("Shuffle Bytes Written", 0),
                    shuffle_read=sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    spill=m.get("Disk Bytes Spilled", 0),
                    failed=bool(info.get("Failed") or info.get("Killed")),
                ))
    return sorted(jobs.values(), key=lambda j: j.job_id)


def spark_layer(tasks: list[TaskRecord], wall_s: float, cores: int) -> dict:
    """Engine metrics over a set of task records run during ``wall_s``."""
    mb = 1 << 20
    runs = sorted(t.run_ms for t in tasks) or [0.0]
    q = statistics.quantiles(runs, n=20, method="inclusive") if len(runs) > 1 \
        else [runs[0]] * 19
    return {
        "spark.shuffle_write_mb": sum(t.shuffle_write for t in tasks) / mb,
        "spark.shuffle_read_mb": sum(t.shuffle_read for t in tasks) / mb,
        "spark.spill_mb": sum(t.spill for t in tasks) / mb,
        "spark.gc_ms": float(sum(t.gc_ms for t in tasks)),
        "spark.task_ms_p50": float(statistics.median(runs)),
        "spark.task_ms_p95": float(q[18]),
        "spark.task_ms_max": float(runs[-1]),
        "spark.slot_busy_ratio": sum(runs) / 1000 / (wall_s * cores)
        if wall_s > 0 else 0.0,
        "spark.failed_tasks": float(sum(t.failed for t in tasks)),
    }


class Ledger:
    """Event-log jobs indexed by the span whose job group labelled them."""

    def __init__(self, tracer: Tracer, jobs: list[JobRecord]):
        self.tracer = tracer
        self.by_group: dict[str | None, list[JobRecord]] = defaultdict(list)
        for j in jobs:
            self.by_group[j.group].append(j)

    def jobs(self, span: Span, after_ms: float = 0.0) -> list[JobRecord]:
        """Jobs of the span and its descendants submitted at ``after_ms``
        (epoch milliseconds) or later."""
        return [j for s in self.tracer.descendants(span)
                for j in self.by_group.get(s.group, [])
                if j.submitted_ms >= after_ms]

    def tasks(self, span: Span, after_ms: float = 0.0) -> list[TaskRecord]:
        return [t for j in self.jobs(span, after_ms) for t in j.tasks]
