"""Spans recorded around the benchmark's calls into the program, and the
per-layer numbers folded from them and from Spark's event log.

A span is (name, parent, start, end) in epoch seconds, kept in memory
and folded once the run ends. Spark jobs become children of the span
whose job group they carry (the benchmark sets ``setJobGroup`` before
each call and action); a streaming query's jobs carry the query's run
id instead and are placed into micro-batches by time.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from dataclasses import dataclass, field


@dataclass(eq=False)  # spans are compared by identity
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans always (they time the passes). With ``jobs`` on, each
    span that names a job group also tags the Spark jobs started inside
    it, which the event-log fold needs."""

    def __init__(self, sc, jobs: bool):
        self.sc = sc
        self.jobs = jobs
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent, 0.0, group=group if self.jobs else None)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        if s.group:
            self.sc.setJobGroup(s.group, s.group)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if s.group:
                for key in ("spark.jobGroup.id", "spark.job.description"):
                    self.sc.setLocalProperty(key, None)

    def add(self, name: str, parent: Span, start: float, end: float) -> None:
        """Record a span measured elsewhere (a micro-batch, from its
        ``StreamingQueryProgress``)."""
        self.spans.append(Span(name, self.spans.index(parent), start, end))

    def children(self, span: Span, name: str | None = None) -> list[Span]:
        i = self.spans.index(span)
        return [s for s in self.spans
                if s.parent == i and (name is None or s.name == name)]


# ------------------------------------------------------------ event log


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: int = 0
    spill: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job]
    task_times: dict[int, list[float]]  # stage id -> task durations

    def within(self, start: float, end: float) -> list[Job]:
        return [j for j in self.jobs.values() if start <= j.start <= end]

    def in_group(self, group: str) -> list[Job]:
        return [j for j in self.jobs.values() if j.group == group]


def read_event_log(path: str) -> EventLog:
    """Fold an uncompressed, non-rolling Spark event log into jobs with
    their task counters. Times are epoch seconds."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    task_times: dict[int, list[float]] = {}
    with open(path) as f:
        for line in f:
            kind = line[10:40]
            if kind.startswith("SparkListenerTaskEnd"):
                e = json.loads(line)
                job = jobs.get(stage_job.get(e["Stage ID"], -1))
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                task_times.setdefault(e["Stage ID"], []).append(
                    (info["Finish Time"] - info["Launch Time"]) / 1e3)
                if job is None or not m:
                    continue
                job.tasks += 1
                job.cpu_s += m["Executor CPU Time"] / 1e9
                job.gc_s += m["JVM GC Time"] / 1e3
                job.shuffle_write += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                job.spill += m["Disk Bytes Spilled"]
            elif kind.startswith("SparkListenerJobStart"):
                e = json.loads(line)
                props = e.get("Properties") or {}
                j = Job(e["Job ID"], props.get("spark.jobGroup.id"),
                        e["Submission Time"] / 1e3, stages=e["Stage IDs"])
                jobs[j.id] = j
                for s in j.stages:
                    stage_job.setdefault(s, j.id)
            elif kind.startswith("SparkListenerJobEnd"):
                e = json.loads(line)
                if e["Job ID"] in jobs:  # else it started while unlogged
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
    return EventLog(jobs, task_times)


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap_s(log: EventLog, start: float, end: float) -> float:
    """Wall time of ``[start, end]`` during which no Spark job ran: the
    span's self time with its jobs as children."""
    jobs = log.within(start, end)
    return (end - start) - union_s([(j.start, j.end) for j in jobs], start, end)


def spark_counters(log: EventLog, start: float, end: float) -> dict[str, float]:
    """Spark-wide counters of the jobs started inside ``[start, end]``."""
    jobs = log.within(start, end)
    stages = [log.task_times[s] for j in jobs for s in j.stages if s in log.task_times]
    slowest = sum(max(t) for t in stages)
    typical = sum(statistics.median(t) for t in stages)
    return {
        "jobs": len(jobs),
        "tasks": sum(j.tasks for j in jobs),
        "executor_cpu_s": sum(j.cpu_s for j in jobs),
        "gc_s": sum(j.gc_s for j in jobs),
        "shuffle_write_mb": sum(j.shuffle_write for j in jobs) / 2**20,
        "spill_mb": sum(j.spill for j in jobs) / 2**20,
        # a stage lasts as long as its slowest task
        "task_skew": slowest / typical if typical > 0 else 1.0,
        "driver_gap_s": driver_gap_s(log, start, end),
    }


def median_of(rows: list[dict[str, float]]) -> dict[str, float]:
    """Per-key median over per-pass dicts (missing keys count as 0)."""
    keys = {k for r in rows for k in r}
    return {k: statistics.median(r.get(k, 0.0) for r in rows) for k in keys}
