"""Benchmark-side tracing: spans around calls into the engine, Spark job
groups that tie each Spark job to the span that launched it, and a
reader for Spark's event log.

A span records name, op id, parent, start and end (epoch seconds,
the clock the event log uses). Spans stay in memory until the run ends.
A span's Spark time is the union of its jobs' [submit, complete]
intervals; its driver time (self time) is the rest of the span.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op_id: str
    parent: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans. When ``enabled``, every span also runs under
    ``setJobGroup(op_id)`` so the event log attributes its Spark jobs to
    it; when disabled, spans are still recorded (the workloads time ops
    with them) but no Spark call is made."""

    def __init__(self, spark_context, enabled: bool) -> None:
        self.sc = spark_context
        self.enabled = enabled
        self.spans: list[Span] = []
        self.aliases: dict[str, str] = {}  # foreign job group -> op id
        self.overhead_s = 0.0
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, **attrs):
        t = time.time()
        op_id = f"{name}#{len(self.spans)}"
        sp = Span(name, op_id, self._stack[-1] if self._stack else None, 0.0, attrs=attrs)
        self.spans.append(sp)
        if self.enabled:
            self.sc.setJobGroup(op_id, name)
        self._stack.append(op_id)
        sp.start = time.time()
        self.overhead_s += sp.start - t
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self.enabled:
                parent = self._stack[-1] if self._stack else "bench.idle"
                self.sc.setJobGroup(parent, parent)
            self.overhead_s += time.time() - sp.end

    def alias(self, group_id: str, op_id: str) -> None:
        """Attribute jobs that run under a group the engine sets itself
        (a streaming query's run id) to the span that started them."""
        self.aliases[group_id] = op_id


# --------------------------------------------------------------------------
# Percentiles
# --------------------------------------------------------------------------

MIN_BEYOND = 10  # a percentile is reported only with this many samples above it


def percentile(samples: list[float], p: float) -> float | None:
    """Nearest-rank percentile, or None when fewer than MIN_BEYOND
    samples lie beyond it. The median is always reported."""
    if not samples:
        return None
    xs = sorted(samples)
    if p == 50:
        return statistics.median(xs)
    rank = math.ceil(p / 100.0 * len(xs))
    if len(xs) - rank < MIN_BEYOND:
        return None
    return xs[rank - 1]


# --------------------------------------------------------------------------
# Event log
# --------------------------------------------------------------------------


@dataclass
class StageRun:
    stage_id: int
    scopes: frozenset
    tasks: int = 0
    failed_tasks: int = 0
    core_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class Job:
    job_id: int
    group: str | None
    description: str
    submit_ms: int
    end_ms: int = 0
    stage_ids: list = field(default_factory=list)
    stages: list = field(default_factory=list)  # StageRun that ran for this job


@dataclass
class EventLog:
    jobs: list[Job]
    failed_tasks: int


def event_log_files(directory: str) -> list[str]:
    """Event log files of the single application logged under
    ``directory``, in write order (plain file or rolled v2 directory)."""
    rolled = glob.glob(os.path.join(directory, "eventlog_v2_*", "events_*"))
    if rolled:
        return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(
        p for p in glob.glob(os.path.join(directory, "*")) if os.path.isfile(p) and not p.endswith(".crc")
    )


def read_event_log(paths: list[str]) -> EventLog:
    """Parse SparkListener JSON lines into jobs with the stages that ran
    for them and their task totals."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageRun] = {}
    stage_job: dict[int, int] = {}
    failed = 0
    for path in paths:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    job = Job(
                        e["Job ID"],
                        props.get("spark.jobGroup.id"),
                        props.get("spark.job.description") or "",
                        e["Submission Time"],
                        stage_ids=list(e["Stage IDs"]),
                    )
                    jobs[job.job_id] = job
                    for sid in job.stage_ids:
                        stage_job.setdefault(sid, job.job_id)  # first job to list a stage runs it
                elif ev == "SparkListenerJobEnd":
                    jobs[e["Job ID"]].end_ms = e["Completion Time"]
                elif ev == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    scopes = set()
                    for rdd in info.get("RDD Info", []):
                        if rdd.get("Scope"):
                            scopes.add(json.loads(rdd["Scope"])["name"])
                    sid = info["Stage ID"]
                    stages.setdefault(sid, StageRun(sid, frozenset(scopes)))
                elif ev == "SparkListenerTaskEnd":
                    st = stages.setdefault(e["Stage ID"], StageRun(e["Stage ID"], frozenset()))
                    st.tasks += 1
                    if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                        st.failed_tasks += 1
                        failed += 1
                    m = e.get("Task Metrics") or {}
                    st.core_ms += m.get("Executor Run Time", 0)
                    st.cpu_ns += m.get("Executor CPU Time", 0)
                    st.gc_ms += m.get("JVM GC Time", 0)
                    st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for sid, st in stages.items():
        if sid in stage_job and st.tasks:
            jobs[stage_job[sid]].stages.append(st)
    return EventLog(sorted(jobs.values(), key=lambda j: j.job_id), failed)


def union_ms(intervals: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
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
class JobTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    spark_ms: int = 0
    core_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    scan_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


def totals(jobs: list[Job]) -> JobTotals:
    t = JobTotals(jobs=len(jobs), spark_ms=union_ms([(j.submit_ms, j.end_ms) for j in jobs]))
    for j in jobs:
        for st in j.stages:
            t.stages += 1
            t.tasks += st.tasks
            t.core_s += st.core_ms / 1e3
            t.cpu_s += st.cpu_ns / 1e9
            t.gc_s += st.gc_ms / 1e3
            t.scan_mb += st.input_bytes / 2**20
            t.shuffle_write_mb += st.shuffle_write_bytes / 2**20
            t.spill_mb += st.spill_bytes / 2**20
    return t


def jobs_by_op(tracer: Tracer, log: EventLog) -> tuple[dict[str, list[Job]], list[Job]]:
    """Jobs keyed by the op id of the span they ran under, plus the jobs
    no span claims."""
    known = {s.op_id for s in tracer.spans}
    by_op: dict[str, list[Job]] = {}
    orphans = []
    for j in log.jobs:
        op = tracer.aliases.get(j.group, j.group)
        if op in known:
            by_op.setdefault(op, []).append(j)
        else:
            orphans.append(j)
    return by_op, orphans
