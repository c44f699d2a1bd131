"""In-memory spans and the fold of a Spark event log under them.

The benchmark opens a span around every call into a layer of the package
(session build, registry builder, action, each ``delta_log`` call). Each
span records its name, start, end, parent and op id. Before a phase that
may run Spark jobs it tags them with ``setJobGroup(<op id>/<phase>)``.
After ``spark.stop()`` the event log (``spark.eventLog.compress=false``)
is folded into one job record per Spark job, with the totals of that
job's tasks, and each job is attached under the span of its job group.

Nothing here needs a SparkSession, so the fold is testable on a
hand-written log (see ``test_spans.py``).
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

# tolerance for comparing JVM millisecond timestamps with Python clocks
CLOCK_SLACK_S = 0.002


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    group: str | None = None  # Spark job group tagged for this span

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float
    end: float
    stages_run: set[int] = field(default_factory=set)
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    spill_b: int = 0
    input_b: int = 0
    task_run_ms: dict[int, list[int]] = field(default_factory=dict)  # by stage


class Tracer:
    """Collects spans in memory; ``enabled=False`` makes every call free."""

    def __init__(self, enabled: bool, sc=None) -> None:
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, group: str | None = None) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        if group is not None and self.sc is not None:
            self.sc.setJobGroup(group, name)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, parent, op, group))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()
            if group is not None and self.sc is not None:
                self.sc.setJobGroup("", "")


def _event_files(log_dir: str) -> list[str]:
    files = []
    for root, _dirs, names in os.walk(log_dir):
        files.extend(os.path.join(root, n) for n in names if not n.startswith("."))
    return sorted(files)


def read_event_log(log_dir: str) -> dict[int, Job]:
    """Fold every uncompressed event log under ``log_dir`` into jobs."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in _event_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or None
                    stage_ids = list(ev.get("Stage IDs", []))
                    t = ev["Submission Time"] / 1000.0
                    jobs[jid] = Job(jid, group, t, t)
                    for sid in stage_ids:
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get(ev["Job ID"])
                    if job is not None:
                        job.end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid is not None:
                        _add_task(jobs[jid], ev)
    return jobs


def _add_task(job: Job, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    sid = ev["Stage ID"]
    job.tasks += 1
    job.stages_run.add(sid)
    job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    job.gc_s += m.get("JVM GC Time", 0) / 1e3
    job.spill_b += m.get("Disk Bytes Spilled", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    job.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    job.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    job.input_b += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    job.task_run_ms.setdefault(sid, []).append(m.get("Executor Run Time", 0))


def attach_jobs(spans: list[Span], jobs: dict[int, Job]) -> list[Span]:
    """Append one span per Spark job under the span that tagged its group.

    Jobs whose group no span tagged (or that ran untagged) are returned
    with ``parent=None``."""
    by_group = {s.group: i for i, s in enumerate(spans) if s.group}
    out = list(spans)
    for job in sorted(jobs.values(), key=lambda j: j.job_id):
        parent = by_group.get(job.group)
        op = spans[parent].op if parent is not None else None
        out.append(Span(f"spark.job.{job.job_id}", job.start, job.end, parent, op, job.group))
    return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
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


def children(spans: list[Span], idx: int) -> list[Span]:
    return [s for s in spans if s.parent == idx]


def self_time(spans: list[Span], idx: int) -> float:
    """Span duration minus the part of it its child spans cover."""
    s = spans[idx]
    covered = union_length(
        [(max(c.start, s.start), min(c.end, s.end)) for c in children(spans, idx) if c.end > s.start and c.start < s.end]
    )
    return s.dur - covered


def descendants(spans: list[Span], idx: int) -> list[int]:
    out, todo = [], [idx]
    while todo:
        cur = todo.pop()
        kids = [i for i, s in enumerate(spans) if s.parent == cur]
        out.extend(kids)
        todo.extend(kids)
    return out


def op_jobs(spans: list[Span], jobs: dict[int, Job], op_idx: int) -> list[Job]:
    """Spark jobs tagged by any span under (or at) the op span ``op_idx``."""
    groups = {spans[i].group for i in [op_idx, *descendants(spans, op_idx)] if spans[i].group}
    return [j for j in jobs.values() if j.group in groups]


def job_totals(op_span: Span, jobs: list[Job]) -> dict[str, float]:
    """Spark-layer totals for one op: counts, busy union, driver gap, task sums."""
    busy = union_length([(j.start, j.end) for j in jobs])
    skews = []
    for j in jobs:
        for runs in j.task_run_ms.values():
            median = statistics.median(runs)
            if len(runs) >= 2 and median > 0:
                skews.append(max(runs) / median)
    return {
        "jobs": len(jobs),
        "stages": sum(len(j.stages_run) for j in jobs),
        "tasks": sum(j.tasks for j in jobs),
        "job_busy_s": busy,
        "driver_gap_s": op_span.dur - busy,
        "executor_cpu_s": sum(j.cpu_s for j in jobs),
        "gc_s": sum(j.gc_s for j in jobs),
        "shuffle_write_mb": sum(j.shuffle_write_b for j in jobs) / 1e6,
        "shuffle_read_mb": sum(j.shuffle_read_b for j in jobs) / 1e6,
        "spill_mb": sum(j.spill_b for j in jobs) / 1e6,
        "input_mb": sum(j.input_b for j in jobs) / 1e6,
        "task_skew": max(skews) if skews else 1.0,
    }


def escaped_jobs(spans: list[Span], jobs: dict[int, Job]) -> list[int]:
    """Ids of tagged jobs that do not lie inside the span of their op."""
    op_span = {}
    for s in spans:
        if s.group:
            root = s
            while root.parent is not None and spans[root.parent].op == s.op:
                root = spans[root.parent]
            op_span[s.group] = root
    bad = []
    for j in jobs.values():
        root = op_span.get(j.group)
        if root is None:
            continue
        if j.start < root.start - CLOCK_SLACK_S or j.end > root.end + CLOCK_SLACK_S:
            bad.append(j.job_id)
    return bad
