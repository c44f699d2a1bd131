"""Self-test of the event-log fold, without a SparkSession.

    python3 -m pytest perfbench/test_spans.py -q

A hand-written uncompressed event log: jobs 0 and 1 overlap inside group
``m0/build``, job 2 runs in ``m0/action``, and tasks carry CPU, GC,
shuffle, spill and input values.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spans as tr  # noqa: E402

T = 1_700_000_000.0  # epoch seconds of the op start


def _ms(t: float) -> int:
    return int(round(t * 1000))


def _task(stage: int, run_ms: int, cpu_ns: int, gc_ms: int, sw: int, sr: int, spill: int, inp: int) -> dict:
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Shuffle Read Metrics": {"Remote Bytes Read": sr, "Local Bytes Read": sr},
            "Input Metrics": {"Bytes Read": inp},
        },
    }


def _job(jid: int, group: str, start: float, end: float, stages: list[int]) -> list[dict]:
    return [
        {
            "Event": "SparkListenerJobStart",
            "Job ID": jid,
            "Submission Time": _ms(start),
            "Stage IDs": stages,
            "Properties": {"spark.jobGroup.id": group},
        },
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": _ms(end)},
    ]


EVENTS = [
    {"Event": "SparkListenerApplicationStart", "Timestamp": _ms(T)},
    *_job(0, "m0/build", T + 0.10, T + 0.50, [0, 1]),
    _task(0, 100, 2_000_000_000, 50, 4_000_000, 0, 0, 8_000_000),
    _task(0, 300, 1_000_000_000, 0, 2_000_000, 0, 1_000_000, 0),
    _task(1, 200, 500_000_000, 10, 0, 3_000_000, 0, 0),
    *_job(1, "m0/build", T + 0.30, T + 0.70, [2]),
    _task(2, 50, 250_000_000, 0, 0, 0, 0, 0),
    *_job(2, "m0/action", T + 0.90, T + 1.00, [3, 1]),  # stage 1 reused: skipped
    _task(3, 80, 250_000_000, 0, 0, 0, 0, 0),
    {"Event": "SparkListenerApplicationEnd", "Timestamp": _ms(T + 2)},
]


@pytest.fixture()
def folded(tmp_path):
    log = tmp_path / "local-1700000000000"
    log.write_text("".join(json.dumps(e) + "\n" for e in EVENTS))
    spans = [
        tr.Span("op:q", T, T + 1.2, None, "m0"),
        tr.Span("build", T + 0.05, T + 0.80, 0, "m0", "m0/build"),
        tr.Span("action", T + 0.85, T + 1.15, 0, "m0", "m0/action"),
    ]
    return spans, tr.read_event_log(str(tmp_path))


def test_jobs_and_tasks_fold_by_group(folded):
    spans, jobs = folded
    assert sorted(jobs) == [0, 1, 2]
    assert [j.group for j in (jobs[0], jobs[1], jobs[2])] == ["m0/build", "m0/build", "m0/action"]
    assert (jobs[0].tasks, jobs[1].tasks, jobs[2].tasks) == (3, 1, 1)
    assert jobs[0].stages_run == {0, 1} and jobs[2].stages_run == {3}
    t = tr.job_totals(spans[0], tr.op_jobs(spans, jobs, 0))
    assert (t["jobs"], t["stages"], t["tasks"]) == (3, 4, 5)
    assert t["executor_cpu_s"] == pytest.approx(4.0)
    assert t["gc_s"] == pytest.approx(0.06)
    assert t["shuffle_write_mb"] == pytest.approx(6.0)
    assert t["shuffle_read_mb"] == pytest.approx(6.0)
    assert t["spill_mb"] == pytest.approx(1.0)
    assert t["input_mb"] == pytest.approx(8.0)
    assert t["task_skew"] == pytest.approx(1.5)  # stage 0: 300 ms max over a 200 ms median
    only_build = [jobs[0], jobs[1]]
    assert tr.job_totals(spans[1], only_build)["tasks"] == 4


def test_busy_union_and_driver_gap(folded):
    spans, jobs = folded
    t = tr.job_totals(spans[0], tr.op_jobs(spans, jobs, 0))
    # jobs 0 and 1 overlap: [0.1, 0.7] plus [0.9, 1.0]
    assert t["job_busy_s"] == pytest.approx(0.7, abs=1e-6)
    assert t["driver_gap_s"] == pytest.approx(1.2 - 0.7, abs=1e-6)


def test_self_time_subtracts_covered_children(folded):
    spans, jobs = folded
    full = tr.attach_jobs(spans, jobs)
    assert [s.parent for s in full[3:]] == [1, 1, 2]
    # build 0.75 s long, its jobs cover 0.6 s of it
    assert tr.self_time(full, 1) == pytest.approx(0.15, abs=1e-6)
    # action 0.30 s long, its job covers 0.1 s
    assert tr.self_time(full, 2) == pytest.approx(0.20, abs=1e-6)
    # the op span's children are build and action: 0.75 + 0.30 covered
    assert tr.self_time(full, 0) == pytest.approx(0.15, abs=1e-6)


def test_jobs_nest_inside_their_op(folded):
    spans, jobs = folded
    assert tr.escaped_jobs(spans, jobs) == []
    late = dict(jobs)
    late[3] = tr.Job(3, "m0/action", T + 1.1, T + 1.5)
    assert tr.escaped_jobs(spans, late) == [3]


def test_union_length_of_disjoint_nested_and_touching():
    assert tr.union_length([]) == 0.0
    assert tr.union_length([(0, 1), (2, 3)]) == 2.0
    assert tr.union_length([(0, 4), (1, 2)]) == 4.0
    assert tr.union_length([(0, 1), (1, 2)]) == 2.0
