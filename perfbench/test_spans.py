"""Trace reduction on a small canned event log.

    python3 -m pytest perfbench/test_spans.py -q

One pass: a root span (10.0-11.0 s) with a phase span (10.1-10.5 s)
that holds a lineage span (10.2-10.3 s), then a report span
(10.6-10.9 s).  Four jobs run: one in each span's job group, plus one in
an unrelated group that must not be counted.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spans  # noqa: E402


def _span(sid, key, parent, start, end):
    return {
        "id": sid, "name": key, "key": key, "parent": parent,
        "start": start, "end": end, "group": f"pb-{sid}",
    }


SPANS = [
    _span(0, "pass", None, 10.0, 11.0),
    _span(1, "phase.build", 0, 10.1, 10.5),
    _span(2, "lineage.number", 1, 10.2, 10.3),
    _span(3, "pipeline.report", 0, 10.6, 10.9),
]


def _job(jid, group, start_ms, end_ms, stages):
    return [
        {
            "Event": "SparkListenerJobStart", "Job ID": jid,
            "Submission Time": start_ms, "Stage IDs": stages,
            "Properties": {"spark.jobGroup.id": group} if group else {},
        },
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end_ms},
    ]


def _stage(sid, group):
    props = {"spark.jobGroup.id": group} if group else {}
    return [
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": sid},
         "Properties": props},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": sid}},
    ]


def _task(stage, run_ms, launch, finish, cpu_ns=0, written=0, read=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish,
                      "Getting Result Time": 0},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "Executor Deserialize Time": 5, "Result Serialization Time": 1,
            "JVM GC Time": 2, "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
        },
    }


EVENTS = (
    # job 0 in the phase span, job 1 in the lineage span, job 2 in the
    # report span; job 3 belongs to nobody in this pass
    _job(0, "pb-1", 10_150, 10_180, [0])
    + _stage(0, "pb-1")
    + [_task(0, 20, 10_151, 10_178, cpu_ns=15_000_000, written=2**20)]
    + _job(1, "pb-2", 10_220, 10_280, [1, 2])
    + _stage(1, "pb-2")
    + _stage(2, None)  # no properties: inherits job 1's group
    + [_task(1, 40, 10_221, 10_270), _task(2, 30, 10_240, 10_279, read=2**20)]
    + _job(2, "pb-3", 10_600, 10_900, [3])
    + _stage(3, "pb-3")
    + [_task(3, 250, 10_610, 10_890)]
    + _job(3, "other", 10_000, 10_990, [4])
    + _stage(4, "other")
    + [_task(4, 900, 10_010, 10_980)]
)


@pytest.fixture
def log(tmp_path):
    path = tmp_path / "events_1_local"
    noise = {"Event": "SparkListenerExecutorAdded", "Executor ID": "driver"}
    with open(path, "w") as f:
        for ev in [noise] + EVENTS:
            f.write(json.dumps(ev) + "\n")
    return spans.SparkLog(spans.read_event_log(str(path)))


def test_self_time_excludes_children():
    selfs = spans.self_times(SPANS)
    assert selfs[0] == pytest.approx(1.0 - 0.4 - 0.3)
    assert selfs[1] == pytest.approx(0.4 - 0.1)
    assert selfs[2] == pytest.approx(0.1)
    assert sum(selfs.values()) == pytest.approx(1.0)


def test_jobs_stages_and_tasks_follow_job_groups(log):
    m = spans.reduce_pass(SPANS, log, 0)["metrics"]
    assert m["phase.build_jobs"] == 1
    assert m["lineage.number_jobs"] == 1
    assert m["pipeline.report_jobs"] == 1
    assert m["spark.jobs"] == 3
    assert m["spark.stages"] == 4
    assert m["spark.tasks"] == 4
    assert m["spark.task_s"] == pytest.approx(0.34)
    assert m["spark.max_task_s"] == pytest.approx(0.25)
    assert m["spark.executor_cpu_s"] == pytest.approx(0.015)
    assert m["spark.shuffle_write_mb"] == pytest.approx(1.0)
    assert m["spark.shuffle_read_mb"] == pytest.approx(1.0)
    # duration - run - deserialize - serialize, per task
    assert m["spark.scheduler_delay_s"] == pytest.approx(
        (27 - 26 + 49 - 46 + 39 - 36 + 280 - 256) / 1000
    )


def test_layer_times_are_self_times(log):
    m = spans.reduce_pass(SPANS, log, 0)["metrics"]
    assert m["phase.build_s"] == pytest.approx(0.3)
    assert m["lineage.number_s"] == pytest.approx(0.1)
    assert m["pipeline.report_s"] == pytest.approx(0.3)
    assert m["trace.unattributed_s"] == pytest.approx(0.3)
    assert m["trace.run_s"] == pytest.approx(1.0)


def test_idle_is_pass_time_without_a_running_job(log):
    m = spans.reduce_pass(SPANS, log, 0)["metrics"]
    # jobs cover 10.15-10.18, 10.22-10.28 and 10.60-10.90
    assert m["spark.idle_s"] == pytest.approx(1.0 - 0.03 - 0.06 - 0.3)


def test_phase_split(log):
    split = spans.reduce_pass(SPANS, log, 0)["phases"]
    assert split == []  # no pipeline.run_phase span in this pass
    nested = SPANS + [_span(4, "pipeline.run_phase", 0, 10.05, 10.55)]
    nested[1] = dict(nested[1], parent=4)
    (phase,) = spans.reduce_pass(nested, log, 0)["phases"]
    assert phase["jobs"] == 2
    assert phase["task_s"] == pytest.approx(0.09)
