"""Unit tests for the benchmark's reducers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json

import pytest

from perfbench.datagen import expected_open_keys
from perfbench.queries import ITERATIVE, sample_mix
from perfbench.trace import (
    GroupStats,
    Span,
    Summary,
    percentile,
    reduce_event_log,
    self_time_by_name,
    self_times,
)


def _job(job_id, stages, group=None, submitted=0):
    props = {"spark.jobGroup.id": group} if group else {}
    return json.dumps({
        "Event": "SparkListenerJobStart", "Job ID": job_id,
        "Submission Time": submitted, "Stage IDs": stages, "Properties": props,
    })


def _stage_done(stage_id, submitted=True):
    info = {"Stage ID": stage_id}
    if submitted:
        info["Submission Time"] = 1
    return json.dumps({"Event": "SparkListenerStageCompleted", "Stage Info": info})


def _task(stage_id, run_ms, remote=0, local=0, written=0, spilled=0):
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage_id,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Disk Bytes Spilled": spilled,
            "Shuffle Read Metrics": {"Remote Bytes Read": remote, "Local Bytes Read": local},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
        },
    })


def test_event_log_fragment_attributes_work_to_job_groups():
    lines = [
        json.dumps({"Event": "SparkListenerApplicationStart"}),
        _job(0, [0, 1], "x:q1"),
        _task(0, 10, written=100),
        _task(0, 12, written=50),
        _stage_done(0),
        _task(1, 5, remote=70, local=80, spilled=9),
        _stage_done(1),
        _job(1, [1, 2], "x:q2"),  # stage 1 already belongs to q1
        _stage_done(1, submitted=False),
        _task(2, 7),
        _stage_done(2),
        _job(2, [3]),  # no group: skipped
        _task(3, 1000),
        '{"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metr',  # torn tail
    ]
    got = reduce_event_log(lines)
    assert got == {
        "x:q1": GroupStats(jobs=1, stages=2, tasks=3, executor_run_ms=27,
                           shuffle_read_bytes=150, shuffle_write_bytes=150, spill_bytes=9),
        "x:q2": GroupStats(jobs=1, stages=1, tasks=1, executor_run_ms=7),
    }


def test_event_log_custom_grouping_by_submission_time():
    lines = [_job(0, [0], submitted=1500), _task(0, 3), _job(1, [1], submitted=4500), _task(1, 4)]
    got = reduce_event_log(lines, lambda ev: "early" if ev["Submission Time"] < 3000 else None)
    assert got == {"early": GroupStats(jobs=1, tasks=1, executor_run_ms=3)}


def test_percentile_interpolates_between_ranks():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0.0) == 1.0
    assert percentile(xs, 1.0) == 4.0
    assert percentile(xs, 0.5) == 2.5
    assert percentile([7.0], 0.9) == 7.0
    with pytest.raises(ValueError):
        percentile([], 0.5)


def test_summary_reports_sample_count_and_samples_beyond_tail():
    s = Summary.of([float(i) for i in range(1, 101)], 0.9)
    assert s.n == 100
    assert s.p50 == pytest.approx(50.5)
    assert s.tail == pytest.approx(90.1)
    assert s.beyond_tail == 10


def test_self_time_subtracts_merged_clipped_children():
    spans = [
        Span(1, None, "query", 0.0, 10.0),
        Span(2, 1, "build", 1.0, 4.0),
        Span(3, 1, "action", 3.0, 6.0),  # overlaps build: union 1..6
        Span(4, 1, "late", 9.0, 12.0),  # clipped to 9..10
        Span(5, 2, "job", 1.5, 2.0),
    ]
    got = self_times(spans)
    assert got[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert got[2] == pytest.approx(3.0 - 0.5)
    assert got[3] == pytest.approx(3.0)
    assert got[5] == pytest.approx(0.5)
    by_name = self_time_by_name(spans + [Span(6, None, "job", 20.0, 21.0)])
    assert by_name["job"] == pytest.approx(1.5)
    assert by_name["query"] == pytest.approx(4.0)


def test_expected_open_keys_follow_last_event_per_key():
    events = [
        {"event_id": 0, "ts": 1.0, "user_id": 1, "event_type": "signup"},
        {"event_id": 1, "ts": 2.0, "user_id": 2, "event_type": "signup"},
        {"event_id": 2, "ts": 3.0, "user_id": 1, "event_type": "click"},
        {"event_id": 3, "ts": 3.0, "user_id": 2, "event_type": "click"},
        {"event_id": 4, "ts": 3.0, "user_id": 2, "event_type": "signup"},  # ts tie: id wins
    ]
    assert expected_open_keys(events) == {"2"}


class _Spec:
    def __init__(self, module):
        self.builder = type("B", (), {"__module__": module})


def test_sample_mix_is_stratified_and_deterministic():
    specs = {f"q_a{i}": _Spec("m.a") for i in range(20)}
    specs.update({f"q_b{i}": _Spec("m.b") for i in range(10)})
    specs.update({"q_c0": _Spec("m.c"), ITERATIVE[0]: _Spec("m.c")})
    picked = sample_mix(specs, seed=3, k=9)
    assert len(picked) == len(set(picked)) == 9
    assert ITERATIVE[0] not in picked
    by_mod = {m: sum(specs[n].builder.__module__ == m for n in picked) for m in ("m.a", "m.b", "m.c")}
    assert by_mod == {"m.a": 5, "m.b": 3, "m.c": 1}
    assert sample_mix(specs, seed=3, k=9) == picked
