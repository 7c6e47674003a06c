"""Metric code of the benchmark, on synthetic spans and events.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import layers  # noqa: E402
import metrics  # noqa: E402


def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    pct, value = metrics.tail(xs)
    assert value == 90.0
    assert sum(x > value for x in xs) == 10
    assert pct == 90.0


def test_tail_is_order_insensitive_and_counts_ties_by_rank():
    xs = [5.0] * 15 + [1.0] * 5
    assert metrics.tail(list(reversed(xs))) == metrics.tail(xs)
    pct, value = metrics.tail(xs)
    assert pct == 50.0 and value == 5.0


def test_tail_with_ten_or_fewer_samples_has_no_percentile():
    assert metrics.tail([3.0, 1.0, 2.0]) == (0.0, 1.0)
    with pytest.raises(ValueError):
        metrics.tail([])


def test_union_counts_overlap_once():
    assert metrics.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert metrics.union_length([(1, 3), (0, 2)]) == 3
    assert metrics.union_length([(0, 4), (1, 2)]) == 4
    assert metrics.union_length([(2, 2), (3, 1)]) == 0
    assert metrics.union_length([]) == 0


def test_union_of_touching_spans_is_their_sum():
    assert metrics.union_length([(0, 1), (1, 2)]) == 2


def test_driver_gap_is_wall_minus_union_of_jobs():
    # two overlapping jobs (threaded legs) and one later job
    jobs = [(0.5, 2.0), (1.0, 2.5), (3.0, 3.5)]
    assert metrics.driver_gap(4.0, jobs) == pytest.approx(4.0 - 2.5)


def test_driver_gap_clips_jobs_to_the_operation_window():
    jobs = [(-1.0, 1.0), (3.0, 9.0)]
    assert metrics.driver_gap(4.0, jobs) == pytest.approx(2.0)
    assert metrics.driver_gap(4.0, []) == 4.0


def test_error_rate_counts_failed_over_attempted():
    assert metrics.error_rate(20, 0) == 0.0
    assert metrics.error_rate(20, 5) == 0.25
    for attempted, failed in ((0, 0), (3, 4), (3, -1)):
        with pytest.raises(ValueError):
            metrics.error_rate(attempted, failed)


def test_suite_sums_per_operation_medians():
    assert metrics.suite({"a": [1.0, 9.0, 2.0], "b": [4.0]}) == 6.0


def test_per_pass_sums_medians_and_fills_missing_with_zero():
    per_op = {
        "a": [{"jobs": 3, "s": 1.0}, {"jobs": 3, "s": 3.0}, {"jobs": 3}],
        "b": [{"jobs": 2, "s": 0.5}],
    }
    assert metrics.per_pass(per_op) == {"jobs": 5, "s": 1.5}


def _events():
    def job_start(job, group, t, stages):
        return {
            "Event": "SparkListenerJobStart", "Job ID": job,
            "Submission Time": t,
            "Stage Infos": [{"Stage ID": s, "Stage Name": n} for s, n in stages],
            "Properties": {"spark.jobGroup.id": group},
        }

    def stage(sid, group, name, t0, t1, accs):
        return [
            {"Event": "SparkListenerStageSubmitted",
             "Stage Info": {"Stage ID": sid},
             "Properties": {"spark.jobGroup.id": group}},
            {"Event": "SparkListenerStageCompleted",
             "Stage Info": {"Stage ID": sid, "Stage Name": name,
                            "Submission Time": t0, "Completion Time": t1,
                            "Accumulables": [{"Name": k, "Value": str(v)}
                                             for k, v in accs.items()]}},
        ]

    def task(sid, reason="Success"):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
                "Task End Reason": {"Reason": reason}}

    evs = [job_start(0, "op#1", 1000, [(0, "localCheckpoint at x:0")])]
    evs += stage(0, "op#1", "localCheckpoint at x:0", 1000, 1500, {
        "internal.metrics.executorRunTime": 400,
        "internal.metrics.shuffle.write.bytesWritten": 2_000_000,
        "time to run Python workers": 250,
    })
    evs += [task(0), task(0, "ExceptionFailure"), task(0)]
    evs.append({"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500})
    evs.append(job_start(1, "op#1", 1600, [(1, "reduceByKey at a/mapreduce/job.py:1"),
                                           (2, "sortByKey at a/mapreduce/job.py:2")]))
    evs += stage(1, "op#1", "reduceByKey at a/mapreduce/job.py:1", 1600, 1900, {})
    evs.append({"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2000})
    # a job outside any group is ignored
    evs.append({"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 5,
                "Stage Infos": [{"Stage ID": 3, "Stage Name": "x"}], "Properties": {}})
    evs.append({"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 6})
    return [json.dumps(e) for e in evs]


def test_event_log_groups_jobs_stages_and_tasks():
    g = layers.parse_event_log(_events())
    assert set(g) == {"op#1"}
    op = g["op#1"]
    assert op["jobs"] == [(1.0, 1.5, "localCheckpoint at x:0"),
                          (1.6, 2.0, "sortByKey at a/mapreduce/job.py:2")]
    assert op["stages"] == 2
    assert op["tasks"] == 3 and op["failed_tasks"] == 1
    assert op["executor_run_s"] == pytest.approx(0.4)
    assert op["shuffle_write_mb"] == pytest.approx(2.0)
    assert op["python_worker_s"] == pytest.approx(0.25)
    assert op["map_stage_s"] == pytest.approx(0.3)
    sites = [site for _, _, site in op["jobs"]]
    assert [layers.is_stage_cut(s) for s in sites] == [True, False]
    assert [layers.is_group_job(s) for s in sites] == [False, True]


def test_tracer_attributes_spans_to_the_running_operation():
    tr = layers.Tracer()
    tr.record("tables.load_table", 0.0, 1.0)  # outside any operation
    tr.current = "q#1"
    tr.record("tables.load_table", 1.0, 1.5)
    tr.record("tables.load_table", 2.0, 2.25)
    assert tr.by_exec() == {
        "q#1": {"tables.load_table_s": 0.75, "tables.load_table_calls": 2}
    }
