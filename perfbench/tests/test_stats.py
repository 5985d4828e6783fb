import statistics

import pytest

from perfbench import stats
from perfbench.trace import Tracer


def test_spread_uses_statistics_quantiles():
    xs = [10.0, 11.0, 9.0, 12.0, 10.5, 9.5, 10.2, 11.5, 9.8, 10.1]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    s = stats.spread(xs)
    assert (s["q1"], s["median"], s["q3"]) == (q1, med, q3)
    assert s["spread"] == pytest.approx((q3 - q1) / med)


def test_union_length_counts_overlap_once_and_clips():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([(0, 10)], 2, 5) == 3
    assert stats.union_length([(0, 1), (1, 2)]) == 2
    assert stats.union_length([(3, 4)], 0, 2) == 0
    assert stats.union_length([]) == 0


def test_self_time_subtracts_covered_children():
    # span 0..10 with children 1..3 and 2..5 (overlapping) and 9..12
    assert stats.self_time((0, 10), [(1, 3), (2, 5), (9, 12)]) == 10 - 4 - 1


def test_tracer_nests_spans_and_computes_self_times():
    tr = Tracer(True)
    with tr.span("outer"):
        with tr.span("inner", call="c1") as sp:
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.id and inner.call == "c1"
    assert sp is inner
    # pretend fixed times: outer 0..10, inner 2..6, plus a Spark job 3..5
    outer.start, outer.end, inner.start, inner.end = 0.0, 10.0, 2.0, 6.0
    self_s = tr.self_times({inner.id: [(3.0, 5.0)]})
    assert self_s[outer.id] == 6.0
    assert self_s[inner.id] == 2.0


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x", call="c") as sp:
        pass
    assert sp is None and tr.spans == []


def test_event_log_attributes_jobs_and_stages_to_calls(tmp_path):
    import json

    from perfbench import trace

    def scope(name):
        return {"Scope": json.dumps({"id": "1", "name": name})}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "c1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 300, "JVM GC Time": 5,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 70}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 200, "JVM GC Time": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Submission Time": 1000, "Completion Time": 1400,
            "RDD Info": [scope("MapInPandas")]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Submission Time": 1400, "Completion Time": 1900,
            "RDD Info": [scope("FlatMapGroupsInPandas")]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000,
         "Stage IDs": [2], "Properties": {}},
    ]
    (tmp_path / "app").write_text("".join(json.dumps(e) + "\n" for e in events))
    jobs, stages = trace.read_event_log(str(tmp_path))
    by_call = trace.jobs_by_call(jobs)
    assert list(by_call) == ["c1"]
    summ = trace.call_summary(by_call["c1"], stages)
    assert summ["jobs"] == 1 and summ["intervals"] == [(1.0, 2.0)]
    assert summ["task_s"] == 0.5 and summ["gc_ms"] == 5
    assert summ["shuffle_bytes"] == 70 and summ["python_map"]
    assert summ["udf_stage_s"] == 0.5
