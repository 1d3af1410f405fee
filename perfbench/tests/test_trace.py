"""The benchmark's own arithmetic, on small synthetic spans and event logs.

    python3 -m pytest perfbench/tests -q
"""

import json
from pathlib import Path

import numpy as np
import pytest

from perfbench import inputs, layers
from perfbench.trace import (attribute_jobs, driver_gap, executor_rollup,
                             parse_event_log, self_times, tail_percentile,
                             union_length)


def _span(i, name, start, end, parent=None):
    return {"id": i, "name": name, "parent": parent, "kind": "k", "op": 0,
            "start": start, "end": end}


# ---------------------------------------------------------------- percentile

def test_tail_percentile_needs_ten_samples_beyond():
    # 20 samples: p50 has exactly 10 beyond it, p75 only 5
    assert tail_percentile(range(1, 21)) == (50.0, 10, 10)
    # 100 samples: p90 has 10 beyond (index 89 -> value 90), p95 only 5
    assert tail_percentile(range(1, 101)) == (90.0, 90, 10)
    # 1000 samples: p99 leaves 10 beyond
    assert tail_percentile(range(1, 1001)) == (99.0, 990, 10)


def test_tail_percentile_none_when_too_few():
    assert tail_percentile(range(19)) is None
    assert tail_percentile([]) is None


# ----------------------------------------------------------------- self time

def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10)], 2, 4) == 2
    assert union_length([(5, 6)], 0, 4) == 0


def test_self_time_subtracts_covered_part_of_children():
    spans = [_span(0, "op", 0.0, 10.0),
             _span(1, "a:x", 1.0, 4.0, parent=0),
             _span(2, "b:y", 3.0, 6.0, parent=0),   # overlaps span 1
             _span(3, "c:z", 4.5, 5.0, parent=2),
             _span(4, "d:w", 9.0, 12.0, parent=0)]  # runs past its parent
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (5 + 1))     # [1,6] and [9,10]
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(2.5)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(3.0)


def test_nested_self_times_sum_to_wall():
    spans = [_span(0, "op", 0.0, 8.0),
             _span(1, "a:x", 0.5, 4.0, parent=0),
             _span(2, "b:y", 1.0, 2.0, parent=1),
             _span(3, "c:z", 4.0, 7.5, parent=0)]
    st = self_times(spans)
    assert sum(st.values()) == pytest.approx(8.0)
    assert st[0] == pytest.approx(1.0)


# --------------------------------------------------------------- attribution

def test_jobs_go_to_innermost_span_open_at_submission():
    spans = [_span(0, "op", 0.0, 10.0),
             _span(1, "a:route", 1.0, 4.0, parent=0),
             _span(2, "b:collect", 4.0, 9.0, parent=0),
             _span(3, "c:inner", 5.0, 6.0, parent=2)]
    jobs = {0: {"submit": 0.5}, 1: {"submit": 2.0}, 2: {"submit": 5.5},
            3: {"submit": 8.0}, 4: {"submit": 11.0}}
    got = attribute_jobs(spans, jobs)
    assert got == {0: 0, 1: 1, 2: 3, 3: 2, 4: None}


def test_job_that_outlives_its_span_stays_with_the_submitting_span():
    # a job from a program thread pool submitted inside the span but
    # finishing after it is still attributed by submission time
    spans = [_span(0, "op", 0.0, 3.0), _span(1, "op", 3.0, 6.0)]
    assert attribute_jobs(spans, {7: {"submit": 2.9, "end": 5.0}}) == {7: 0}


# ---------------------------------------------------------------- driver gap

def test_driver_gap_is_span_wall_without_any_stage_running():
    stages = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (9.5, 12.0)]
    assert driver_gap(0.0, 10.0, stages) == pytest.approx(10 - 3 - 1 - 0.5)
    assert driver_gap(0.0, 1.0, stages) == pytest.approx(1.0)


# ----------------------------------------------------------------- event log

def _event_log():
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 1010}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [
             {"Name": "time to start Python workers", "Update": "1500"},
             {"Name": "scan time", "Update": "250"}]},
         "Task Metrics": {"Executor Run Time": 2000,
                          "Executor CPU Time": 1_500_000_000,
                          "JVM GC Time": 100,
                          "Shuffle Write Metrics": {
                              "Shuffle Bytes Written": 4096}}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 1010,
                        "Completion Time": 3010}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 1, "Submission Time": 3020}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Executor Run Time": 500}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Submission Time": 3020,
                        "Completion Time": 3600}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3650},
        # job 1 reuses stage 1's shuffle output: stage 0 skipped, listed again
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 5000, "Stage IDs": [0, 2]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Metrics": {"Executor Run Time": 300}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 2, "Submission Time": 5010,
                        "Completion Time": 5400}},
    ]
    return [json.dumps(e) for e in ev]


def test_parse_event_log_units_and_reused_stages():
    jobs, stages = parse_event_log(_event_log())
    assert jobs[0]["submit"] == 1.0 and jobs[0]["end"] == 3.65
    assert jobs[1]["stages"] == [2]          # stage 0 belongs to job 0
    s0 = stages[0]
    assert (s0["tasks"], s0["run_s"], s0["cpu_s"], s0["gc_s"]) == (1, 2.0, 1.5, 0.1)
    assert s0["python_boot_s"] == 1.5 and s0["scan_s"] == 0.25
    assert s0["shuffle_write_bytes"] == 4096
    assert (s0["submit"], s0["end"]) == (1.01, 3.01)


def test_executor_rollup_and_gap_from_event_log():
    jobs, stages = parse_event_log(_event_log())
    spans = [_span(0, "op", 0.5, 6.0), _span(1, "x:collect", 0.9, 4.0, 0)]
    job_span = attribute_jobs(spans, jobs)
    assert job_span == {0: 1, 1: 0}
    ex = executor_rollup([0, 1], job_span, jobs, stages)
    assert ex["jobs"] == 2 and ex["tasks"] == 3
    assert ex["run_s"] == pytest.approx(2.8)
    gap = driver_gap(0.5, 6.0, ex["stage_intervals"])
    assert gap == pytest.approx(5.5 - (2.0 + 0.58 + 0.39))
    only_collect = executor_rollup([1], job_span, jobs, stages)
    assert only_collect["jobs"] == 1


# ------------------------------------------------------------ answer oracle

def test_same_answer_tolerates_float_order_not_value_changes():
    assert inputs.same_answer([("A", 3, 1.0000000000001)], [("A", 3, 1.0)])
    assert not inputs.same_answer([("A", 3, 1.001)], [("A", 3, 1.0)])
    assert inputs.same_answer([("N", 1), ("A", 2)], [("A", 2), ("N", 1)])
    assert not inputs.same_answer([("A", 2)], [("A", 2), ("A", 2)])


def test_inputs_are_a_function_of_the_seed():
    a, b = inputs.lineitem(5, 2000), inputs.lineitem(5, 2000)
    assert a.equals(b) and not a.equals(inputs.lineitem(6, 2000))
    keys = np.unique(a.column("l_orderkey").to_numpy())
    s1 = list(inputs.sql_stream(5, keys, "li", 2))
    s2 = list(inputs.sql_stream(5, keys, "li", 2))
    assert s1 == s2 and len(s1) == 2 * len(inputs.TEMPLATES)
    assert {t for _, t, _, _ in s1} == set(inputs.TEMPLATES)


# ---------------------------------------------------- BENCHMARK.json agrees

def test_benchmark_json_lists_the_metrics_the_code_prints():
    spec = json.loads((Path(__file__).resolve().parents[2]
                       / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == \
        list(layers.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] \
        == list(layers.PER_LAYER)
