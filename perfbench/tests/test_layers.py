"""Unit tests for the benchmark's offline helpers (no SparkSession).

Run: python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import layers  # noqa: E402

_SQL = "org.apache.spark.sql.execution.ui."


# -- tail percentile -------------------------------------------------------

def test_tail_leaves_exactly_min_beyond_samples_above():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    t = layers.tail_percentile(xs)
    assert t["beyond"] == 10
    assert t["value"] == 90.0
    assert t["percentile"] == 90.0
    assert sum(x > t["value"] for x in xs) == 10


def test_tail_is_order_insensitive_and_uses_sample_values():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 8  # 40 samples
    t = layers.tail_percentile(list(reversed(xs)))
    assert t["n"] == 40 and t["beyond"] == 10
    assert t["percentile"] == 75.0
    assert t["value"] == sorted(xs)[29]


def test_tail_between_20_and_40_samples_moves_above_median():
    xs = [float(i) for i in range(24)]
    t = layers.tail_percentile(xs)
    assert t["beyond"] == 10
    assert t["percentile"] == pytest.approx(100 * 14 / 24)
    assert t["value"] == 13.0


def test_tail_clamps_to_median_below_twice_min_beyond():
    xs = [float(i) for i in range(12)]
    t = layers.tail_percentile(xs)
    assert t["percentile"] == 50.0
    assert t["value"] == 5.0  # nearest-rank median: rank ceil(12/2) = 6
    assert t["beyond"] == 6  # fewer than 10: the tail is not resolved


def test_tail_with_custom_min_beyond_and_ties():
    xs = [1.0] * 10 + [2.0] * 10
    t = layers.tail_percentile(xs, min_beyond=5)
    assert t["value"] == 2.0 and t["beyond"] == 5


def test_tail_rejects_empty():
    with pytest.raises(ValueError):
        layers.tail_percentile([])


# -- Harrell-Davis median --------------------------------------------------

def test_harrell_davis_matches_closed_forms():
    assert layers.harrell_davis([4.0]) == pytest.approx(4.0)
    # n = 2: Beta(1.5, 1.5) puts half its mass on each rank
    assert layers.harrell_davis([3.0, 1.0]) == pytest.approx(2.0)
    # n = 3: the top rank weighs 1 - I_{2/3}(2, 2) = 7/27
    assert layers.harrell_davis([0.0, 1.0, 0.0]) == pytest.approx(
        7 / 27, abs=1e-6)


def test_harrell_davis_is_symmetric_and_moves_smoothly_across_a_gap():
    assert layers.harrell_davis([5.0, 1.0, 2.0, 4.0, 3.0]) == pytest.approx(3)
    # two clusters with the median in the gap: one sample crossing the gap
    # moves the plain median by the whole gap, this estimate by a fraction
    low, high = [1.0] * 10, [2.0] * 10
    moved = low[:-1] + [2.0] + high
    assert statistics.median(moved) - statistics.median(low + high) == 0.5
    shift = layers.harrell_davis(moved) - layers.harrell_davis(low + high)
    assert 0 < shift < 0.25


def test_harrell_davis_rejects_empty():
    with pytest.raises(ValueError):
        layers.harrell_davis([])


# -- span self-time --------------------------------------------------------

def test_self_time_without_children_is_span_length():
    assert layers.self_time((10.0, 12.5), []) == pytest.approx(2.5)


def test_self_time_subtracts_overlapping_children_once():
    # jobs [1,3] and [2,4] overlap: together they cover [1,4] = 3 s
    span = (0.0, 10.0)
    assert layers.self_time(span, [(1.0, 3.0), (2.0, 4.0)]) == \
        pytest.approx(7.0)


def test_self_time_clips_children_to_the_span():
    # a job that starts before the span and one that ends after it
    span = (5.0, 10.0)
    children = [(3.0, 6.0), (9.0, 12.0), (20.0, 21.0)]
    assert layers.self_time(span, children) == pytest.approx(3.0)


def test_self_time_nested_and_disjoint_children():
    span = (0.0, 10.0)
    children = [(1.0, 5.0), (2.0, 3.0), (6.0, 7.0), (6.5, 8.0)]
    # covered: [1,5] + [6,8] = 6
    assert layers.self_time(span, children) == pytest.approx(4.0)


def test_union_length_handles_unsorted_and_touching():
    assert layers.union_length([(4, 5), (0, 2), (2, 3)]) == 4


# -- event-log accumulation ------------------------------------------------

def _job_start(job_id, group, stages, t):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Submission Time": t,
            "Stage Infos": [{"Stage ID": s} for s in stages],
            "Properties": {"spark.jobGroup.id": group}}


def _task_end(stage, run_ms, cpu_ns, gc_ms, sw=0, lr=0, rr=0, inp=0,
              out=0, spill=0, failed=False, accums=()):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Failed": failed, "Killed": False,
                          "Accumulables": list(accums)},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                "JVM GC Time": gc_ms, "Disk Bytes Spilled": spill,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
                "Shuffle Read Metrics": {"Local Bytes Read": lr,
                                         "Remote Bytes Read": rr},
                "Input Metrics": {"Bytes Read": inp},
                "Output Metrics": {"Bytes Written": out}}}


def _plan(name, metrics=(), children=()):
    return {"nodeName": name, "metrics": list(metrics),
            "children": list(children)}


def _events():
    py_plan = _plan("AdaptiveSparkPlan", children=[_plan(
        "MapInArrow",
        metrics=[{"name": "time to run Python workers",
                  "accumulatorId": 7, "metricType": "timing"},
                 {"name": "data sent to Python workers",
                  "accumulatorId": 8, "metricType": "size"}],
        children=[_plan("SortMergeJoin", children=[
            _plan("BroadcastHashJoin"), _plan("Scan parquet")])])])
    final_plan = _plan("AdaptiveSparkPlan", children=[
        _plan("BroadcastHashJoin"), _plan("BroadcastHashJoin")])
    write_plan = _plan("Execute InsertIntoHadoopFsRelationCommand", metrics=[
        {"name": "number of written files", "accumulatorId": 9,
         "metricType": "sum"}])
    return [
        {"Event": _SQL + "SparkListenerSQLExecutionStart", "executionId": 0,
         "time": 1000, "sparkPlanInfo": py_plan},
        {"Event": _SQL + "SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 0, "sparkPlanInfo": final_plan},
        {"Event": _SQL + "SparkListenerSQLExecutionStart", "executionId": 1,
         "time": 1500, "sparkPlanInfo": write_plan},
        _job_start(0, "q/build", [0, 1], 1000),
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}},
        _task_end(0, 100, 50_000_000, 5, sw=1000, inp=4096,
                  accums=[{"ID": 7, "Name": "time to run Python workers",
                           "Update": "250"},
                          {"ID": 8, "Name": "data sent to Python workers",
                           "Update": "2048"}]),
        _task_end(1, 40, 20_000_000, 0, lr=600, rr=400,
                  accums=[{"ID": 7, "Update": "150"},
                          {"ID": 99, "Update": "not a number"}]),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1400,
         "Job Result": {"Result": "JobSucceeded"}},
        # stage 1 is reused (skipped) by the exec job; stage 2 runs
        _job_start(1, "q/exec", [1, 2], 1500),
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2}},
        _task_end(2, 60, 30_000_000, 1, out=512, spill=64, failed=True),
        {"Event": _SQL + "SparkListenerDriverAccumUpdates",
         "executionId": 1, "accumUpdates": [[9, 3], [7, 100]]},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1700,
         "Job Result": {"Result": "JobSucceeded"}},
        _job_start(2, None, [3], 1800),
        _task_end(3, 999, 0, 0),
    ]


def test_event_log_sums_task_metrics_per_job_group():
    log = layers.EventLog.from_lines(json.dumps(e) for e in _events())
    build = log.task_totals({"q/build"})
    assert build["tasks"] == 2
    assert build["run_ms"] == 140 and build["cpu_ns"] == 70_000_000
    assert build["gc_ms"] == 5
    assert build["shuffle_write_bytes"] == 1000
    assert build["shuffle_read_bytes"] == 1000  # local + remote
    assert build["input_bytes"] == 4096
    execute = log.task_totals({"q/exec"})
    assert execute["tasks"] == 1 and execute["tasks_failed"] == 1
    assert execute["output_bytes"] == 512 and execute["spill_bytes"] == 64
    both = log.task_totals({"q/build", "q/exec"})
    assert both["run_ms"] == 200
    assert log.task_totals()["run_ms"] == 1199  # ungrouped job included


def test_event_log_names_and_scales_sql_metrics():
    log = layers.EventLog.from_lines(json.dumps(e) for e in _events())
    py = log.sql_metric_totals(layers.PY_EVAL_METRICS)
    # 250 + 150 from tasks, 100 from DriverAccumUpdates; timing is in ms
    assert py["py_eval_s"] == pytest.approx(0.5)
    assert py["py_in_bytes"] == 2048
    assert py["py_out_bytes"] == 0
    assert log.sql_metric_totals(layers.WRITE_METRICS) == {
        "files_written": 3}


def test_event_log_counts_skipped_stages_and_executed_joins():
    log = layers.EventLog.from_lines(json.dumps(e) for e in _events())
    # the exec job re-lists stage 1, which already ran in the build job
    assert log.stage_counts({"q/build", "q/exec"}) == (4, 1)
    assert log.stage_counts({"q/build"}) == (2, 0)
    assert log.stage_counts({"q/exec"}) == (2, 1)
    assert log.stage_counts() == (5, 2)  # stage 3 was never submitted
    # joins come from the AQE re-plan, which demoted the sort-merge join
    assert log.join_counts() == (2, 0)
    assert log.jobs[0]["end"] == 1400 and log.jobs[0]["ok"]


def test_event_log_ignores_blank_lines_and_unknown_events():
    lines = ["", json.dumps({"Event": "SparkListenerLogStart"}), "  "]
    log = layers.EventLog.from_lines(lines)
    assert log.task_totals() == {} and log.jobs == {}


# -- generator -------------------------------------------------------------

def test_replicas_shift_every_key_and_keep_joins_within_a_copy():
    rng = np.random.default_rng(0)
    base = gen.star_schema(0.001, rng)
    rep = gen.replicate(base, 3)
    n_orders = len(base["orders"]["o_orderkey"])
    n_cust = len(base["customer"]["c_custkey"])
    assert len(rep["lineitem"]["l_orderkey"]) == 3 * len(
        base["lineitem"]["l_orderkey"])
    assert rep["nation"] is base["nation"] and rep["region"] is base["region"]
    # copy r of a lineitem points at copy r of its order and customer
    li_copy = rep["lineitem"]["l_orderkey"] // n_orders
    assert set(li_copy) == {0, 1, 2}
    o_copy = rep["orders"]["o_orderkey"] // n_orders
    assert (rep["orders"]["o_custkey"] // n_cust == o_copy).all()
    assert len(set(rep["customer"]["c_custkey"])) == 3 * n_cust
    assert rep["customer"]["c_name"][-1] == \
        f"Customer#{rep['customer']['c_custkey'][-1]:09d}"


def test_generate_is_deterministic_per_seed(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 0.001, 2, order_seed=5)
    b = gen.generate(str(tmp_path / "b"), 0.001, 2, order_seed=5)
    c = gen.generate(str(tmp_path / "c"), 0.001, 2, order_seed=6)
    for name in a["tables"]:
        fa = (tmp_path / "a" / f"{name}.parquet").read_bytes()
        assert fa == (tmp_path / "b" / f"{name}.parquet").read_bytes()
    assert ({k: v["rows"] for k, v in a["tables"].items()}
            == {k: v["rows"] for k, v in c["tables"].items()})
    assert (tmp_path / "a" / "lineitem.parquet").read_bytes() != \
        (tmp_path / "c" / "lineitem.parquet").read_bytes()
    assert a["tables"]["lineitem"]["rows"] == 12000
