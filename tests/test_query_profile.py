"""tools/query_profile.py attributes a streaming rep's micro-batch work,
which Structured Streaming runs under the stream's run-id job group, to
the rep whose wall window holds it."""

from __future__ import annotations

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_tool():
    spec = importlib.util.spec_from_file_location(
        "query_profile", os.path.join(ROOT, "tools", "query_profile.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


qp = _load_tool()


def _stage(group: str, stage_id: int, start: int, end: int, run_ms: int) -> list[dict]:
    props = {"spark.jobGroup.id": group}
    info = {"Stage ID": stage_id, "Submission Time": start, "Completion Time": end}
    return [
        {"Event": "SparkListenerJobStart", "Properties": props},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": info, "Properties": props},
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage_id,
            "Task Info": {"Launch Time": start},
            "Task End Reason": {"Reason": "Success"},
            "Task Metrics": {"Executor Run Time": run_ms},
        },
        {"Event": "SparkListenerStageCompleted", "Stage Info": info},
    ]


def test_stream_groups_fold_into_the_rep_whose_window_holds_them():
    events = (
        _stage("st9/0", 0, 1000, 1100, 50)
        + _stage("run-a", 1, 1200, 1400, 150)  # micro-batch of rep 0
        + _stage("run-a", 2, 1500, 1600, 70)
        + _stage("st9/1", 3, 3000, 3100, 40)
        + _stage("run-b", 4, 3200, 3300, 60)  # micro-batch of rep 1
        + _stage("late", 5, 3900, 4100, 500)  # runs past rep 1's window
    )
    stats = qp.GroupStats(events)
    reps = {"st9/0", "st9/1"}
    assert qp.stream_groups(stats, reps, 900, 2000) == ["run-a"]
    assert qp.stream_groups(stats, reps, 2900, 4000) == ["run-b"]

    rec = qp.breakdown(stats, ["st9/0", "run-a"], 1.1, 900, 2000)
    assert (rec["jobs"], rec["stages"], rec["tasks"]) == (3, 3, 3)
    assert rec["executor_run_s"] == 0.27
    # busy: 100 + 200 + 100 ms of the 1.1 s wall
    assert rec["driver_gap_s"] == 0.7
    alone = qp.breakdown(stats, ["st9/0"], 1.1, 900, 2000)
    assert (alone["jobs"], alone["executor_run_s"], alone["driver_gap_s"]) == (1, 0.05, 1.0)


def test_operator_counts_read_the_final_adaptive_plan():
    """A rep records what the planner decided: the final plan's nodes,
    not the initial plan's, and every execution of the rep."""
    from youbike_etl_pipeline_spark.plans.executed import operator_counts

    plan = "\n".join([
        "== Physical Plan ==",
        "OverwriteByExpression (9)",
        "+- AdaptiveSparkPlan (8)",
        "   +- == Final Plan ==",
        "      ResultQueryStage (5), Statistics(sizeInBytes=8.0 EiB)",
        "      +- * BroadcastHashJoin Inner BuildRight (4)",
        "         :- * Scan parquet  (1)",
        "         +- BroadcastQueryStage (3), Statistics(sizeInBytes=1.0 KiB)",
        "            +- BroadcastExchange (2)",
        "               +- * Scan parquet  (1)",
        "   +- == Initial Plan ==",
        "      SortMergeJoin Inner (7)",
        "      :- Exchange (6)",
        "      :  +- Scan parquet  (1)",
        "      +- Exchange (6)",
        "",
        "(1) Scan parquet ",
        "Output [1]: [k#1]",
    ])
    ops = operator_counts([plan, "== Physical Plan ==\n* Project (2)\n+- ReusedExchange (1)\n"])
    assert ops == {
        "OverwriteByExpression": 1, "AdaptiveSparkPlan": 1, "ResultQueryStage": 1,
        "BroadcastHashJoin": 1, "Scan": 2, "BroadcastQueryStage": 1,
        "BroadcastExchange": 1, "Project": 1, "ReusedExchange": 1,
    }
