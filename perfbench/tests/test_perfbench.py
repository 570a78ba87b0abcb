"""Self-tests of the benchmark: input generators, the event-log parser, the
metric declarations, and the repeatability of Spark's work counts.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import datagen  # noqa: E402
import run  # noqa: E402
from eventlog import GroupStats, read_events  # noqa: E402


def test_snapshot_stream_is_deterministic_per_seed():
    def ticks(seed, n=4):
        stream = datagen.SnapshotStream(seed, n_stations=50)
        return [stream.next() for _ in range(n)]

    a, b, c = ticks(7), ticks(7), ticks(8)
    assert a == b
    assert a != c
    payload0, expected0 = a[0]
    assert expected0 == {"new_status_rows": 50, "new_stations": 50}
    assert len(payload0) == 50 + 8  # every station plus in-payload duplicates
    # tick 2 replays tick 1 exactly: nothing new may be appended
    assert a[2] == (a[1][0], {"new_status_rows": 0, "new_stations": 0})
    assert 1 <= a[3][1]["new_stations"] <= 5
    assert a[3][1]["new_status_rows"] < len({r["sno"] for r in a[3][0]})


def test_tables_are_deterministic_and_typed_like_the_test_data():
    a, b = datagen.make_tables(3), datagen.make_tables(3)
    assert all(a[t].equals(b[t]) for t in a)
    assert {t: a[t].num_rows for t in a} == datagen.TABLE_ROWS
    assert str(a["lineitem"].schema.field("l_linenumber").type) == "int32"
    assert str(a["events"].schema.field("ts").type) == "timestamp[us]"
    assert str(a["embeddings"].schema.field("embedding").type) == "list<item: float>"


def test_weather_covers_every_tick_hour():
    w = datagen.weather_payload(1)
    assert len(w["time"]) == len(set(w["time"])) == datagen.WEATHER_HOURS
    assert w["time"][12] == datagen.START.strftime("%Y-%m-%dT%H:%M")


def test_pass_order_is_seeded_and_keeps_followers_behind_leaders():
    import random

    import workloads

    wl = workloads.CorpusWorkload("unused")
    orders = {
        tuple(op.name for op in wl.pass_ops(random.Random(seed), "p"))
        for seed in range(6)
    }
    assert len(orders) > 1
    for order in orders:
        assert sorted(order) == sorted(workloads.SIMILARITY_HEAVY)
        for follower, leader in workloads.FOLLOWS.items():
            assert order.index(follower) == order.index(leader) + 1


def test_event_log_parser_on_fixture():
    stats = GroupStats(read_events(os.path.join(HERE, "fixtures")))
    build, exe = stats.get("p0:0:q|build"), stats.get("p0:0:q|exec")
    assert (build["jobs"], build["stages"], build["tasks"]) == (1, 1, 1)
    assert (build["executor_run_ms"], build["shuffle_write_bytes"], build["task_wait_ms"]) == (70, 300, 10)
    assert (exe["jobs"], exe["stages"], exe["tasks"], exe["failed_tasks"]) == (1, 2, 3, 1)
    assert exe["executor_run_ms"] == 150
    assert exe["executor_cpu_ns"] == 71_000_000
    assert exe["jvm_gc_ms"] == 2
    assert exe["spill_bytes"] == 96
    assert (exe["shuffle_write_bytes"], exe["shuffle_read_bytes"]) == (500, 500)
    assert exe["task_wait_ms"] == 20 + 30 + 50
    assert (exe["python_start_ms"], exe["python_init_ms"], exe["python_run_ms"]) == (400, 250, 60)
    assert (exe["python_bytes_sent"], exe["python_bytes_returned"]) == (1000, 800)
    # counted in the last adaptive re-plan, not the initial plan
    assert exe["broadcast_exchanges"] == 2
    # overlapping stage spans count once; untagged jobs belong to no group
    groups = ["p0:0:q|build", "p0:0:q|exec"]
    assert stats.busy_ms(groups, 1000, 1500) == 100 + 200
    assert stats.busy_ms(groups, 1050, 1350) == 50 + 150
    assert set(stats.by_group) == set(groups)


def test_end_to_end_times_take_each_operations_fastest_pass():
    recs = [
        {"name": "a", "wall_s": 2.0}, {"name": "b", "wall_s": 1.0},
        {"name": "b", "wall_s": 3.0}, {"name": "a", "wall_s": 1.0},
    ]
    assert sorted(run.best_walls(recs)) == [1.0, 1.0]
    e2e = run.end_to_end(recs, setup_s=5.0, cpu_s=8.0, rss_mb=100.0)
    assert e2e["ops_per_s"] == 1.0
    assert e2e["op_s.p50"] == 1.0
    assert e2e["cpu_s_per_op"] == 2.0  # CPU is spread over every run, not the best


def test_every_printed_metric_is_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    declared_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert run.END_TO_END == declared_e2e
    assert run.PER_LAYER == declared_layer
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert bench["command"] == ["python3", "perfbench/run.py"]


@pytest.fixture(scope="module")
def traced_session(tmp_path_factory):
    pytest.importorskip("pyspark")
    work = str(tmp_path_factory.mktemp("perfbench"))
    run.pin_environment(work)
    from youbike_etl_pipeline_spark.session import get_spark

    data_dir = os.path.join(work, "data")
    datagen.write_tables(run.TABLE_SEED, data_dir)
    spark = get_spark(app_name="perfbench-selftest", extra_conf=run.spark_conf(work, traced=True))
    yield spark, data_dir, os.path.join(work, "eventlog")
    run.stop_session(spark)


def test_work_counts_of_one_operation_repeat_exactly(traced_session):
    from youbike_etl_pipeline_spark.plans import corpus

    spark, data_dir, log_dir = traced_session
    sc = spark.sparkContext
    for rep in range(3):
        corpus.clear_pair_graph_cache()
        sc.setJobGroup(f"rep{rep}|build", "t7")
        df = corpus.CORPUS["t7_minhash_lsh_dedup"].fn(spark, data_dir)
        sc.setJobGroup(f"rep{rep}|exec", "t7")
        df.write.mode("overwrite").format("noop").save()
    spark.stop()  # flushes the event log
    stats = GroupStats(read_events(log_dir))
    keys = ("jobs", "tasks", "shuffle_write_bytes")
    reps = [
        tuple(stats.get(f"rep{r}|build")[k] + stats.get(f"rep{r}|exec")[k] for k in keys)
        for r in range(3)
    ]
    assert reps[0][0] > 0 and reps[0][2] > 0
    assert reps[0] == reps[1] == reps[2]
