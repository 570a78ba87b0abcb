"""Scale-feature tests: bucketed co-located joins (no shuffle), sketch
accuracy bounds, broadcast-threshold behavior."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_bucketed_join_eliminates_shuffle(spark, sf_small, tmp_path_factory):
    """Writing both join sides bucketed on the key lets a later join run
    with zero Exchange — the co-location strategy for repeated 100 TB joins
    (SURVEY §4 / pyspark guide 'bucketing')."""
    # warehouse dir is a static conf — set in the session fixture
    spark.sql("CREATE DATABASE IF NOT EXISTS bktdb")
    spark.sql("DROP TABLE IF EXISTS bktdb.orders_b")
    spark.sql("DROP TABLE IF EXISTS bktdb.lineitem_b")
    import shutil

    shutil.rmtree("/tmp/spark-warehouse-tests/bktdb.db", ignore_errors=True)
    orders = spark.read.parquet(f"{sf_small}/orders.parquet")
    li = spark.read.parquet(f"{sf_small}/lineitem.parquet")
    orders.write.format("parquet").bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
        "overwrite"
    ).saveAsTable("bktdb.orders_b")
    li.withColumnRenamed("l_orderkey", "o_orderkey").write.format("parquet").bucketBy(
        8, "o_orderkey"
    ).sortBy("o_orderkey").mode("overwrite").saveAsTable("bktdb.lineitem_b")

    a = spark.table("bktdb.lineitem_b")
    b = spark.table("bktdb.orders_b")
    # at test scale the small side auto-broadcasts (which also skips the
    # shuffle but doesn't exercise bucketing) — force the SMJ path
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bare_join = a.join(b, "o_orderkey")
        # bucketed-bucketed SMJ: no shuffle on either side ("simple" mode
        # prints Exchange arguments inline; "formatted" separates them)
        assert "Exchange hashpartitioning" not in _plan(bare_join, "simple")
        assert "Bucketed: true" in _plan(bare_join, "formatted")
        # an unbucketed join of the same data does shuffle (check validity)
        plain_join = li.withColumnRenamed("l_orderkey", "o_orderkey").join(
            orders, "o_orderkey"
        )
        assert "Exchange hashpartitioning" in _plan(plain_join, "simple")
        joined = bare_join.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))
        plain = plain_join.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))
        assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, plain.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_approx_sketches_within_bounds(spark, sf_small):
    from youbike_etl_pipeline_spark.plans.corpus import CORPUS

    rows = CORPUS["approx_sketches"].fn(spark, sf_small).collect()
    assert rows
    for r in rows:
        # HLL default rsd = 5%
        assert abs(r["approx_users"] - r["exact_users"]) <= max(3, 0.1 * r["exact_users"])
        assert r["approx_median"] == pytest.approx(r["exact_median"], rel=0.1)


def test_repartition_for_rows_noop_and_widen(spark, sf_small):
    from youbike_etl_pipeline_spark.operators.skew import (
        parquet_row_count,
        repartition_for_rows,
    )

    df = spark.read.parquet(f"{sf_small}/lineitem.parquet")
    shuf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # below the per-partition target: identical object, no exchange added
    assert repartition_for_rows(df, shuf * 2_000_000 - 1, "l_orderkey") is df
    # above it: hash-partitioned on the key at ceil(rows/target) partitions
    widened = repartition_for_rows(df, 10 * 2_000_000 + 1, "l_orderkey")
    assert widened.rdd.getNumPartitions() == 11
    plan = widened._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(l_orderkey" in plan
    assert widened.count() == df.count()


def test_parquet_row_count_file_and_dir(spark, sf_small, tmp_path):
    from youbike_etl_pipeline_spark.operators.skew import parquet_row_count

    df = spark.read.parquet(f"{sf_small}/lineitem.parquet")
    n = df.count()
    assert parquet_row_count(f"{sf_small}/lineitem.parquet") == n
    out = str(tmp_path / "li_dir.parquet")
    df.repartition(3).write.mode("overwrite").parquet(out)
    assert parquet_row_count(out) == n


def test_widen_gate_fires_on_a_cluster_narrower_than_min_tasks(spark, tmp_path):
    """The ``min_tasks`` gate compares the work (rows / rows_per_task), not
    the cluster width: with target 2 < min_tasks a heavy single-file scan
    still widens to the 2 available tasks."""
    from youbike_etl_pipeline_spark.operators.skew import widen_narrow_scan

    out = str(tmp_path / "one_file.parquet")
    spark.range(64).coalesce(1).write.parquet(out)
    one_file = spark.read.parquet(out)
    assert len(one_file.inputFiles()) == 1
    widened = widen_narrow_scan(one_file, target=2, rows_per_task=1)
    assert widened.rdd.getNumPartitions() == 2
    # too little work for min_tasks tasks: left alone
    assert widen_narrow_scan(one_file, target=2, rows_per_task=32) is one_file


def test_widen_gate_skips_footers_when_already_wide(spark, tmp_path, monkeypatch):
    """Without a per-row cost, a scan already as wide as the target is
    returned before any footer is read."""
    from youbike_etl_pipeline_spark.operators import skew

    def no_footers(files):
        raise AssertionError("footers read for an already-wide scan")

    out = str(tmp_path / "three_files.parquet")
    spark.range(30).repartition(3).write.parquet(out)
    wide = spark.read.parquet(out)
    assert len(wide.inputFiles()) == 3
    monkeypatch.setattr(skew, "_footer_rows", no_footers)
    assert skew.widen_narrow_scan(wide, target=3) is wide


def test_widen_gate_survives_a_corrupt_footer(spark, tmp_path, monkeypatch):
    """A footer pyarrow cannot parse falls back to widening by file count
    instead of failing query construction."""
    from pyarrow.lib import ArrowInvalid

    from youbike_etl_pipeline_spark.operators import skew

    def corrupt(files):
        raise ArrowInvalid("Parquet magic bytes not found in footer")

    out = str(tmp_path / "one_file.parquet")
    spark.range(64).coalesce(1).write.parquet(out)
    one_file = spark.read.parquet(out)
    monkeypatch.setattr(skew, "_footer_rows", corrupt)
    widened = skew.widen_narrow_scan(one_file, target=2)
    assert widened.rdd.getNumPartitions() == 2
