"""Transform-contract tests mirroring the reference's suite
(``tests/test_etl.py`` — empty raises / missing columns raise / success), plus
property checks for tz normalization and dedup idempotence (SURVEY §5)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from youbike_etl_pipeline_spark.functions.scalar import to_utc_from_tz
from youbike_etl_pipeline_spark.sources.http import snapshot_to_df
from youbike_etl_pipeline_spark.sources.writers import append_dedup

FULL_RECORD = {
    "sno": "500101001",
    "sna": "YouBike2.0_測試站",
    "sarea": "中正區",
    "latitude": 25.04,
    "longitude": 121.52,
    "Quantity": 30,
    "available_rent_bikes": 5,
    "available_return_bikes": 25,
    "srcUpdateTime": "2025-12-10 15:00:00",
}


def test_transform_empty_raises(spark):
    with pytest.raises(ValueError):
        snapshot_to_df(spark, [])


def test_transform_missing_columns_raises(spark):
    with pytest.raises(KeyError):
        snapshot_to_df(spark, [{"sno": "1", "sna": "x"}])


def test_transform_success(spark):
    df = snapshot_to_df(spark, [FULL_RECORD])
    assert df.count() == 1
    assert df.columns == list(FULL_RECORD.keys())
    row = df.collect()[0]
    assert row["sno"] == "500101001"
    assert row["Quantity"] == 30


def test_tz_normalize_taipei_to_utc(spark):
    df = spark.createDataFrame([("2025-12-10 15:00:00",)], "ts_str string").select(
        to_utc_from_tz(F.to_timestamp("ts_str")).alias("utc")
    )
    assert df.collect()[0]["utc"] == datetime.datetime(2025, 12, 10, 7, 0, 0)


def test_append_dedup_idempotent(spark):
    batch = spark.createDataFrame(
        [("a", 1, 10), ("a", 1, 11), ("b", 2, 20)], "k string, t int, v int"
    )
    first = append_dedup(batch, None, ["k", "t"])
    assert first.count() == 2
    # re-running the same batch against what was loaded inserts nothing
    second = append_dedup(batch, first, ["k", "t"])
    assert second.count() == 0


def test_upsert_insert_if_absent(spark):
    incoming = spark.createDataFrame([("s1", "x"), ("s2", "y"), ("s2", "y2")], "station_no string, name string")
    existing = spark.createDataFrame([("s1",)], "station_no string")
    new = append_dedup(incoming, existing, ["station_no"])
    rows = new.collect()
    assert len(rows) == 1 and rows[0]["station_no"] == "s2"


def test_rename_synonyms_guarded(spark):
    from youbike_etl_pipeline_spark.operators.relational import rename_synonyms

    df = spark.createDataFrame([("x", "y", 1)], "sno string, StationUID string, v int")
    out = rename_synonyms(df)
    # first synonym wins; second is left alone to avoid duplicate targets
    assert out.columns == ["station_no", "StationUID", "v"]


def test_dedup_by_key_deterministic_survivor(spark):
    from youbike_etl_pipeline_spark.operators.relational import dedup_by_key

    df = spark.createDataFrame(
        [("k", 3, "c"), ("k", 1, "a"), ("k", 2, "b")], "key string, ord int, v string"
    )
    out = dedup_by_key(df, ["key"], order_by=["ord"]).collect()
    assert len(out) == 1 and out[0]["v"] == "a"


def test_stream_reader_tolerates_directory_layout(spark, tmp_path):
    """The stream readers must read a table shipped as BOTH a single
    `events.parquet` file in the sf dir (driver testdata) and an
    `events.parquet/part-*.parquet` directory (any real warehouse) — the
    old leaf-filename glob silently read ZERO files from the directory
    layout (caught when the 1000x probe 'processed' 100M events in 0.3s)."""
    import os

    from pyspark.sql import functions as F

    from youbike_etl_pipeline_spark.sources.readers import read_events
    from youbike_etl_pipeline_spark.streaming.ingest import read_events_stream

    src = read_events(spark, "/root/testdata/sf0.001").limit(500)
    d = str(tmp_path / "sfdir")
    os.makedirs(d, exist_ok=True)
    src.repartition(3).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))

    stream = read_events_stream(spark, d)
    name = "t_dirlayout"
    q = (
        stream.groupBy()
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.table(name).first()["n"]
    finally:
        q.stop()
    assert got == 500


# --------------------------------------------------------------------------
# local_frame: the one driver-local DataFrame primitive
# --------------------------------------------------------------------------


def test_local_frame_rejects_string_in_int_field(spark):
    with pytest.raises(TypeError):
        snapshot_to_df(spark, [dict(FULL_RECORD, Quantity="30")])


def test_local_frame_rejects_float_in_int_field(spark):
    with pytest.raises(TypeError):
        snapshot_to_df(spark, [dict(FULL_RECORD, Quantity=30.5)])


def test_local_frame_rejects_none_in_non_nullable_field(spark):
    with pytest.raises(ValueError):
        snapshot_to_df(spark, [FULL_RECORD, dict(FULL_RECORD, sno=None)])


def test_local_frame_absent_key_is_null(spark):
    from youbike_etl_pipeline_spark.schemas import RAW_STATION_SNAPSHOT
    from youbike_etl_pipeline_spark.sources.readers import read_json_records

    rec = {k: v for k, v in FULL_RECORD.items() if k != "sarea"}
    row = read_json_records(spark, [rec], RAW_STATION_SNAPSHOT).collect()[0]
    assert row["sarea"] is None and row["sna"] == FULL_RECORD["sna"]


def test_local_frame_accepts_int_in_double_field(spark):
    row = snapshot_to_df(spark, [dict(FULL_RECORD, latitude=25)]).collect()[0]
    assert row["latitude"] == 25.0 and isinstance(row["latitude"], float)


def test_local_frame_empty_rows_keep_schema(spark):
    from youbike_etl_pipeline_spark.schemas import RAW_STATION_SNAPSHOT
    from youbike_etl_pipeline_spark.sources.readers import local_frame

    df = local_frame(spark, [], RAW_STATION_SNAPSHOT)
    assert df.schema == RAW_STATION_SNAPSHOT
    assert df.count() == 0
    assert local_frame(spark, [], "a int, b string").columns == ["a", "b"]


def test_local_frame_rejects_row_width_mismatch(spark):
    from youbike_etl_pipeline_spark.sources.readers import local_frame

    with pytest.raises(ValueError):
        local_frame(spark, [(1, "x"), (2,)], "a int, b string")
    with pytest.raises(ValueError):
        local_frame(spark, [(1, "x", 3)], "a int, b string")


def test_local_frame_naive_datetime_matches_python_list_path(spark):
    """Sessions pin UTC: a naive datetime is a UTC wall clock on both the
    Arrow path and the Python-list path it replaced."""
    from youbike_etl_pipeline_spark.sources.readers import local_frame

    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    rows = [(datetime.datetime(2025, 12, 10, 7, 0, 0, 123456), 1), (None, 2)]
    ddl = "ts timestamp, n int"
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    epoch = got.select(F.col("ts").cast("double").alias("e")).collect()[0]["e"]
    assert epoch == datetime.datetime(
        2025, 12, 10, 7, 0, 0, 123456, tzinfo=datetime.timezone.utc
    ).timestamp()


def test_driver_local_frames_plan_as_local_table_scan(spark):
    """Snapshot, weather and union-find frames are JVM local relations:
    their executed plans scan a LocalTableScan, never a PythonRDD."""
    from pyspark.sql import types as T

    from youbike_etl_pipeline_spark.operators.dedup import _union_find_components
    from youbike_etl_pipeline_spark.pipelines.youbike import weather_to_df

    frames = [
        snapshot_to_df(spark, [FULL_RECORD]),
        weather_to_df(
            spark,
            {"time": ["2025-12-10 07:00:00"], "temperature_2m": [20.0], "precipitation": [0.0]},
        ),
        _union_find_components([(1, 2), (2, 3), (5, 5)], spark, T.LongType()),
    ]
    for df in frames:
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_create_dataframe_only_inside_local_frame():
    """Every driver-local frame in the package goes through ``local_frame``:
    ``createDataFrame(`` appears nowhere else under the package."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "youbike_etl_pipeline_spark"
    readers = pkg / "sources" / "readers.py"
    fn = next(
        n
        for n in ast.parse(readers.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
    )
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            if "createDataFrame(" not in line:
                continue
            if path == readers and fn.lineno <= lineno <= fn.end_lineno:
                continue
            offenders.append(f"{path.relative_to(pkg)}:{lineno}")
    assert not offenders, offenders
