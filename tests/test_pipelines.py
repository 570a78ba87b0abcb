"""End-to-end pipeline tests over the reference-domain fixtures
(FIXTURES.md §A): ingest tick → gold merge → tableau export."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from youbike_etl_pipeline_spark.pipelines.youbike import (
    build_gold_table,
    ingest_snapshot,
    tableau_master_dataset,
    weather_to_df,
)


def _snapshot(sno: str, bikes: int, total: int, ts: str) -> dict:
    return {
        "sno": sno,
        "sna": f"YouBike2.0_站{sno}",
        "sarea": "中正區" if sno < "5002" else "大安區",
        "latitude": 25.04,
        "longitude": 121.52,
        "Quantity": total,
        "available_rent_bikes": bikes,
        "available_return_bikes": total - bikes,
        "srcUpdateTime": ts,
    }


def test_ingest_tick_and_idempotence(spark):
    batch = [
        _snapshot("5001", 5, 30, "2025-12-10 15:00:00"),
        _snapshot("5001", 5, 30, "2025-12-10 15:00:00"),  # dup within batch
        _snapshot("5002", 0, 0, "2025-12-10 15:00:00"),  # zero-capacity edge
    ]
    info, status = ingest_snapshot(spark, batch)
    assert info.count() == 2  # in-batch dedup on station_no
    assert status.count() == 2
    # tz normalization: Asia/Taipei 15:00 → UTC 07:00
    ts = status.filter(F.col("station_no") == "5001").collect()[0]["record_time"]
    assert ts == datetime.datetime(2025, 12, 10, 7, 0, 0)
    # re-ingesting the same batch against the previous load is a no-op
    info2, status2 = ingest_snapshot(spark, batch, existing_info=info, existing_status=status)
    assert info2.count() == 0 and status2.count() == 0


def test_gold_table_features(spark):
    batch = [
        _snapshot("5001", 6, 30, "2025-12-10 15:00:00"),  # Wed → weekday
        _snapshot("5001", 12, 30, "2025-12-10 15:10:00"),
        _snapshot("5002", 0, 0, "2025-12-10 15:00:00"),
    ]
    info, status = ingest_snapshot(spark, batch)
    weather = weather_to_df(
        spark,
        {
            "time": ["2025-12-10 07:00:00"],
            "temperature_2m": [21.5],
            "precipitation": [3.0],
        },
    )
    gold = build_gold_table(status, info, weather)
    rows = {
        (r["station_no"], r["record_time"].minute): r
        for r in gold.collect()
    }
    r0 = rows[("5001", 0)]
    assert r0["filling_rate"] == 0.2
    assert r0["temperature"] == 21.5  # hour-bucket weather join hit
    assert r0["rain_cat"] == 2  # 3.0 mm → (2,10] bucket
    assert r0["is_weekday"] is True and r0["hour"] == 7
    assert r0["filling_rate_lag1"] is None
    r1 = rows[("5001", 10)]
    assert r1["filling_rate"] == 0.4 and r1["filling_rate_lag1"] == 0.2
    # zero-capacity guard: null, not inf (reference filters rate<=1.0)
    assert rows[("5002", 0)]["filling_rate"] is None


def test_tableau_export(spark, tmp_path):
    batch = [_snapshot("5001", 6, 30, "2025-12-10 15:00:00")]
    info, status = ingest_snapshot(spark, batch)
    weather = weather_to_df(
        spark, {"time": ["2025-12-10 07:00:00"], "temperature_2m": [20.0], "precipitation": [0.0]}
    )
    gold = build_gold_table(status, info, weather)
    out = tableau_master_dataset(gold, out_path=str(tmp_path / "tableau"))
    assert "filling_rate" in out.columns and "hour_key" not in out.columns
    csvs = list((tmp_path / "tableau").glob("*.csv"))
    assert len(csvs) == 1
    assert csvs[0].read_bytes().startswith(b"\xef\xbb\xbf")  # utf-8-sig BOM


def test_weather_all_null_hourly_column(spark):
    """An hourly column null in every hour (Open-Meteo reports missing
    precipitation this way) loads as a null double column."""
    weather = weather_to_df(
        spark,
        {
            "time": ["2025-12-10 07:00:00", "2025-12-10 08:00:00"],
            "temperature_2m": [20.5, 21.0],
            "precipitation": [None, None],
        },
    )
    assert dict(weather.dtypes) == {"record_time": "timestamp", "temperature": "double", "rain": "double"}
    rows = weather.orderBy("record_time").collect()
    assert [r["rain"] for r in rows] == [None, None]
    assert rows[0]["record_time"] == datetime.datetime(2025, 12, 10, 7, 0, 0)


def test_weather_mixed_int_and_float_numbers(spark):
    """JSON numbers mixing ``20`` and ``20.5`` in one hourly column load
    as doubles."""
    weather = weather_to_df(
        spark,
        {
            "time": ["2025-12-10 07:00:00", "2025-12-10 08:00:00"],
            "temperature_2m": [20, 20.5],
            "precipitation": [0, 1.5],
        },
    )
    rows = weather.orderBy("record_time").collect()
    assert [(r["temperature"], r["rain"]) for r in rows] == [(20.0, 0.0), (20.5, 1.5)]
