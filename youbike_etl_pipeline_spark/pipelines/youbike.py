"""The reference's dataflows, recomposed Spark-first.

Four flows (SURVEY §3):

1. **Ingest** (``etl_job.py`` / ``dags/youbike_dag.py``): raw API snapshot →
   validate → split into dimension (project+rename+dedup) and fact
   (project+rename+tz-normalize) → anti-join upsert dims, dedup-append facts.
2. **Weather** (``notebooks/02_weather_etl.ipynb``): hourly dict-of-lists →
   typed hourly series.
3. **Gold merge** (``notebooks/03_data_merge.ipynb``): status ⋈ info
   (broadcast) ⋈ weather (hour-bucket join) → one big table with derived
   analysis columns (``01_youbike_analysis`` feature block).
4. **Tableau export** (``notebooks/06_tableau_master_dataset.ipynb``):
   column whitelist + utf-8-sig single CSV.

Orchestration (Airflow/cron) is out of scope — these are plain functions the
scheduler of your choice calls; the streaming twin lives in
:mod:`..streaming.ingest`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import (
    filling_rate,
    is_peak_hour,
    is_weekday,
    rain_category,
    to_utc_from_tz,
)
from ..operators.joins import hour_bucket_join
from ..operators.windows import lag_features
from ..schemas import WEATHER_RAW_HOURLY
from ..sources.http import snapshot_to_df
from ..sources.readers import local_frame
from ..sources.writers import append_dedup, write_csv


def ingest_snapshot(
    spark: SparkSession,
    records: list[dict],
    existing_info: DataFrame | None = None,
    existing_status: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One ETL tick (reference ``etl_process``, ``dags/youbike_dag.py:63``):
    returns (new_info_rows, new_status_rows) ready to append.

    Transform split mirrors the reference exactly: info = project 6 cols +
    rename + dedup by station (``etl_job.py:99-101``); status = project +
    rename + Asia/Taipei→UTC normalize (``etl_job.py:103-109``). Load
    semantics: anti-join insert-if-absent for the dimension
    (``etl_job.py:121-126``), unique-key dedup-append for the fact
    (``etl_job.py:128-132``).
    """
    raw = snapshot_to_df(spark, records)
    info = raw.select(
        F.col("sno").cast("string").alias("station_no"),
        F.col("sna").alias("name_tw"),
        F.col("sarea").alias("district"),
        F.col("latitude").cast("decimal(10,7)").alias("lat"),
        F.col("longitude").cast("decimal(10,7)").alias("lng"),
        F.col("Quantity").alias("total_spaces"),
    )
    status = raw.select(
        F.col("sno").cast("string").alias("station_no"),
        F.col("available_rent_bikes").alias("bikes_available"),
        F.col("available_return_bikes").alias("spaces_available"),
        to_utc_from_tz(F.to_timestamp("srcUpdateTime")).alias("record_time"),
    )
    new_info = append_dedup(info, existing_info, ["station_no"])
    new_status = append_dedup(status, existing_status, ["station_no", "record_time"])
    return new_info, new_status


def weather_to_df(spark: SparkSession, hourly: dict[str, list]) -> DataFrame:
    """Weather ETL (reference ``02_weather_etl``): Open-Meteo-style
    dict-of-lists {time, temperature_2m, precipitation} → typed hourly
    series with the engine's column names.

    The payload is read in the declared :data:`WEATHER_RAW_HOURLY` schema,
    not inferred, so an hourly column that is null in every hour and JSON
    numbers mixing ``20`` and ``20.5`` both load."""
    rows = list(
        zip(
            hourly.get("time", []),
            hourly.get("temperature_2m", []),
            hourly.get("precipitation", []),
        )
    )
    if not rows:
        raise ValueError("empty weather payload")
    df = local_frame(spark, rows, WEATHER_RAW_HOURLY)
    return df.select(
        F.to_timestamp("record_time").alias("record_time"), "temperature", "rain"
    )


def build_gold_table(
    status: DataFrame, info: DataFrame, weather: DataFrame
) -> DataFrame:
    """Gold merge + analysis feature block (reference ``03_data_merge`` +
    ``01_youbike_analysis:L64-L72,L278,L1115-L1118`` + Rain_Cat from
    ``05_multistation_lstm:L94``):

    status ⋈ info ⋈ hour-bucketed weather, then derived columns:
    ``filling_rate`` (zero-guarded), ``hour``, ``is_weekday``, ``is_peak``,
    ``rain_cat``, ``filling_rate_lag1`` (the R²-lifting lag feature).
    """
    merged = status.join(info, on="station_no", how="left")
    merged = hour_bucket_join(
        merged, weather, fact_ts="record_time", hourly_ts="record_time", how="left"
    )
    enriched = (
        merged.withColumn(
            "filling_rate", filling_rate(F.col("bikes_available"), F.col("total_spaces"))
        )
        .withColumn("hour", F.hour("record_time"))
        .withColumn("is_weekday", is_weekday(F.col("record_time")))
        .withColumn("is_peak", is_peak_hour(F.col("record_time")))
        .withColumn("rain_cat", rain_category(F.coalesce(F.col("rain"), F.lit(0.0))))
    )
    return lag_features(
        enriched, key="station_no", ts="record_time", value_col="filling_rate", lags=[1]
    )


#: Tableau export whitelist (reference ``06_tableau_master_dataset:L67-L70``).
TABLEAU_COLUMNS = [
    "station_no",
    "name_tw",
    "district",
    "lat",
    "lng",
    "total_spaces",
    "bikes_available",
    "spaces_available",
    "record_time",
    "temperature",
    "rain",
    "filling_rate",
]


def tableau_master_dataset(gold: DataFrame, out_path: str | None = None) -> DataFrame:
    """Tableau export (reference ``06``): whitelist columns present in the
    gold table; optionally write a single utf-8-sig CSV (the reference's
    Excel-friendly encoding, ``06:L86``)."""
    cols = [c for c in TABLEAU_COLUMNS if c in gold.columns]
    out = gold.select(*cols)
    if out_path:
        write_csv(out, out_path, single_file=True, encoding="UTF-8-SIG")
    return out


def run_ingest_cli(argv: list[str] | None = None) -> int:
    """CLI twin of the reference's ``etl_job.py`` main loop, batch form:

        python -m youbike_etl_pipeline_spark.pipelines.youbike \\
            --snapshot-json snapshot.json --warehouse /path/wh

    Reads one API snapshot (a JSON array of station records), applies the
    ingest tick against the existing warehouse (anti-join dim upsert +
    dedup fact append), and appends the new rows as parquet. Re-running on
    the same snapshot is a no-op — the reference's idempotence, file-based.
    The 10-minute cron loop stays external (Airflow/cron/systemd), exactly
    like the reference's scheduler split.
    """
    import argparse
    import json
    import os

    from ..session import get_spark

    parser = argparse.ArgumentParser(description=run_ingest_cli.__doc__)
    parser.add_argument("--snapshot-json", required=True, help="JSON array of raw station records")
    parser.add_argument("--warehouse", required=True, help="output dir (station_info/ station_status/)")
    args = parser.parse_args(argv)

    spark = get_spark(app_name="youbike-ingest")
    with open(args.snapshot_json, encoding="utf-8") as f:
        records = json.load(f)

    info_path = os.path.join(args.warehouse, "station_info")
    status_path = os.path.join(args.warehouse, "station_status")
    existing_info = (
        spark.read.parquet(info_path) if os.path.exists(info_path) else None
    )
    existing_status = (
        spark.read.parquet(status_path) if os.path.exists(status_path) else None
    )
    new_info, new_status = ingest_snapshot(spark, records, existing_info, existing_status)
    n_info, n_status = new_info.count(), new_status.count()
    if n_info:
        new_info.write.mode("append").parquet(info_path)
    if n_status:
        new_status.write.mode("append").parquet(status_path)
    print(json.dumps({"new_stations": n_info, "new_status_rows": n_status}))
    return 0


if __name__ == "__main__":  # pragma: no cover - exercised via CLI
    raise SystemExit(run_ingest_cli())
