"""Explicit schemas — no inference in production paths.

The reference validates schema at ETL time with a required-column check that
raises ``KeyError`` on missing fields (reference ``etl_job.py:89-97``,
``dags/youbike_dag.py:84-91``) and otherwise lets pandas infer. The Spark
engine declares every schema up front (``StructType``) and keeps the same
fail-fast required-column contract (``sources.http.snapshot_to_df`` checks
:data:`RAW_REQUIRED_COLUMNS` on the raw records).

Station ids stay **strings** deliberately — the reference casts join keys with
``astype(str)`` everywhere to avoid type drift (``notebooks/03_data_merge.ipynb:L71-L72``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Reference-domain schemas (FIXTURES.md §A)
# --------------------------------------------------------------------------

#: Raw API record, one JSON object per station snapshot
#: (reference ``tests/test_etl.py:33-45``; contract ``etl_job.py:89-97``).
RAW_STATION_SNAPSHOT = T.StructType(
    [
        T.StructField("sno", T.StringType(), False),
        T.StructField("sna", T.StringType(), True),
        T.StructField("sarea", T.StringType(), True),
        T.StructField("latitude", T.DoubleType(), True),
        T.StructField("longitude", T.DoubleType(), True),
        T.StructField("Quantity", T.IntegerType(), True),
        T.StructField("available_rent_bikes", T.IntegerType(), True),
        T.StructField("available_return_bikes", T.IntegerType(), True),
        T.StructField("srcUpdateTime", T.StringType(), True),
    ]
)

#: Required raw columns — missing any of these fails the batch
#: (reference ``etl_job.py:89-97``).
RAW_REQUIRED_COLUMNS = [
    "sno",
    "sna",
    "sarea",
    "latitude",
    "longitude",
    "Quantity",
    "available_rent_bikes",
    "available_return_bikes",
    "srcUpdateTime",
]

#: Dimension table (reference ``sql/init_schema.sql:1-9``).
STATION_INFO = T.StructType(
    [
        T.StructField("station_no", T.StringType(), False),
        T.StructField("name_tw", T.StringType(), True),
        T.StructField("district", T.StringType(), True),
        T.StructField("lat", T.DecimalType(10, 7), True),
        T.StructField("lng", T.DecimalType(10, 7), True),
        T.StructField("total_spaces", T.IntegerType(), True),
    ]
)

#: Append-only fact table (reference ``sql/init_schema.sql:11-20``); the DB
#: surrogate id is replaced by the natural dedup key (station_no, record_time).
STATION_STATUS = T.StructType(
    [
        T.StructField("station_no", T.StringType(), False),
        T.StructField("bikes_available", T.IntegerType(), True),
        T.StructField("spaces_available", T.IntegerType(), True),
        T.StructField("record_time", T.TimestampType(), False),
    ]
)

#: Raw hourly weather payload, one row per hour of the Open-Meteo-style
#: dict-of-lists (``time`` string, ``temperature_2m``, ``precipitation``).
WEATHER_RAW_HOURLY = T.StructType(
    [
        T.StructField("record_time", T.StringType(), True),
        T.StructField("temperature", T.DoubleType(), True),
        T.StructField("rain", T.DoubleType(), True),
    ]
)

#: Hourly weather series (reference ``notebooks/02_weather_etl.ipynb:L199-L206``).
WEATHER_HOURLY = T.StructType(
    [
        T.StructField("record_time", T.TimestampType(), False),
        T.StructField("temperature", T.DoubleType(), True),
        T.StructField("rain", T.DoubleType(), True),
    ]
)

#: Spatial point set for the nearest-neighbor join
#: (reference ``notebooks/01_youbike_analysis.ipynb:L51,L55-L61``).
MRT_STATIONS = T.StructType(
    [
        T.StructField("station_name", T.StringType(), False),
        T.StructField("lat", T.DoubleType(), False),
        T.StructField("lng", T.DoubleType(), False),
    ]
)

# --------------------------------------------------------------------------
# Driver testdata tables (TESTDATA.md / FIXTURES.md §B)
# --------------------------------------------------------------------------

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
