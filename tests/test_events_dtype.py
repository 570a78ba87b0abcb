"""Robustness to the events table's physical ``ts`` type (round-4 fix).

The driver has regenerated ``/root/testdata`` mid-round with a different
parquet physical type for ``events.ts`` (TIMESTAMP(NANOS) -> timestamp[us]),
which silently broke every reader that hardcoded one assumption. These tests
write synthetic events files in BOTH physical encodings and push each through
the batch reader, the streaming reader, and ``sessionize`` — plus a canary
that checks the live testdata footer and fails with a readable message when
the physical schema drifts again.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from youbike_etl_pipeline_spark.operators.windows import sessionize
from youbike_etl_pipeline_spark.sources.readers import read_events
from youbike_etl_pipeline_spark.streaming.ingest import (
    hourly_windowed_counts_stream,
    read_events_stream,
    run_stream_to_memory,
)

# Three users; user 1 has a >30-min gap (2 sessions), user 2 one session,
# user 3 a single event. Timestamps are naive-UTC wall clocks.
_EVENT_ROWS = [
    # (event_id, iso_ts, user_id, event_type, value, props)
    (1, "2024-03-01T10:00:00", 1, "view", 1.0, "{}"),
    (2, "2024-03-01T10:10:00", 1, "view", 2.0, "{}"),
    (3, "2024-03-01T11:30:00", 1, "click", 3.0, "{}"),
    (4, "2024-03-01T10:05:00", 2, "view", 4.0, "{}"),
    (5, "2024-03-01T10:20:00", 2, "buy", 5.0, "{}"),
    (6, "2024-03-02T09:00:00", 3, "view", 6.0, "{}"),
]

EXPECTED_SESSIONS = {1: 2, 2: 1, 3: 1}
EXPECTED_HOURS = 4  # distinct (hour, event_type) pairs: 10:00 view(x2 users
# counted once as a pair), 11:00 click, 10:00 buy, 09:00 view next day


def _write_events(tmpdir: str, unit: str) -> str:
    """Write the synthetic events as events.parquet with ts at ``unit``
    ('us' or 'ns') precision; returns the directory usable as sf_dir."""
    import datetime as dt

    ts = [dt.datetime.fromisoformat(r[1]) for r in _EVENT_ROWS]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in _EVENT_ROWS], pa.int64()),
            "ts": pa.array(ts, pa.timestamp(unit)),
            "user_id": pa.array([r[2] for r in _EVENT_ROWS], pa.int64()),
            "event_type": pa.array([r[3] for r in _EVENT_ROWS], pa.string()),
            "value": pa.array([r[4] for r in _EVENT_ROWS], pa.float64()),
            "props": pa.array([r[5] for r in _EVENT_ROWS], pa.string()),
        }
    )
    path = os.path.join(tmpdir, f"events_{unit}")
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "events.parquet"))
    return path


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_batch_reader_normalizes_ts_to_session_tz_timestamp(spark, tmp_path, unit):
    sf_dir = _write_events(str(tmp_path), unit)
    ev = read_events(spark, sf_dir)
    assert isinstance(ev.schema["ts"].dataType, T.TimestampType), (
        f"read_events must yield session-tz TIMESTAMP, got {ev.schema['ts'].dataType}"
    )
    # epoch-seconds casts (used by w9/w12/KS/etc.) must work and agree with
    # the wall clock interpreted as UTC
    row = ev.filter(F.col("event_id") == 1).select(
        F.col("ts").cast("long").alias("epoch")
    ).collect()[0]
    import datetime as dt

    want = int(dt.datetime(2024, 3, 1, 10, 0, tzinfo=dt.timezone.utc).timestamp())
    assert row["epoch"] == want


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_sessionize_on_both_physical_types(spark, tmp_path, unit):
    sf_dir = _write_events(str(tmp_path), unit)
    ev = read_events(spark, sf_dir)
    sess = sessionize(ev, key="user_id", ts="ts")
    got = {
        r["user_id"]: r["n"]
        for r in sess.groupBy("user_id")
        .agg(F.countDistinct("session_id").alias("n"))
        .collect()
    }
    assert got == EXPECTED_SESSIONS


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_streaming_reader_on_both_physical_types(spark, tmp_path, unit):
    sf_dir = _write_events(str(tmp_path), unit)
    stream = read_events_stream(spark, sf_dir)
    out = run_stream_to_memory(hourly_windowed_counts_stream(stream))
    rows = out.collect()
    assert len(rows) == EXPECTED_HOURS, rows
    # hour keys must be real 2024 wall clocks, not 1970 epoch artifacts
    years = {r["hour_key"].year for r in rows}
    assert years == {2024}, f"timestamps landed in the wrong era: {years}"


def test_testdata_schema_canary(spark, sf_small):
    """Fail LOUDLY (with the drifted column named) if the driver regenerates
    /root/testdata with physical types the engine doesn't handle."""
    import pyarrow.parquet as pq

    footer = pq.read_schema(os.path.join(sf_small, "events.parquet"))
    ts_type = footer.field("ts").type
    handled = {pa.timestamp("us"), pa.timestamp("ns"), pa.int64()}
    assert ts_type in handled, (
        f"SCHEMA DRIFT: events.ts physical type is {ts_type}, not one of "
        f"{sorted(map(str, handled))} — update sources/readers.py::"
        "normalize_event_ts and streaming/ingest.py::read_events_stream"
    )
    expected_cols = {
        "event_id": pa.types.is_integer,
        "ts": lambda t: True,  # checked above
        "user_id": pa.types.is_integer,
        "event_type": pa.types.is_string,
        "value": pa.types.is_floating,
        "props": pa.types.is_string,
    }
    names = set(footer.names)
    for col, pred in expected_cols.items():
        assert col in names, f"SCHEMA DRIFT: events.{col} missing from footer {footer.names}"
        assert pred(footer.field(col).type), (
            f"SCHEMA DRIFT: events.{col} is {footer.field(col).type}"
        )
    # and the batch reader must deliver the normalized contract on live data
    ev = read_events(spark, sf_small)
    assert isinstance(ev.schema["ts"].dataType, T.TimestampType)


def test_documents_embeddings_schema_canary(sf_small):
    """Same loudness for the other engine-assumed physical schemas: the
    text/dedup corpus assumes documents' column types, and the similarity
    corpus assumes embeddings is a list of floating-point values."""
    docs = pq.read_schema(os.path.join(sf_small, "documents.parquet"))
    for col, pred in {
        "doc_id": pa.types.is_integer,
        "text": pa.types.is_string,
        "lang": pa.types.is_string,
        "source": pa.types.is_string,
        "n_chars": pa.types.is_integer,
    }.items():
        assert col in docs.names, f"SCHEMA DRIFT: documents.{col} missing ({docs.names})"
        assert pred(docs.field(col).type), f"SCHEMA DRIFT: documents.{col} is {docs.field(col).type}"
    emb = pq.read_schema(os.path.join(sf_small, "embeddings.parquet"))
    assert "vec_id" in emb.names and "embedding" in emb.names, emb.names
    assert pa.types.is_integer(emb.field("vec_id").type)
    etype = emb.field("embedding").type
    assert pa.types.is_list(etype) and pa.types.is_floating(etype.value_type), (
        f"SCHEMA DRIFT: embeddings.embedding is {etype} — similarity corpus "
        "assumes list<floating>; update functions/arrays.py casts if this moved"
    )
    # the generated hyperplane-bucket SQL (s3, s6, s9) embeds 64
    # per-dimension constants — a regenerated table with a different dim
    # breaks it silently (NULL dots)
    import duckdb

    dims = duckdb.connect().execute(
        f"SELECT DISTINCT len(embedding) FROM read_parquet("
        f"'{os.path.join(sf_small, 'embeddings.parquet')}')"
    ).fetchall()
    assert dims == [(64,)], (
        f"SCHEMA DRIFT: embedding dims {dims} != 64 — regenerate the "
        "hyperplanes in plans/corpus.py::_lsh_planes (the s3/s6/s9 "
        "bucket SQL of _lsh_bucket_sql) and the other "
        "operators/similarity.py::_hyperplanes callers"
    )


def test_star_schema_canary(sf_small):
    """Same loudness for the TPC-H star schema: the corpus's decimal-sum
    discipline assumes the money columns arrive as DOUBLE (a regenerated
    DECIMAL(12,2) lineitem would change Spark's sum types and every
    CAST(... AS DECIMAL(27,6)) oracle), the keys as integers, and the date
    columns as parquet timestamps (not DATE32 — Spark would read DateType
    and every ``< TIMESTAMP`` literal comparison changes type)."""
    expected = {
        "lineitem": {
            "l_orderkey": pa.types.is_integer,
            "l_quantity": pa.types.is_floating,
            "l_extendedprice": pa.types.is_floating,
            "l_discount": pa.types.is_floating,
            "l_tax": pa.types.is_floating,
            "l_returnflag": pa.types.is_string,
            "l_shipdate": pa.types.is_timestamp,
        },
        "orders": {
            "o_orderkey": pa.types.is_integer,
            "o_custkey": pa.types.is_integer,
            "o_totalprice": pa.types.is_floating,
            "o_orderdate": pa.types.is_timestamp,
        },
        "customer": {
            "c_custkey": pa.types.is_integer,
            "c_acctbal": pa.types.is_floating,
            "c_mktsegment": pa.types.is_string,
        },
    }
    for table, cols in expected.items():
        footer = pq.read_schema(os.path.join(sf_small, f"{table}.parquet"))
        for col, pred in cols.items():
            assert col in footer.names, (
                f"SCHEMA DRIFT: {table}.{col} missing ({footer.names})"
            )
            assert pred(footer.field(col).type), (
                f"SCHEMA DRIFT: {table}.{col} is {footer.field(col).type} — "
                "audit the decimal-sum casts and timestamp literals in "
                "plans/corpus.py before trusting any money/date query"
            )
