"""Structured Streaming ingest — the reference's micro-batch semantics
re-expressed (SURVEY §2.8).

The reference is cron-driven micro-batching: fetch every 10 minutes, dedup
on (station_no, record_time) via a DB unique key, insert-if-absent dims
(``dags/youbike_dag.py:135``, ``sql/init_schema.sql:17``,
``etl_job.py:121-132``). The Spark mapping:

- trigger: ``availableNow`` for catch-up runs / ``processingTime`` for the
  10-minute cadence;
- idempotent dedup: ``withWatermark + dropDuplicates`` on the natural key
  (watermark bounds state — late data beyond the horizon is dropped, which
  the unique key also did implicitly);
- dim upsert: anti-join-append inside ``foreachBatch`` (at-least-once on
  dims, accepted — SURVEY §7 risk register);
- failure: checkpointing replaces Airflow's retry — restart resumes from
  the last committed offset.

For local verification, parquet-directory sources + a memory sink driven by
``processAllAvailable`` make a streaming query complete synchronously over a
finite input (same pattern as the public Spark docs).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..sources.writers import append_dedup


def _table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Stream one table out of a multi-table directory.

    The stream source needs a declared schema; it is the batch footer's
    (``spark.read.parquet(...).schema``), so a change of physical type in
    the shipped files reaches the stream the same way it reaches a batch
    read. Both physical layouts the table ships in work: a single
    ``<name>`` file directly in ``sf_dir`` (the driver's testdata — needs a
    ``pathGlobFilter`` since the file source takes a directory), and a
    ``<name>/part-*.parquet`` directory (synthetic blow-ups, any real
    warehouse) — where a glob on the leaf filename matches NOTHING and the
    stream silently reads zero files (caught by the 1000× probe: st1
    "processed" 100M events in 0.3 s)."""
    import os

    path = os.path.join(sf_dir, name)
    reader = spark.readStream.schema(spark.read.parquet(path).schema).format("parquet")
    if os.path.isdir(path):
        return reader.load(path)
    return reader.option("pathGlobFilter", name).load(sf_dir)


def _drain(writer: DataStreamWriter) -> None:
    """Run a finite-source streaming query to completion, then stop it
    (also when a micro-batch fails)."""
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events table (parquet-directory source).

    The testdata has shipped ``ts`` both as TIMESTAMP(NANOS) (reads as long
    under ``nanosAsLong``) and as ``timestamp[us]`` (reads as
    TIMESTAMP_NTZ); ``normalize_event_ts`` branches on the footer type
    exactly like the batch reader, so both arrive as session-tz
    TIMESTAMP."""
    from ..sources.readers import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = _table_stream(spark, sf_dir, "events.parquet")
    return raw.withColumn("ts", normalize_event_ts(raw.schema["ts"].dataType))


def drift_partials_foreach_batch(stream_emb: DataFrame, sink: list) -> None:
    """Streaming embedding-drift accumulator: per micro-batch, reduce the
    batch's vectors to per-dimension MERGEABLE partials — (dim, count,
    Σ floor(x·10⁶) as int64) — and append them to ``sink`` (the list
    stand-in for a metrics store). Integer partials merge exactly across
    any micro-batch split, so the final per-dim means equal the batch
    computation bit-for-bit — the property the graded query proves against
    the static oracle. The per-batch reduction is one explode + one
    64-group aggregation; state never grows with the stream (64 rows per
    batch)."""
    from pyspark.sql import functions as SF

    def handle(batch: DataFrame, epoch_id: int) -> None:
        partials = (
            batch.filter(SF.col("embedding").isNotNull())
            .select(SF.posexplode("embedding").alias("p", "xf"))
            .select(
                (SF.col("p") + 1).alias("d"),
                SF.floor(SF.col("xf").cast("double") * 1000000).cast("long").alias("xi"),
            )
            .groupBy("d")
            .agg(SF.count(SF.lit(1)).alias("cnt"), SF.sum("xi").alias("sxi"))
        )
        sink.append((epoch_id, partials.collect()))

    _drain(stream_emb.writeStream.foreachBatch(handle).outputMode("append"))


def hll_partials_foreach_batch(stream_events: DataFrame, sink: list) -> None:
    """Streaming distinct-count sketch: per micro-batch, reduce the batch to
    HLL register maxima — (group, reg, maxrho) — and append them to
    ``sink`` (the list stand-in for a sketch store). Register maxima are
    MERGEABLE: max-merging partials from any micro-batch split reproduces
    the batch-global register frame exactly, so the streaming estimate
    equals the batch estimate bit-for-bit (the property the graded twin
    st11 proves against t45's oracle). State per batch is ≤ 256 rows per
    group — never grows with the stream."""
    from ..operators.sketches import hll_register_frame

    def handle(batch: DataFrame, epoch_id: int) -> None:
        regs = hll_register_frame(
            batch.filter(F.col("user_id").isNotNull()),
            ["event_type"],
            F.col("user_id"),
        )
        sink.append((epoch_id, regs.collect()))

    _drain(stream_events.writeStream.foreachBatch(handle).outputMode("append"))


def neardup_gate_foreach_batch(
    stream_docs: DataFrame,
    static_docs: DataFrame,
    sink: list,
    bands: int = 8,
) -> None:
    """Streaming near-dup ingestion gate — the filter a training pipeline
    runs on every incoming crawl batch against the EXISTING corpus
    ``static_docs``: per micro-batch, build the portable MinHash features
    of the batch docs (per-document properties, so the per-batch
    computation equals the batch-global one regardless of how the stream
    is split), banded-equi-join them against the static corpus's bands for
    candidates, verify candidates with exact Jaccard ≥ 0.5 on the
    shingle-hash sets, and emit (doc_id, lang, is_dup) rows. Stateless per batch (no
    watermark state); the static features are built and checkpointed once,
    before the stream starts. ``sink`` is the list stand-in for a
    Delta/JDBC append, same as :func:`upsert_foreach_batch`."""
    from ..operators.dedup import (
        _banded_from_signature,
        _check_bands,
        _jaccard_verify,
        _portable_features,
    )
    from ..operators.skew import materialize

    _check_bands(bands)
    static = materialize(_portable_features(static_docs))
    s_banded = _banded_from_signature(static, bands).toDF(
        "id_b", "band_idx", "band_key"
    )
    s_sets = static.select("doc_id", "shs")

    def handle(batch: DataFrame, epoch_id: int) -> None:
        # micro-batches are small: no widening shuffle and no checkpoint,
        # which would be held until release and grow with the stream
        feat = _portable_features(batch, widen=False)
        cands = (
            _banded_from_signature(feat, bands)
            .toDF("id_a", "band_idx", "band_key")
            .join(s_banded, ["band_idx", "band_key"])
            .select("id_a", "id_b")
            .distinct()
        )
        dup_ids = (
            _jaccard_verify(cands, feat.select("doc_id", "shs"), s_sets, 0.5)
            .select(F.col("id_a").alias("doc_id"))
            .distinct()
        )
        flagged = batch.select("doc_id", "lang").join(
            dup_ids.withColumn("is_dup", F.lit(True)), "doc_id", "left"
        )
        sink.append((epoch_id, flagged.collect()))

    _drain(stream_docs.writeStream.foreachBatch(handle).outputMode("append"))


def hourly_windowed_counts_stream(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour windowed counts per event type (J2/W4 streaming twin).
    Watermark bounds state; complete output mode emits every window."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("hour_key"), "event_type", "n")
    )


def sliding_windowed_counts_stream(events: DataFrame) -> DataFrame:
    """Hopping (sliding) 2-hour windows every 1 hour: each event lands in
    exactly two overlapping windows. The watermark bounds state for both
    open hops at once — the multi-assignment is Spark's window() expansion,
    not a self-union, so the input is still read once."""
    return (
        events.withWatermark("ts", "3 hours")
        .groupBy(
            F.window("ts", "2 hours", "1 hour").alias("win"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n")
    )


def stream_dedup_counts(events: DataFrame) -> DataFrame:
    """Streaming exactly-once-ish dedup (S8 twin): dropDuplicates on the
    natural key, then per-type distinct-user counts."""
    return (
        events.withWatermark("ts", "24 hours")
        .dropDuplicates(["user_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def run_stream_to_memory(df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Run a (finite-source) streaming query to completion into a memory
    sink and return the result as a batch DataFrame."""
    qname = f"stream_{uuid.uuid4().hex[:8]}"
    _drain(df.writeStream.outputMode(output_mode).format("memory").queryName(qname))
    return df.sparkSession.table(qname)


def upsert_foreach_batch(
    stream: DataFrame,
    existing_keys: DataFrame,
    key_cols: list[str],
    sink: list,
) -> None:
    """foreachBatch anti-join upsert (S9 streaming twin): per micro-batch,
    the batch pipeline's :func:`append_dedup` against the
    existing keys, with the remainder appended to ``sink`` (a list stand-in
    for the JDBC/Delta writer)."""

    def handle(batch: DataFrame, epoch_id: int) -> None:
        sink.append((epoch_id, append_dedup(batch, existing_keys, key_cols).collect()))

    _drain(stream.writeStream.foreachBatch(handle).outputMode("append"))


def countmin_partials_foreach_batch(stream_events: DataFrame, sink: list) -> None:
    """Streaming Count-Min partials: per micro-batch, reduce the batch's
    item keys to sketch-cell counts — (j, bucket, cnt) for j in 1..3 over 32 buckets —
    and append them to ``sink`` (the list stand-in for a metrics store).
    Cell counts are MERGEABLE by plain addition, so summing partials from
    any micro-batch split reproduces the batch-global sketch exactly (the
    property the graded twin st12 proves against a23's oracle). State per
    batch is <= 3 x 32 cells — never grows with the stream."""
    from ..operators.dedup import md5_token_hash64

    def handle(batch: DataFrame, epoch_id: int) -> None:
        item = F.try_variant_get(F.try_parse_json("props"), "$.k", "int")
        it = batch.select(item.alias("item")).filter(F.col("item").isNotNull())
        # count per distinct item FIRST, then hash each item once and
        # count-weight the cells — identical to hashing every occurrence
        # (cell count = Σ item counts hashing into it) with the md5 cost
        # cut from rows×|batch| to rows×|distinct items| (a23 does the
        # same; the merge-by-addition property is untouched)
        per_item = it.groupBy("item").agg(F.count(F.lit(1)).alias("n"))
        hashed = per_item.select(
            "n",
            F.explode(F.array(*[F.lit(j) for j in range(1, 4)])).alias("j"),
            F.col("item"),
        ).select(
            "n",
            "j",
            F.pmod(
                md5_token_hash64(F.concat_ws(":", F.col("j"), F.col("item"))),
                F.lit(32),
            )
            .cast("long")
            .alias("bucket"),
        )
        cells = hashed.groupBy("j", "bucket").agg(F.sum("n").alias("cnt"))
        sink.append((epoch_id, cells.collect()))

    _drain(stream_events.writeStream.foreachBatch(handle).outputMode("append"))
