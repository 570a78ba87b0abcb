"""Streaming failure semantics (SURVEY §2.8): restart from checkpoint
resumes at the committed offset — already-processed files are not reprocessed,
newly arrived files are."""

from __future__ import annotations

from pyspark.sql import functions as F

from youbike_etl_pipeline_spark.sources.readers import read_events


def _write_slice(ev, lo, hi, path):
    ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi)).withColumn(
        "ts", F.col("ts").cast("long")
    ).write.mode("overwrite").parquet(path)


def test_checkpoint_restart_processes_each_file_once(spark, sf_small, tmp_path):
    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    out_rows: list = []

    ev = read_events(spark, sf_small)
    # stage 1: first file arrives
    _write_slice(ev, 0, 400, f"{src}/batch1")
    schema = "event_id long, ts long, user_id long, event_type string, value double, props string"

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        counts = stream.groupBy(F.lit(1).alias("one")).agg(
            F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("id_sum")
        )
        q = (
            counts.writeStream.outputMode("complete")
            .format("memory")
            .queryName("recovery_out")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return spark.table("recovery_out").collect()

    first = run_once()
    n1 = first[0]["n"]
    assert n1 == ev.filter(F.col("event_id") < 400).count()

    # stage 2: a new file arrives while the stream is down; restart resumes
    # from the checkpoint and processes ONLY what's new (complete-mode counts
    # reflect total state, which would double if batch1 were re-read)
    _write_slice(ev, 400, 10**9, f"{src}/batch2")
    second = run_once()
    n2 = second[0]["n"]
    assert n2 == ev.count()  # exactly once: 400-slice not double-counted
    assert second[0]["id_sum"] == ev.agg(F.sum("event_id")).collect()[0][0]


def test_foreach_batch_upsert_two_epochs(spark, sf_small, tmp_path):
    """S9 streaming twin: dims arriving across micro-batches are inserted
    exactly once (anti-join against existing keys inside foreachBatch)."""
    from youbike_etl_pipeline_spark.streaming.ingest import upsert_foreach_batch

    ev = read_events(spark, sf_small)
    src = str(tmp_path / "dims")
    # two files -> two micro-batches with maxFilesPerTrigger=1; overlapping keys
    ev.filter(F.col("user_id") < 30).select("user_id", "event_type").distinct().write.mode(
        "overwrite"
    ).parquet(f"{src}/f1")
    ev.filter((F.col("user_id") >= 20) & (F.col("user_id") < 50)).select(
        "user_id", "event_type"
    ).distinct().write.mode("overwrite").parquet(f"{src}/f2")

    stream = (
        spark.readStream.schema("user_id long, event_type string")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    existing = spark.createDataFrame([(0,), (1,)], "user_id long")  # pre-loaded keys
    sink: list = []
    upsert_foreach_batch(stream, existing, key_cols=["user_id"], sink=sink)

    assert len(sink) >= 2  # multiple epochs observed
    inserted: dict[int, int] = {}
    for _, rows in sink:
        for r in rows:
            inserted[r["user_id"]] = inserted.get(r["user_id"], 0) + 1
    # pre-existing keys never inserted
    assert 0 not in inserted and 1 not in inserted
    # NOTE: each epoch anti-joins the same static `existing` frame, so keys
    # arriving in BOTH files insert once per epoch — at-least-once on dims,
    # exactly the SURVEY §7 documented tradeoff. Keys unique to one file
    # insert exactly once.
    only_first = {u for u in inserted if u < 20}
    assert all(inserted[u] == 1 for u in only_first)


def test_streaming_drift_partials_split_invariant(spark, sf_small, tmp_path):
    """st10's core claim: the per-dim drift partials merge EXACTLY across
    any micro-batch split. Stream the 'new' embeddings half as three files
    with maxFilesPerTrigger=1 (three micro-batches), merge the integer
    partials, and require the per-dim means to equal the one-batch
    computation bit-for-bit."""
    import os

    from pyspark.sql import functions as SF

    from youbike_etl_pipeline_spark.streaming.ingest import (
        drift_partials_foreach_batch,
    )

    emb = spark.read.parquet(os.path.join(sf_small, "embeddings.parquet")).filter(
        SF.col("embedding").isNotNull() & (SF.col("vec_id") % 2 == 1)
    )
    src = str(tmp_path / "emb_slices")
    for i in range(3):
        emb.filter(SF.col("vec_id") % 3 == i).write.mode("overwrite").parquet(
            f"{src}/slice{i}"
        )
    stream = (
        spark.readStream.schema(emb.schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sink: list = []
    drift_partials_foreach_batch(stream, sink)
    assert len(sink) >= 3  # genuinely split into multiple micro-batches

    rows = [r for _, batch in sink for r in batch]
    merged = (
        spark.createDataFrame(rows, schema="d long, cnt long, sxi long")
        .groupBy("d")
        .agg(SF.sum("cnt").alias("cnt"), SF.sum("sxi").alias("sxi"))
    )
    one_shot = (
        emb.select(SF.posexplode("embedding").alias("p", "xf"))
        .select(
            (SF.col("p") + 1).alias("d"),
            SF.floor(SF.col("xf").cast("double") * 1000000).cast("long").alias("xi"),
        )
        .groupBy("d")
        .agg(SF.count(SF.lit(1)).alias("cnt"), SF.sum("xi").alias("sxi"))
    )
    got = {r["d"]: (r["cnt"], r["sxi"]) for r in merged.collect()}
    want = {r["d"]: (r["cnt"], r["sxi"]) for r in one_shot.collect()}
    assert got == want


def test_streaming_media_decode_matches_batch(spark, tmp_path):
    """Round-8: the stateless decode pipeline inside micro-batches must
    equal the batch path row-for-row even when the source arrives as
    MULTIPLE files (several micro-batches), and survive a restart from
    a checkpoint without duplicating rows (append mode, exactly-once
    file source)."""
    import os

    from pyspark.sql import functions as F

    from youbike_etl_pipeline_spark.operators.multimodal import (
        attach_wav_payloads,
        decode_audio_features,
    )
    from youbike_etl_pipeline_spark.streaming.ingest import (
        _table_stream,
        run_stream_to_memory,
    )

    src = tmp_path / "documents.parquet"
    os.makedirs(src, exist_ok=True)
    rows = [(i, f"doc {i}", "en", "src0", 5) for i in range(0, 60, 10)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    # three files -> three micro-batches through the file source
    for k in range(3):
        df.filter(F.col("doc_id") % 30 == k * 10).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    stream = _table_stream(spark, str(tmp_path), "documents.parquet")
    feats = decode_audio_features(attach_wav_payloads(stream))
    got = run_stream_to_memory(feats, output_mode="append").collect()
    batch = decode_audio_features(
        attach_wav_payloads(spark.read.parquet(str(src)))
    ).collect()
    assert sorted(map(str, got)) == sorted(map(str, batch))
    assert len(got) == 6
