"""Unit tests for the round-4 training-pipeline operators: context
chunking, vocabulary, TF-IDF, int8 quantization, sequence packing."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from youbike_etl_pipeline_spark.operators.similarity import quantize_int8
from youbike_etl_pipeline_spark.operators.text import (
    chunk_spans,
    pack_sequences,
    tfidf_top_term,
    vocab_topk,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_chunk_spans_boundaries(spark):
    docs = _docs(
        spark,
        [
            (1, " ".join(["w"] * 5)),     # < window: one chunk [0,5)
            (2, " ".join(["w"] * 512)),   # == window: one chunk [0,512)
            (3, " ".join(["w"] * 513)),   # window+1: two chunks
            (4, ""),                      # empty: no rows
            (5, " ".join(["w"] * 1500)),  # ceil((1500-512)/448)+1 = 4 chunks
        ],
    )
    out = chunk_spans(docs, window=512, stride=448)
    got = {
        r["doc_id"]: r["n"]
        for r in out.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == {1: 1, 2: 1, 3: 2, 5: 4}
    spans = {
        (r["doc_id"], r["chunk_idx"]): (r["start_tok"], r["end_tok"])
        for r in out.collect()
    }
    assert spans[(3, 0)] == (0, 512)
    assert spans[(3, 1)] == (448, 513)  # overlap of 64, short tail
    assert spans[(5, 3)] == (1344, 1500)


def test_vocab_topk_order_and_df(spark):
    docs = _docs(spark, [(1, "a a b"), (2, "a b c"), (3, "b z")])
    rows = vocab_topk(docs, k=3).collect()
    assert [(r["tok"], r["tf"], r["df"]) for r in rows] == [
        ("a", 3, 2),
        ("b", 3, 3),
        ("c", 1, 1),
    ]


def test_tfidf_prefers_rare_terms(spark):
    # "common" is in every doc (idf ~ 0); "rare" only in doc 1
    docs = _docs(
        spark,
        [(1, "common rare common"), (2, "common common"), (3, "common x")],
    )
    out = {r["doc_id"]: (r["top_term"], r["score"]) for r in tfidf_top_term(docs).collect()}
    assert out[1][0] == "rare"
    expected = round(1 * math.log((3 + 1) / (1 + 1)), 6)
    assert out[1][1] == pytest.approx(expected, abs=1e-9)


def test_quantize_int8_roundtrip_and_edges(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, -2.0, 4.0]),     # absmax 4 → codes 32, -64, 127
            (2, [0.0, 0.0, 0.0]),      # zero vector → scale 0, zero codes
            (3, [-3.0]),               # single negative → code -127
        ],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in quantize_int8(emb).collect()}
    assert out[1]["q"] == [32, -64, 127]
    assert out[1]["q_sum"] == 32 - 64 + 127
    assert out[1]["q_abs_sum"] == 32 + 64 + 127
    assert out[2]["q"] == [0, 0, 0] and out[2]["scale"] == 0.0
    assert out[3]["q"] == [-127]
    # dequantization error bound: |x - q*scale| <= scale/2 for unclipped
    scale = out[1]["scale"]
    for x, q in zip([1.0, -2.0, 4.0], out[1]["q"]):
        assert abs(x - q * scale) <= scale / 2 + 1e-12


def test_pack_sequences_greedy(spark):
    docs = spark.createDataFrame(
        [
            ("en", 1, 1000),
            ("en", 2, 900),   # fits with 1 (1900)
            ("en", 3, 200),   # 2100 > 2048 → new bin
            ("en", 4, 5000),  # oversize → own bin, truncated to 2048
            ("en", 5, 10),    # 4's bin is full (2048) → new bin
            ("de", 6, 2048),  # exactly capacity
            ("de", 7, 1),     # full bin → next
        ],
        "lang string, doc_id long, n_tok long",
    )
    out = {r["doc_id"]: r for r in pack_sequences(docs).collect()}
    assert (out[1]["bin_idx"], out[1]["offset_in_bin"]) == (0, 0)
    assert (out[2]["bin_idx"], out[2]["offset_in_bin"]) == (0, 1000)
    assert (out[3]["bin_idx"], out[3]["offset_in_bin"]) == (1, 0)
    assert (out[4]["bin_idx"], out[4]["used_tok"]) == (2, 2048)
    assert out[5]["bin_idx"] == 3
    assert (out[6]["bin_idx"], out[7]["bin_idx"]) == (0, 1)


def test_pack_sequences_is_distributed_per_group(spark):
    # plan sanity: one shuffle on the group key, FlatMapGroupsInPandas node
    docs = spark.createDataFrame(
        [("en", i, 100) for i in range(50)] + [("de", 100 + i, 100) for i in range(50)],
        "lang string, doc_id long, n_tok long",
    )
    plan = pack_sequences(docs)._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan


def test_mixture_resample_deterministic_and_capped(spark):
    from youbike_etl_pipeline_spark.operators.text import mixture_resample

    rows = [(i, "en" if i < 800 else "de") for i in range(1000)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    # target: en 50%, de 50% of the mix; de (200 docs of 1000 total) is
    # under-represented -> cap at resolution (keep all); en downsampled
    kept = mixture_resample(docs, {"en": (5, 10), "de": (5, 10)})
    got = {r["lang"]: r for r in kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"), F.max("__thresh").alias("t")).collect()}
    assert got["de"]["t"] == 10000 and got["de"]["n"] == 200
    # en threshold = floor(10000*5*1000/(10*800)) = 6250 -> roughly 62.5% kept
    assert got["en"]["t"] == 6250
    assert 0 < got["en"]["n"] < 800
    # deterministic: same result on re-run
    again = {r["lang"]: r["n"] for r in mixture_resample(docs, {"en": (5, 10), "de": (5, 10)})
             .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert again == {l: got[l]["n"] for l in got}
    # a group absent from the weights is dropped entirely
    docs2 = docs.union(spark.createDataFrame([(5000, "xx")], "doc_id long, lang string"))
    kept2 = mixture_resample(docs2, {"en": (5, 10), "de": (5, 10)})
    assert kept2.filter(F.col("lang") == "xx").count() == 0


def test_wav_roundtrip_and_decode_gates():
    import numpy as np
    import pytest as _pt

    from youbike_etl_pipeline_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
        md5_samples,
    )

    x = md5_samples(42, 256)
    rate, back = decode_wav(encode_wav(x, rate=8000))
    assert rate == 8000 and np.array_equal(back, x)
    # edge samples survive (two's-complement boundaries)
    edge = np.array([-32768, 32767, 0, -1, 1], dtype=np.int16)
    _, back2 = decode_wav(encode_wav(edge))
    assert np.array_equal(back2, edge)
    with _pt.raises(ValueError):
        decode_wav(b"nonsense")
    # malformed-combination gate: format 3 (IEEE float) with 16-bit
    # samples is not a real format — float decode needs 32/64 bits
    payload = bytearray(encode_wav(x))
    payload[20:22] = (3).to_bytes(2, "little")
    with _pt.raises(NotImplementedError):
        decode_wav(bytes(payload))


def test_round6_dedup_review_regressions(spark):
    """Round-6 self-review regression pack for the dedup/similarity family:
    (1) knn_label_consistency's collapse groups on the (vector, label)
    column pair, so a label containing a comma cannot collide with another
    row's serialized form; (2) levenshtein's max_block_size gates the
    intra-group expansion — a duplicate group whose representative was
    capped out of the block emits NO pairs; (3) the streaming near-dup
    gate rejects band counts that would produce empty band keys (a
    universal-collision n² cross product) before any Spark job."""
    import pyspark.sql.functions as F
    import pytest as _pt

    from youbike_etl_pipeline_spark.operators.dedup import (
        levenshtein_blocked_pairs,
    )
    from youbike_etl_pipeline_spark.operators.similarity import (
        knn_label_consistency,
    )
    from youbike_etl_pipeline_spark.streaming.ingest import (
        neardup_gate_foreach_batch,
    )

    # (1) comma-injection: [0.5, 0.25]/'x' vs [0.5]/'0.25,x' must NOT
    # collapse together (the old concat_ws md5 key made them identical)
    emb = spark.createDataFrame(
        [
            (0, [0.5, 0.25], "x"),
            (5, [0.5, 0.25], "x"),       # true duplicate of 0 — collapses
            (10, [0.5, 0.25], "0.25,x"),  # same vector, crafted label
            (15, [1.0, 0.0], "x"),
        ],
        "vec_id long, embedding array<float>, label string",
    )
    out = knn_label_consistency(
        emb, k=1, ann_bits=None, exact_dedup_first=True
    )
    n_vecs = {r["label"]: r["n_vecs"] for r in out.collect()}
    # reps: 0 (x), 10 (crafted), 15 (x) — the crafted-label row survives
    assert n_vecs.get("0.25,x") == 1
    assert n_vecs.get("x") == 2

    # (2) cap + collapse: one block where the duplicate group's rep ranks
    # past the cap — its members may not re-enter via intra pairs
    docs = spark.createDataFrame(
        [
            (1, "en", "aaaa"),  # rank 1 under (prefix, id)
            (2, "en", "bbbb"),  # rank 2 — capped out (max_block_size=1)
            (3, "en", "bbbb"),  # duplicate of 2, collapses to rep 2
        ],
        "doc_id long, lang string, text string",
    )
    pairs = levenshtein_blocked_pairs(
        docs, prefix_len=4,
        exact_dedup_first=True, max_block_size=1,
    ).collect()
    assert pairs == []  # rep 2 never paired, so (2,3) must not appear

    # (3) ragged/empty bands fail loud, before any job or stream starts
    stream = (
        spark.readStream.format("rate")
        .load()
        .selectExpr("value AS doc_id", "'en' AS lang", "'aaaa' AS text")
    )
    sc = spark.sparkContext
    sc.setJobGroup("round6-gate-bands", "ragged bands")
    try:
        with _pt.raises(ValueError, match="evenly divide"):
            neardup_gate_foreach_batch(stream, docs, [], bands=64)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("round6-gate-bands")) == []
    assert not spark.streams.active


# ------------------------------------------------ round 10: paragraph dedup


def test_paragraph_dedup_stats_semantics(spark):
    """First-owner survivorship at paragraph grain: an instance is a
    duplicate iff a LOWER-id document carries the same line; empty
    lines and NULL texts contribute nothing."""
    from youbike_etl_pipeline_spark.operators.dedup import (
        paragraph_dedup_stats,
    )

    df = spark.createDataFrame(
        [
            (1, "alpha\nshared footer\n\nunique one"),
            (2, "beta\nshared footer"),
            (3, "shared footer\nbeta"),
            (4, None),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in paragraph_dedup_stats(df).collect()}
    assert set(rows) == {1, 2, 3}  # NULL/empty docs have no paragraphs
    assert (rows[1]["n_paras"], rows[1]["n_dup"]) == (3, 0)
    assert (rows[2]["n_paras"], rows[2]["n_dup"]) == (2, 1)
    # doc 3 duplicates BOTH lines (footer owned by 1, 'beta' by 2)
    assert (rows[3]["n_paras"], rows[3]["n_dup"]) == (2, 2)
    assert rows[3]["dup_ratio"] == 1.0


def test_paragraph_dedup_join_routing(spark, sf_small):
    """The owner join's strategy is the planner's: on t54's fixture, where
    the owner table is vocabulary-like, it broadcasts the owners."""
    from youbike_etl_pipeline_spark.plans.corpus import CORPUS
    from youbike_etl_pipeline_spark.plans.executed import executed_plans, operator_counts

    plans = executed_plans(
        spark, lambda: CORPUS["t54_paragraph_dedup"].fn(spark, sf_small).collect()
    )
    ops = operator_counts(plans)
    assert ops["BroadcastHashJoin"] >= 1 and not ops["SortMergeJoin"], ops
