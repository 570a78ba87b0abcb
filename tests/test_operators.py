"""Operator-level tests: pandas-equivalence for the window fills, as-of join
vs merge_asof, recall of the approximate dedup/similarity paths against their
exact counterparts, and the multimodal/ML contracts."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from youbike_etl_pipeline_spark.operators.dedup import (
    minhash_lsh_dedup_portable,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from youbike_etl_pipeline_spark.operators.joins import asof_join
from youbike_etl_pipeline_spark.operators.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    lsh_near_dup_pairs,
)
from youbike_etl_pipeline_spark.operators.windows import (
    bfill,
    ffill,
    interpolate_linear,
    sequence_windows,
)


def test_interpolate_matches_pandas(spark):
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 6 + ["b"] * 4,
            "t": list(range(6)) + list(range(4)),
            "v": [None, 1.0, None, None, 7.0, None, None, 2.0, 4.0, None],
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        interpolate_linear(df, key="k", ts="t", cols=["v"])
        .orderBy("k", "t")
        .toPandas()["v"]
        .tolist()
    )
    expected = (
        pdf.groupby("k")["v"]
        .transform(lambda x: x.interpolate("linear").ffill().bfill())
        .tolist()
    )
    assert got == pytest.approx(expected)


def test_ffill_bfill_match_pandas(spark):
    pdf = pd.DataFrame(
        {"k": ["a"] * 5, "t": range(5), "v": [None, 2.0, None, 3.0, None]}
    )
    df = spark.createDataFrame(pdf)
    got_f = ffill(df, "k", "t", ["v"]).orderBy("t").toPandas()["v"].tolist()
    got_b = bfill(df, "k", "t", ["v"]).orderBy("t").toPandas()["v"].tolist()
    assert got_f == pytest.approx(pdf["v"].ffill().tolist(), nan_ok=True)
    assert got_b == pytest.approx(pdf["v"].bfill().tolist(), nan_ok=True)


def test_asof_join_matches_merge_asof(spark):
    left = pd.DataFrame(
        {"k": ["a"] * 4 + ["b"] * 3, "t": [1, 3, 5, 7, 2, 4, 6], "x": range(7)}
    )
    right = pd.DataFrame({"k": ["a", "a", "b"], "t": [2, 5, 4], "r": [10.0, 20.0, 30.0]})
    got = (
        asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right.rename(columns={"t": "rt"})),
            on="k",
            left_ts="t",
            right_ts="rt",
            right_values=["r"],
        )
        .orderBy("k", "t")
        .toPandas()
    )
    expected = pd.merge_asof(
        left.sort_values("t"), right.sort_values("t"), on="t", by="k"
    ).sort_values(["k", "t"])
    assert got["r"].tolist() == pytest.approx(expected["r"].tolist(), nan_ok=True)


def test_sequence_windows_shape(spark):
    df = spark.createDataFrame(
        [("a", i, float(i)) for i in range(5)], "k string, t int, value double"
    )
    seq = sequence_windows(df, key="k", ts="t", feature_cols=["value"])
    rows = seq.orderBy("t").collect()
    assert len(rows) == 2  # t=3 and t=4 have full 3-step history
    assert [s["value"] for s in rows[0]["sequence"]] == [0.0, 1.0, 2.0]


def test_minhash_lsh_recall_vs_exact(spark, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_dedup_portable(docs).collect()
    }
    # verification step makes approx ⊆ exact; banding should recover most
    assert approx.issubset(exact)
    if exact:
        assert len(approx) / len(exact) >= 0.8, (len(approx), len(exact))


def test_simhash_runs_and_is_symmetric_free(spark, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    pairs = simhash_pairs(docs, max_hamming=16).collect()
    assert all(r["id_a"] < r["id_b"] for r in pairs)


def test_blocked_all_pairs_matches_blas(spark, sf_small):
    """The distributed (no-collect) exact path returns the same pair set and
    cosines as the broadcast BLAS path."""
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    blas = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_pairs(emb, threshold=0.3, method="blas").collect()
    }
    blocked = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_pairs(
            emb, threshold=0.3, method="blocked"
        ).collect()
    }
    assert set(blas) == set(blocked)
    for k, v in blas.items():
        assert blocked[k] == pytest.approx(v, abs=1e-12)


def test_auto_routes_large_tables_away_from_collect(spark, sf_small):
    """method='auto' must not collect a table larger than the broadcast cap."""
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    out = embedding_near_dup_pairs(emb, threshold=0.3, max_broadcast_rows=1)
    # plan should be the blocked applyInPandas (FlatMapGroupsInPandas), not
    # a mapInPandas over a driver-collected broadcast
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    rows = {(r["id_a"], r["id_b"]) for r in out.collect()}
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(emb, threshold=0.3, method="blas").collect()
    }
    assert rows == exact


def test_lsh_near_dup_subset_of_exact(spark, sf_small):
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(emb, threshold=0.3).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in lsh_near_dup_pairs(emb, dim=64, threshold=0.3, bits=4).collect()
    }
    assert approx.issubset(exact)


def test_cosine_topk_self_similarity(spark, sf_small):
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    top = cosine_topk(emb, q, k=1).collect()
    assert top[0]["vec_id"] == 0 and top[0]["cosine"] == pytest.approx(1.0)


def test_real_ppm_bmp_decode_roundtrip():
    """Pure-numpy PPM/BMP decode: encode a known image, decode it back,
    and check exact pixel + feature values — no codec library involved."""
    import numpy as np

    from youbike_etl_pipeline_spark.operators.multimodal import (
        _real_feature,
        decode_bmp,
        decode_image,
        decode_ppm,
        encode_ppm,
    )

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (5, 7, 3), dtype=np.uint8)
    assert (decode_ppm(encode_ppm(img)) == img).all()
    assert (decode_image(encode_ppm(img)) == img).all()

    # hand-built 24-bit BMP (2x2, bottom-up, padded rows)
    import struct as _s

    px = {  # (row, col) -> RGB
        (0, 0): (255, 0, 0), (0, 1): (0, 255, 0),
        (1, 0): (0, 0, 255), (1, 1): (10, 20, 30),
    }
    row_bytes = (2 * 3 + 3) & ~3  # 8
    pixel_data = b""
    for r in (1, 0):  # bottom-up storage
        row = b""
        for c in (0, 1):
            rgb = px[(r, c)]
            row += bytes([rgb[2], rgb[1], rgb[0]])  # BGR on disk
        pixel_data += row + b"\x00" * (row_bytes - len(row))
    header = b"BM" + _s.pack("<IHHI", 54 + len(pixel_data), 0, 0, 54)
    header += _s.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(pixel_data), 0, 0, 0, 0)
    bmp = header + pixel_data
    out = decode_bmp(bmp)
    for (r, c), rgb in px.items():
        assert tuple(out[r, c]) == rgb

    feats = _real_feature(img)
    assert feats[0] == 7.0 and feats[1] == 5.0  # width, height
    assert feats[2] == pytest.approx(float(img[:, :, 0].mean()))
    assert len(feats) == 8


def test_decode_image_features_real_path_in_spark(spark):
    """PPM payloads flow through the distributed decode and produce exact
    per-channel statistics; unknown payloads still use the fake path."""
    import numpy as np

    from youbike_etl_pipeline_spark.operators.multimodal import (
        _real_feature,
        decode_image_features,
        encode_ppm,
    )

    rng = np.random.default_rng(11)
    imgs = {i: rng.integers(0, 256, (4, 6, 3), dtype=np.uint8) for i in range(6)}
    rows = [(i, bytearray(encode_ppm(img))) for i, img in imgs.items()]
    rows.append((99, bytearray(b"not an image at all")))
    df = spark.createDataFrame(rows, "doc_id long, payload binary").repartition(3)
    got = {r["doc_id"]: r["feature"] for r in decode_image_features(df).collect()}
    for i, img in imgs.items():
        assert got[i] == pytest.approx(_real_feature(img), abs=0.0)
    assert len(got[99]) == 8  # fake fallback, schema-compatible


def test_decode_features_png_magic_nonstrict_degrades(spark):
    """A compressed-format payload (PNG magic) must NOT crash the job when
    strict=False: decode_image raises NotImplementedError, and the wrapper
    degrades to the deterministic fake (round-2 advice)."""
    from youbike_etl_pipeline_spark.operators.multimodal import (
        decode_image_features,
    )

    png = bytearray(b"\x89PNG\r\n\x1a\n" + b"\x00" * 32)
    jpg = bytearray(b"\xff\xd8\xff\xe0" + b"\x00" * 32)
    df = spark.createDataFrame(
        [(1, png), (2, jpg)], "doc_id long, payload binary"
    )
    got = decode_image_features(df).collect()  # strict=False default
    assert len(got) == 2 and all(len(r["feature"]) == 8 for r in got)
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        decode_image_features(df, strict=True).collect()


def test_multimodal_strict_stub_raises(spark, sf_small):
    from youbike_etl_pipeline_spark.operators.multimodal import (
        attach_media_columns,
        decode_image_features,
        sample_frames,
    )

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(5)
    media = attach_media_columns(docs)
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        decode_image_features(media, strict=True).collect()
    feats = decode_image_features(media).collect()
    assert len(feats) == 5 and all(len(r["feature"]) == 8 for r in feats)
    frames = sample_frames(media).collect()
    assert len(frames) >= 5 and {"doc_id", "frame_idx", "frame_bytes"} == set(
        frames[0].asDict().keys()
    )


def test_ivf_topk_recall_vs_exact(spark, sf_small):
    from youbike_etl_pipeline_spark.operators.similarity import cosine_topk, ivf_topk

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    base = emb.filter(F.col("vec_id") != 0)
    exact = [r["vec_id"] for r in cosine_topk(base, q, k=10).collect()]
    approx = [r["vec_id"] for r in ivf_topk(base, q, n_centroids=8, n_probe=4).collect()]
    # probing half the cells should recover most of the exact top-10
    assert len(set(approx) & set(exact)) >= 6, (approx, exact)
    # full probe = exact
    full = [r["vec_id"] for r in ivf_topk(base, q, n_centroids=8, n_probe=8).collect()]
    assert full == exact


def test_sessionize_gap_semantics(spark):
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [
        ("u", base, 1),
        ("u", base + datetime.timedelta(minutes=10), 2),
        ("u", base + datetime.timedelta(minutes=50), 3),  # 40-min gap → new session
        ("u", base + datetime.timedelta(minutes=60), 4),
        ("v", base, 5),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, event_id int")
    from youbike_etl_pipeline_spark.operators.windows import sessionize

    out = {r["event_id"]: r["session_id"] for r in sessionize(df, "k", "ts", ["event_id"]).collect()}
    assert out == {1: 1, 2: 1, 3: 2, 4: 2, 5: 1}


def test_stateful_stream_matches_batch(spark, sf_small):
    from youbike_etl_pipeline_spark.sources.readers import read_events
    from youbike_etl_pipeline_spark.streaming.stateful import running_user_stats_stream

    got = {
        r["user_id"]: (r["running_max"], r["n"])
        for r in running_user_stats_stream(spark, sf_small).collect()
    }
    expected = {
        r["user_id"]: (r["mx"], r["n"])
        for r in read_events(spark, sf_small)
        .groupBy("user_id")
        .agg(F.max("value").alias("mx"), F.count("value").alias("n"))
        .collect()
    }
    assert got == expected


def test_range_band_join_rejects_degenerate_bands(spark):
    from youbike_etl_pipeline_spark.operators.joins import range_band_join

    fact = spark.createDataFrame([(1, 5.0)], "id int, value double")
    zero_width = spark.createDataFrame([(0.0, 0.0, "z")], "lo double, hi double, band string")
    with pytest.raises(ValueError, match="degenerate band"):
        range_band_join(fact, zero_width, value_col="value")
    with pytest.raises(ValueError, match="bucket_width"):
        range_band_join(fact, zero_width, value_col="value", bucket_width=0.0)


def test_range_band_join_matches_inequality_join(spark, sf_small):
    from youbike_etl_pipeline_spark.operators.joins import range_band_join
    from youbike_etl_pipeline_spark.sources.readers import read_events

    ev = read_events(spark, sf_small)
    bands = spark.createDataFrame(
        [("a", 0.0, 37.5), ("b", 37.5, 200.0), ("c", 200.0, 600.0)],
        "band string, lo double, hi double",
    )
    got = (
        range_band_join(ev, bands, value_col="value")
        .groupBy("band").count().collect()
    )
    expected = (
        ev.join(bands, (ev.value >= bands.lo) & (ev.value < bands.hi))
        .groupBy("band").count().collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, expected))
    # and the bucketed formulation avoids the nested-loop join
    import contextlib, io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        range_band_join(ev, bands, value_col="value").explain("simple")
    assert "BroadcastNestedLoopJoin" not in buf.getvalue()


def test_ml_pipeline_save_load_roundtrip(spark, sf_small, tmp_path):
    """S11: model-artifact sink via pyspark.ml native persistence."""
    from pyspark.ml import Pipeline, PipelineModel
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import VectorAssembler

    li = spark.read.parquet(f"{sf_small}/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_discount"
    )
    pipe = Pipeline(
        stages=[
            VectorAssembler(inputCols=["l_quantity", "l_discount"], outputCol="features"),
            KMeans(k=3, seed=42, featuresCol="features", predictionCol="cluster"),
        ]
    )
    model = pipe.fit(li)
    path = str(tmp_path / "pipeline_model")
    model.write().overwrite().save(path)
    reloaded = PipelineModel.load(path)
    a = model.transform(li).select("l_orderkey", "cluster").collect()
    b = reloaded.transform(li).select("l_orderkey", "cluster").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_grid_nn_join_matches_brute_force(spark):
    """Grid-bucketed NN == exact cross-product NN on synthetic points,
    including a far-away left point exercising the fallback path."""
    import random

    from youbike_etl_pipeline_spark.operators.joins import grid_nn_join, nearest_mrt_distance

    rng = random.Random(7)
    stations = [
        (f"s{i}", 25.0 + rng.random() * 0.05, 121.5 + rng.random() * 0.05)
        for i in range(60)
    ] + [("far", 24.0, 120.0)]  # no grid neighbors -> fallback
    mrt = [(f"m{i}", 25.0 + rng.random() * 0.05, 121.5 + rng.random() * 0.05) for i in range(12)]
    sdf = spark.createDataFrame(stations, "station_no string, lat double, lng double")
    mdf = spark.createDataFrame(mrt, "name string, lat double, lng double")

    exact = {
        r["station_no"]: r["dist_to_mrt"]
        for r in nearest_mrt_distance(sdf, mdf.select("lat", "lng")).collect()
    }
    grid = {
        r["station_no"]: r["dist_nn"]
        for r in grid_nn_join(sdf, mdf, cell_deg=0.02).collect()
    }
    assert set(grid) == set(exact)
    for k in exact:
        assert grid[k] == pytest.approx(exact[k], rel=1e-12), k


@pytest.mark.parametrize("small_graph_edges", [200_000, 0], ids=["driver-uf", "distributed"])
def test_connected_components_long_chain_converges_fast(spark, small_graph_edges):
    """A 60-node chain must resolve to one component on BOTH paths: the
    driver union-find (small graphs) and the distributed pointer-jumping
    loop (O(log diameter) rounds — plain neighbor-min would need 60 and
    silently truncate)."""
    from youbike_etl_pipeline_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    comp = connected_components(pairs, max_iter=10, small_graph_edges=small_graph_edges)
    rows = comp.collect()
    assert len(rows) == 61
    assert all(r["component"] == 0 for r in rows)


def test_connected_components_paths_agree(spark):
    """Driver union-find and the distributed loop return identical labels on
    a random multi-cluster graph."""
    import random

    from youbike_etl_pipeline_spark.operators.dedup import connected_components

    rnd = random.Random(5)
    edges = [(rnd.randrange(0, 80), rnd.randrange(0, 80)) for _ in range(60)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    uf = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    dist = {
        r["node"]: r["component"]
        for r in connected_components(pairs, small_graph_edges=0).collect()
    }
    assert uf == dist


def test_connected_components_string_ids_and_self_loops(spark):
    """Both routing paths must return identical (node, component) sets AND
    types for non-long ids, and keep nodes whose only edge is a self-loop
    (round-2 advice: the small path hardcoded long and dropped them)."""
    from youbike_etl_pipeline_spark.operators.dedup import connected_components

    edges = [("a", "b"), ("b", "c"), ("x", "y"), ("solo", "solo")]
    pairs = spark.createDataFrame(edges, "id_a string, id_b string")
    small = connected_components(pairs)
    dist = connected_components(pairs, small_graph_edges=0)
    assert small.schema == dist.schema
    s = {(r["node"], r["component"]) for r in small.collect()}
    d = {(r["node"], r["component"]) for r in dist.collect()}
    assert s == d
    assert s == {
        ("a", "a"), ("b", "a"), ("c", "a"),
        ("x", "x"), ("y", "x"), ("solo", "solo"),
    }


def test_connected_components_dedup_clusters(spark, sf_small):
    """Pairs → clusters: components must match a driver-side union-find on
    the same edge set, and every doc maps to its cluster minimum."""
    from youbike_etl_pipeline_spark.operators.dedup import (
        dedup_clusters,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    edge_list = [(r["id_a"], r["id_b"]) for r in pairs.collect()]

    # reference union-find
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edge_list:
        union(a, b)
    expected = {x: find(x) for x in parent}

    got = {
        r["doc_id"]: r["canonical_id"]
        for r in dedup_clusters(docs, pairs).collect()
    }
    # paired docs map to the union-find root; unpaired map to themselves
    for doc, canon in got.items():
        assert canon == expected.get(doc, doc)
    assert edge_list  # the fixture really has near-dup pairs


def test_lstm_forward_zero_weights_analytic():
    """All-zero weights: every gate is sigmoid(0)=0.5 / tanh(0)=0, so c and
    h stay 0 and the output is exactly b_out for ANY input."""
    import numpy as np

    from youbike_etl_pipeline_spark.ml.inference import LSTMWeights, lstm_forward

    h = 4
    w = LSTMWeights(
        w_ih=np.zeros((4 * h, 2)),
        w_hh=np.zeros((4 * h, h)),
        b_ih=np.zeros(4 * h),
        b_hh=np.zeros(4 * h),
        w_out=np.zeros((1, h)),
        b_out=np.array([2.5]),
    )
    x = np.arange(2 * 3 * 2, dtype=np.float64).reshape(2, 3, 2)
    assert lstm_forward(x, w).tolist() == [2.5, 2.5]


def test_lstm_forward_one_step_hand_computed():
    """Independent scalar re-derivation of one LSTM step (H=D=T=1)."""
    import math

    import numpy as np

    from youbike_etl_pipeline_spark.ml.inference import LSTMWeights, lstm_forward

    w = LSTMWeights(
        w_ih=np.ones((4, 1)),
        w_hh=np.zeros((4, 1)),
        b_ih=np.zeros(4),
        b_hh=np.zeros(4),
        w_out=np.array([[2.0]]),
        b_out=np.array([0.25]),
    )
    x = np.array([[[0.5]]])
    sig = 1.0 / (1.0 + math.exp(-0.5))
    g = math.tanh(0.5)
    c = sig * g
    expected = 2.0 * (sig * math.tanh(c)) + 0.25
    assert lstm_forward(x, w)[0] == pytest.approx(expected, rel=1e-15)


def test_lstm_reference_pipeline_semantics():
    """End-to-end snapshot scoring mirrors the reference serving path
    (api/app/main.py:160-199): scale -> tile x3 -> LSTM -> inverse-scale
    via the first feature -> clamp/round. With zero weights and b_out=0.5
    the scaled prediction is exactly 0.5, so the output is
    round(0.5*(max0-min0)+min0) clamped at 0."""
    import numpy as np

    from youbike_etl_pipeline_spark.ml.inference import (
        LSTMWeights,
        predict_from_features,
    )

    h = 3
    w = LSTMWeights(
        w_ih=np.zeros((4 * h, 4)),
        w_hh=np.zeros((4 * h, h)),
        b_ih=np.zeros(4 * h),
        b_hh=np.zeros(4 * h),
        w_out=np.zeros((1, h)),
        b_out=np.array([0.5]),
    )
    feats = np.array([[12.0, 25.0, 0.0, 0.0], [3.0, 18.0, 5.0, 2.0]])
    fmin = np.array([0.0, -10.0, 0.0, 0.0])
    fmax = np.array([30.0, 40.0, 50.0, 3.0])
    preds = predict_from_features(feats, w, fmin, fmax)
    # scaled prediction 0.5 -> 0.5*(30-0)+0 = 15 for every row
    assert preds.tolist() == [15, 15]


def test_lstm_batch_predict_distributed_matches_local(spark):
    import numpy as np

    from youbike_etl_pipeline_spark.ml.inference import (
        lstm_batch_predict,
        predict_from_features,
        seeded_lstm_weights,
    )

    rows = [(i, float(i % 30), 15.0 + i % 10, float(i % 4), float(i % 3)) for i in range(40)]
    df = spark.createDataFrame(
        rows, "station_no int, bikes double, temp double, rain double, rain_cat double"
    ).repartition(4)
    w = seeded_lstm_weights(input_dim=4)
    fmin, fmax = [0.0, 0.0, 0.0, 0.0], [30.0, 30.0, 4.0, 3.0]
    out = lstm_batch_predict(
        df, w, fmin, fmax, feature_cols=("bikes", "temp", "rain", "rain_cat"),
        id_cols=("station_no",),
    )
    got = {r["station_no"]: r["predicted_next"] for r in out.collect()}
    feats = np.array([r[1:] for r in rows])
    want = predict_from_features(feats, w, np.array(fmin), np.array(fmax))
    assert got == {rows[i][0]: int(want[i]) for i in range(len(rows))}
    assert all(v >= 0 for v in got.values())


def test_resize_nearest_index_math():
    """Nearest-neighbor resize is pure integer sampling: identity at equal
    dims, and exact floor(r*H/h') source indices otherwise — the same
    arithmetic the mm5 oracle regenerates in SQL."""
    np = pytest.importorskip("numpy")
    from youbike_etl_pipeline_spark.operators.multimodal import (
        md5_pixels,
        resize_nearest,
    )

    img = md5_pixels(7, 16, 12)
    assert (resize_nearest(img, 16, 12) == img).all()
    out = resize_nearest(img, 7, 5)
    assert out.shape == (5, 7, 3)
    for r in range(5):
        for c in range(7):
            assert (out[r, c] == img[(r * 12) // 5, (c * 16) // 7]).all()


def test_resize_images_round_trip(spark):
    """decode -> resize -> encode -> decode through the Spark path equals
    the local numpy computation pixel-for-pixel."""
    np = pytest.importorskip("numpy")
    from youbike_etl_pipeline_spark.operators.multimodal import (
        attach_ppm_payloads,
        decode_ppm,
        md5_pixels,
        resize_images,
        resize_nearest,
    )

    base = spark.range(0, 4).withColumnRenamed("id", "doc_id")
    media = attach_ppm_payloads(base)
    rows = resize_images(media, out_width=7, out_height=5).collect()
    assert len(rows) == 4
    for row in rows:
        expected = resize_nearest(md5_pixels(row.doc_id, 16, 12), 7, 5)
        got = decode_ppm(bytes(row.payload))
        assert (got == expected).all()
        assert row.media_meta.width == 7 and row.media_meta.height == 5


def test_resize_images_malformed_payload_degrades_unless_strict(spark):
    """A truncated PNG/BMP/JPEG payload makes decode_image raise
    ValueError; non-strict resize degrades that row to a NULL payload (the
    same gate as decode_image_features) while good rows still resize, and
    strict mode raises."""
    from youbike_etl_pipeline_spark.operators.multimodal import (
        encode_bmp,
        encode_jpeg_lossless,
        encode_png,
        encode_ppm,
        md5_pixels,
        resize_images,
    )

    img = md5_pixels(3, 16, 12)
    rows = [
        (1, bytearray(encode_png(img)[:40])),
        (2, bytearray(encode_bmp(img)[:40])),
        (3, bytearray(encode_jpeg_lossless(img)[:40])),
        (4, bytearray(encode_ppm(img))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in resize_images(df, out_width=4, out_height=3).collect()}
    assert sorted(got) == [1, 2, 3, 4]
    assert all(got[i].payload is None and got[i].media_meta is None for i in (1, 2, 3))
    assert got[4].payload is not None and got[4].media_meta.width == 4
    with pytest.raises(Exception, match="ValueError"):
        resize_images(df, out_width=4, out_height=3, strict=True).collect()


def test_ahash64_perturbation_robust_and_contrast_sensitive():
    """A one-byte perturbation must not change the perceptual hash of a
    structured image, while inverting the image must flip every brightness
    bit (the hash is not a byte checksum)."""
    import numpy as np

    from youbike_etl_pipeline_spark.operators.multimodal import ahash64, md5_pixels

    img = md5_pixels(7, 16, 12)
    base = ahash64(img)
    bumped = img.copy()
    bumped[3, 5, 1] = (int(bumped[3, 5, 1]) + 4) % 256
    assert ahash64(bumped) == base
    inverted = (255 - img.astype(int)).astype("uint8")
    hi, lo = base
    ihi, ilo = ahash64(inverted)
    # inversion reflects brightness around the mean: bits strictly above the
    # mean become strictly below it, so no set bit survives
    assert ihi & hi == 0 and ilo & lo == 0
    assert (hi, lo) != (ihi, ilo)


def test_image_ahash_buckets_neardups_not_distinct_images(spark):
    """Rows sharing the fixture residue must land in one hash bucket even
    though every payload differs byte-wise; rows from different residues
    must not all collapse into one bucket."""
    from youbike_etl_pipeline_spark.operators.multimodal import (
        attach_ppm_payloads_neardup,
        image_ahash,
    )

    ids = spark.range(0, 24).withColumnRenamed("id", "doc_id")
    hashed = image_ahash(attach_ppm_payloads_neardup(ids, group_mod=4))
    rows = {r.doc_id: (r.hash_hi, r.hash_lo) for r in hashed.collect()}
    assert len(rows) == 24 and all(v[0] is not None for v in rows.values())
    groups = {}
    for did, h in rows.items():
        groups.setdefault(did % 4, set()).add(h)
    # each residue's perturbed variants hash identically
    assert all(len(hs) == 1 for hs in groups.values())
    # and the four residues give more than one distinct hash overall
    assert len({next(iter(hs)) for hs in groups.values()}) > 1


def test_prefix_filter_jaccard_lossless_vs_brute_force(spark, sf_small):
    """Prefix filtering must be LOSSLESS: identical pair set, counts, and
    jaccard values to the unfiltered inverted-index join (t2 without its
    answer-changing doc-freq cap)."""
    from youbike_etl_pipeline_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    brute = {
        (r["id_a"], r["id_b"]): (r["n_common"], r["n_a"], r["n_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    pref = {
        (r["id_a"], r["id_b"]): (r["n_common"], r["n_a"], r["n_b"])
        for r in prefix_filter_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pref == brute
    assert brute, "fixture should produce at least one qualifying pair"


def test_prefix_filter_jaccard_tiny_docs_edge(spark):
    """Boundary rounding: docs whose shingle sets are tiny (n=1,2) still
    keep at least one prefix element, so identical docs are always found."""
    from youbike_etl_pipeline_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),          # one 3-gram
            (2, "alpha beta gamma"),          # identical: jaccard 1.0
            (3, "alpha beta gamma delta"),    # 2 shingles, jac 1/2 vs 1&2
            (4, "zz yy xx ww vv"),            # disjoint
        ],
        "doc_id int, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in prefix_filter_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert got[(1, 2)] == 1.0
    assert got[(1, 3)] == 0.5 and got[(2, 3)] == 0.5
    assert not any(4 in k for k in got)


def test_prefix_filter_jaccard_irrational_threshold_lossless(spark):
    """Regression (round-5 advice): τ=2/3 has no exact 6-dp decimal. The
    rational proxy must FLOOR (τ' ≤ τ lengthens prefixes — still lossless);
    rounding UP (666667/10⁶ > 2/3) shortens B's prefix to its single rarest
    shingle and silently drops the qualifying subset pair A={x,y} ⊂
    B={x,y,z} with J=2/3 where z is globally rarest."""
    from youbike_etl_pipeline_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),    # shingles {abc, bcd}
            (2, "a b c d e"),  # shingles {abc, bcd, cde}; cde unique ⇒ rarest
        ],
        "doc_id int, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in prefix_filter_jaccard_pairs(docs, threshold=2 / 3).collect()
    }
    assert got == {(1, 2): 2 / 3}
    # brute force agrees (losslessness at the awkward threshold)
    brute = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=2 / 3).collect()
    }
    assert brute == got


def test_interval_overlap_pairs_exact_vs_brute_force(spark):
    """Uncapped interval_overlap_pairs must equal the quadratic
    brute-force self-join (the j11 oracle shape), and a cap larger than
    any bucket's occupancy must change nothing."""
    import itertools
    from datetime import datetime

    from youbike_etl_pipeline_spark.operators.joins import interval_overlap_pairs

    def t(h, m=0):
        return datetime(2024, 1, 1, h, m)

    rows = [
        (1, 10, t(0, 0), t(2, 30)),   # spans 3 hour buckets
        (1, 11, t(9, 0), t(9, 5)),
        (2, 20, t(1, 0), t(1, 30)),   # overlaps 1/10
        (2, 21, t(9, 4), t(10, 0)),   # overlaps 1/11
        (3, 30, t(2, 0), t(3, 0)),    # overlaps 1/10 and nothing of 2
        (4, 40, t(20, 0), t(21, 0)),  # isolated
    ]
    iv = spark.createDataFrame(
        rows, "user_id int, session_id int, s timestamp, e timestamp"
    )
    got = {
        (r["user_id_a"], r["user_id_b"]): r["n_copresent"]
        for r in interval_overlap_pairs(iv).collect()
    }
    brute: dict = {}
    for (ua, ia, sa, ea), (ub, ib, sb, eb) in itertools.combinations(rows, 2):
        if ua < ub and sa <= eb and sb <= ea:
            brute[(ua, ub)] = brute.get((ua, ub), 0) + 1
        elif ub < ua and sb <= ea and sa <= eb:
            brute[(ub, ua)] = brute.get((ub, ua), 0) + 1
    assert got == brute and brute
    capped_loose = {
        (r["user_id_a"], r["user_id_b"]): r["n_copresent"]
        for r in interval_overlap_pairs(iv, max_bucket_occupancy=100).collect()
    }
    assert capped_loose == brute


def test_interval_overlap_pairs_cap_bounds_output(spark):
    """max_bucket_occupancy=N keeps ≤ N intervals per bucket: with one hot
    hour holding k overlapping intervals, pair counts drop from k·(k-1)/2
    to ≤ N·(N-1)/2, the capped result is a subset of the exact one, and
    the selection is deterministic across runs."""
    from datetime import datetime

    from youbike_etl_pipeline_spark.operators.joins import interval_overlap_pairs

    k = 10
    rows = [
        (u, 100 + u, datetime(2024, 1, 1, 5, u), datetime(2024, 1, 1, 5, 59))
        for u in range(k)  # all k users co-present in the same hot hour
    ]
    iv = spark.createDataFrame(
        rows, "user_id int, session_id int, s timestamp, e timestamp"
    )
    exact = {
        (r["user_id_a"], r["user_id_b"]): r["n_copresent"]
        for r in interval_overlap_pairs(iv).collect()
    }
    assert len(exact) == k * (k - 1) // 2
    n = 4
    capped = {
        (r["user_id_a"], r["user_id_b"]): r["n_copresent"]
        for r in interval_overlap_pairs(iv, max_bucket_occupancy=n).collect()
    }
    assert len(capped) == n * (n - 1) // 2
    assert set(capped) <= set(exact)
    # deterministic rank order (s, key, id): the first n users survive
    assert set(capped) == {(a, b) for a in range(n) for b in range(a + 1, n)}
    again = {
        (r["user_id_a"], r["user_id_b"]): r["n_copresent"]
        for r in interval_overlap_pairs(iv, max_bucket_occupancy=n).collect()
    }
    assert again == capped


@pytest.mark.parametrize(
    "op_name,kwargs,keycols",
    [
        ("ngram_jaccard_pairs", {"threshold": 0.5}, ("n_common", "n_a", "n_b", "jaccard")),
        ("ngram_jaccard_pairs", {"threshold": 0.5, "max_doc_freq": 3}, ("n_common", "n_a", "n_b", "jaccard")),
        ("prefix_filter_jaccard_pairs", {"threshold": 0.5}, ("n_common", "n_a", "n_b", "jaccard")),
        ("minhash_lsh_dedup_portable", {}, ("jaccard",)),
    ],
)
def test_exact_dedup_first_answer_identical(spark, sf_small, op_name, kwargs, keycols):
    """The default exact_dedup_first=True routing must be ANSWER-IDENTICAL
    to the raw single-pass plan on a duplicate-heavy corpus — including
    under t2's doc-frequency cap (group-size-weighted doc-freq) and for
    docs with zero shingles (identical empties must NOT pair)."""
    from youbike_etl_pipeline_spark.operators import dedup as dd

    base = (
        spark.read.parquet(f"{sf_small}/documents.parquet")
        .select("doc_id", "text")
        .limit(40)
    )
    copies = base.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    extra = spark.createDataFrame(
        [(2_000_001, ""), (2_000_002, ""), (2_000_003, "one two"), (2_000_004, "one two")],
        "doc_id long, text string",
    )
    docs = base.unionByName(copies).unionByName(extra)
    fn = getattr(dd, op_name)
    raw = {
        (r["id_a"], r["id_b"]): tuple(r[c] for c in keycols)
        for r in fn(docs, exact_dedup_first=False, **kwargs).collect()
    }
    composed = {
        (r["id_a"], r["id_b"]): tuple(r[c] for c in keycols)
        for r in fn(docs, exact_dedup_first=True, **kwargs).collect()
    }
    assert composed == raw
    # duplicates guarantee a non-trivial intra-group contribution
    assert any(a + 1_000_000 == b for (a, b) in raw)
    # zero-shingle docs never pair, even with their verbatim copies
    assert not any(a >= 2_000_001 or b >= 2_000_001 for (a, b) in raw)


def test_lsh_near_dup_exact_first_answer_identical(spark, sf_small):
    """lsh_near_dup_pairs' default exact-collapse routing must be answer-
    identical (pairs AND float cosines) to the raw bucketed self-join on a
    corpus with byte-identical duplicate vectors, and identical zero-norm
    vectors must stay excluded."""
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    copies = emb.withColumn("vec_id", F.col("vec_id") + 1_000_000)
    dim = len(emb.first()["embedding"])
    zeros = spark.createDataFrame(
        [(2_000_001, [0.0] * dim), (2_000_002, [0.0] * dim)],
        "vec_id long, embedding array<float>",
    )
    vecs = emb.unionByName(copies).unionByName(
        zeros.select("vec_id", F.col("embedding").cast(emb.schema["embedding"].dataType))
    )
    raw = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in lsh_near_dup_pairs(
            vecs, dim=dim, threshold=0.3, bits=4, exact_dedup_first=False
        ).collect()
    }
    composed = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in lsh_near_dup_pairs(
            vecs, dim=dim, threshold=0.3, bits=4, exact_dedup_first=True
        ).collect()
    }
    assert composed == raw
    assert any(a + 1_000_000 == b for (a, b) in raw)  # intra-group pairs present
    assert not any(a >= 2_000_001 or b >= 2_000_001 for (a, b) in raw)


def test_sketch_accuracy_audit_dedup_first_contract(spark, sf_small):
    """sketch_accuracy_audit's exact_dedup_first routing: (a) on a
    duplicate-FREE corpus the collapse is a no-op — identical one-row
    result; (b) on a duplicate-heavy corpus the collapsed audit equals the
    raw audit run directly on the representative set (the documented
    semantics: measure the hash family on representatives, don't re-weight
    by corpus duplication)."""
    from youbike_etl_pipeline_spark.operators.dedup import sketch_accuracy_audit

    base = (
        spark.read.parquet(f"{sf_small}/documents.parquet")
        .select("doc_id", "text")
        .limit(60)
    )
    row_plain = sketch_accuracy_audit(base, exact_dedup_first=False).first().asDict()
    row_noop = sketch_accuracy_audit(base, exact_dedup_first=True).first().asDict()
    assert row_noop == row_plain
    assert row_plain["n_pairs"] > 0  # the fixture corpus has near-dups

    copies = base.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    heavy = base.unionByName(copies)
    row_collapsed = sketch_accuracy_audit(heavy, exact_dedup_first=True).first().asDict()
    # reps are the min-id survivors == base exactly
    assert row_collapsed == row_plain
    # and the raw audit on the duplicated corpus sees MORE candidate pairs
    row_heavy = sketch_accuracy_audit(heavy, exact_dedup_first=False).first().asDict()
    assert row_heavy["n_pairs"] > row_plain["n_pairs"]


def test_knn_label_consistency_ann_routing(spark, sf_small):
    """knn_label_consistency's ANN routing contract: with ann_bits=0 every
    vector lands in the single bucket, so the LSH path must equal the exact
    all-pairs path row-for-row; with a real bit width the audit still
    returns the same schema and only loses vectors whose bucket held no
    candidates (n_vecs <= exact per label)."""
    from youbike_etl_pipeline_spark.operators.similarity import knn_label_consistency

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet").limit(300)
    dim = len(emb.first()["embedding"])
    exact = {r["label"]: r.asDict() for r in knn_label_consistency(emb, k=5).collect()}
    one_bucket = {
        r["label"]: r.asDict()
        for r in knn_label_consistency(emb, k=5, ann_bits=0, dim=dim).collect()
    }
    assert one_bucket == exact
    assert sum(r["n_vecs"] for r in exact.values()) > 0
    ann = {
        r["label"]: r.asDict()
        for r in knn_label_consistency(emb, k=5, ann_bits=4, dim=dim).collect()
    }
    assert set(ann) <= set(exact)
    for lbl, row in ann.items():
        assert row["n_vecs"] <= exact[lbl]["n_vecs"]
        assert 0.0 <= row["consistency"] <= 1.0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="dim"):
        knn_label_consistency(emb, ann_bits=4)


def test_knn_label_consistency_dedup_first_contract(spark, sf_small):
    """exact_dedup_first: no-op on a duplicate-free corpus; on a corpus of
    verbatim (vector, label) copies the collapsed audit equals the audit on
    the min-id representative set; identical vectors with CONFLICTING
    labels survive the collapse and keep flagging each other."""
    from youbike_etl_pipeline_spark.operators.similarity import knn_label_consistency

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet").limit(200)
    plain = {r["label"]: r.asDict() for r in knn_label_consistency(emb, k=5).collect()}
    noop = {
        r["label"]: r.asDict()
        for r in knn_label_consistency(emb, k=5, exact_dedup_first=True).collect()
    }
    assert noop == plain
    copies = emb.withColumn("vec_id", F.col("vec_id") + 1_000_000)
    heavy = emb.unionByName(copies)
    collapsed = {
        r["label"]: r.asDict()
        for r in knn_label_consistency(heavy, k=5, exact_dedup_first=True).collect()
    }
    assert collapsed == plain
    # conflicting-label duplicates survive: same vector, flipped label
    flipped = copies.withColumn("label", F.col("label") + 1000)
    conflict = emb.unionByName(flipped)
    audited = {
        r["label"]: r.asDict()
        for r in knn_label_consistency(conflict, k=5, exact_dedup_first=True).collect()
    }
    assert any(lbl >= 1000 for lbl in audited)  # flipped copies still audited


def test_kendall_tau_b_contract(spark):
    """kendall_tau_b: hand-checked values on a 4-entity frame (perfect
    concordance -> tau 1.0; one inversion -> 4C2-pair arithmetic), the
    hash-sample routing returns the exact answer computed on the surviving
    entities, and the overflow regression stays fixed (pure-double
    denominator path — large synthetic counts run without
    ARITHMETIC_OVERFLOW at the expression level)."""
    from youbike_etl_pipeline_spark.stats.inference import kendall_tau_b

    perf = spark.createDataFrame(
        [(1, 1, 10), (2, 2, 20), (3, 3, 30), (4, 4, 40)], "id long, x long, y long"
    )
    row = kendall_tau_b(perf, id_col="id").first()
    assert (row["n_units"], row["conc"], row["disc"], row["tau_b"]) == (4, 6, 0, 1.0)

    inv = spark.createDataFrame(
        [(1, 1, 10), (2, 2, 20), (3, 3, 40), (4, 4, 30)], "id long, x long, y long"
    )
    row = kendall_tau_b(inv, id_col="id").first()
    # one discordant pair of 6: tau = (5-1)/6
    assert (row["conc"], row["disc"]) == (5, 1)
    assert abs(row["tau_b"] - (4 / 6)) < 1e-6

    # sampling: exact tau over the entities the hash keeps
    import pyspark.sql.functions as SF

    from youbike_etl_pipeline_spark.operators.dedup import md5_token_hash64

    big = spark.range(200).select(
        SF.col("id"), (SF.col("id") % 7).alias("x"), (SF.col("id") % 11).alias("y")
    )
    mod = 4
    kept = big.filter(
        SF.pmod(md5_token_hash64(SF.col("id").cast("string")), SF.lit(mod)) == 0
    )
    sampled = kendall_tau_b(big, id_col="id", hash_sample_mod=mod).first()
    direct = kendall_tau_b(kept, id_col="id").first()
    assert sampled.asDict() == direct.asDict()
    assert 0 < sampled["n_units"] < 200


def test_levenshtein_blocked_pairs_exact_first_identity(spark, sf_small):
    """levenshtein_blocked_pairs' default collapse must be ANSWER-IDENTICAL
    to the raw within-block pair join on a duplicate-heavy corpus (identical
    prefixes imply identical distances; intra-group pairs are distance 0),
    and null-lang / null-text rows must never pair on either path."""
    from youbike_etl_pipeline_spark.operators.dedup import levenshtein_blocked_pairs

    base = (
        spark.read.parquet(f"{sf_small}/documents.parquet")
        .select("doc_id", "lang", "text")
        .limit(40)
    )
    copies = base.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    nulls = spark.createDataFrame(
        [(2_000_001, None, "same text"), (2_000_002, "en", None)],
        "doc_id long, lang string, text string",
    )
    docs = base.unionByName(copies).unionByName(nulls)
    raw = {
        (r["id_a"], r["id_b"]): r["edit_dist"]
        for r in levenshtein_blocked_pairs(docs, exact_dedup_first=False).collect()
    }
    composed = {
        (r["id_a"], r["id_b"]): r["edit_dist"]
        for r in levenshtein_blocked_pairs(docs, exact_dedup_first=True).collect()
    }
    assert composed == raw
    assert any(a + 1_000_000 == b and d == 0 for (a, b), d in raw.items())
    assert not any(a >= 2_000_001 or b >= 2_000_001 for (a, b) in raw)
    # block cap: deterministic subset
    capped = {
        (r["id_a"], r["id_b"]): r["edit_dist"]
        for r in levenshtein_blocked_pairs(docs, max_block_size=5).collect()
    }
    assert set(capped) <= set(raw) and capped == {
        k: raw[k] for k in capped
    }


def test_simhash_pairs_exact_first_identity(spark, sf_small):
    """simhash_pairs' collapse must be ANSWER-IDENTICAL to the raw banded
    join on a duplicate-heavy corpus: identical text ⇒ identical signature,
    so cross-group pairs inherit the rep hamming and intra-group pairs are
    hamming 0. Empty-token docs never pair on either path (no signature row
    ⇒ no banding entry ⇒ no intra-group expansion)."""
    from youbike_etl_pipeline_spark.operators.dedup import (
        md5_token_hash64,
        simhash_pairs,
    )

    base = (
        spark.read.parquet(f"{sf_small}/documents.parquet")
        .select("doc_id", "text")
        .limit(40)
    )
    copies = base.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    empties = spark.createDataFrame(
        [(2_000_001, "   "), (2_000_002, "   ")], "doc_id long, text string"
    )
    docs = base.unionByName(copies).unionByName(empties)
    kw = dict(max_hamming=12, hash_fn=md5_token_hash64)
    raw = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(docs, exact_dedup_first=False, **kw).collect()
    }
    composed = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(docs, exact_dedup_first=True, **kw).collect()
    }
    assert composed == raw
    # each original pairs with its verbatim copy at hamming 0
    assert any(a + 1_000_000 == b and h == 0 for (a, b), h in raw.items())
    # whitespace-only docs (zero tokens) never pair, not even with each other
    assert not any(a >= 2_000_001 or b >= 2_000_001 for (a, b) in raw)


def test_asof_join_bucketed_identity(spark, sf_small):
    """asof_join's bucket_seconds routing must be ANSWER-IDENTICAL to the
    single-window path: the local carry within (key, bucket) plus the
    bucket-boundary carry-in reconstructs exactly the global
    last-non-null-right-value-at-or-before-each-left-row. Probed because
    the unbucketed path's parallelism equals the key count (the 4-key j7
    measured 17.3x at the 100x sweep)."""
    from youbike_etl_pipeline_spark.operators.joins import asof_join

    ev = (
        spark.read.parquet(f"{sf_small}/events.parquet")
        .withColumn("grp", F.col("user_id") % 4)
        .select("grp", F.col("ts").cast("timestamp").alias("ts"), "event_id", "value")
    )
    # tie-free right side: one checkpoint per (grp, ts) so both paths'
    # tie-resolution classes never fire and equality is exact
    cps = (
        ev.filter((F.col("event_id") % 50 == 0) & F.col("value").isNotNull())
        .groupBy("grp", F.col("ts").alias("cp_ts"))
        .agg(F.max("value").alias("cp_value"))
    )
    left = ev.select("grp", "ts", "event_id", "value")
    base = {
        (r["grp"], r["event_id"]): r["cp_value"]
        for r in asof_join(
            left, cps, on="grp", left_ts="ts", right_ts="cp_ts",
            right_values=["cp_value"],
        ).collect()
    }
    assert any(v is not None for v in base.values())
    assert any(v is None for v in base.values())  # rows before first cp
    for bucket in (3600.0, 86400.0, 10**12):  # hour, day, single-bucket
        got = {
            (r["grp"], r["event_id"]): r["cp_value"]
            for r in asof_join(
                left, cps, on="grp", left_ts="ts", right_ts="cp_ts",
                right_values=["cp_value"], bucket_seconds=bucket,
            ).collect()
        }
        assert got == base, f"bucket_seconds={bucket}"


def test_bucketed_row_number_identity(spark, sf_small):
    """bucketed_row_number must equal the single-window row_number for any
    bucket width (local rank + exclusive bucket prefix-count), including
    widths that put everything in one bucket or one row per bucket."""
    from pyspark.sql import Window

    from youbike_etl_pipeline_spark.operators.windows import bucketed_row_number

    ev = (
        spark.read.parquet(f"{sf_small}/events.parquet")
        .select("event_type", "event_id", "value")
    )
    w = Window.partitionBy("event_type").orderBy(F.col("event_id").asc())
    base = {
        (r["event_type"], r["event_id"]): r["rn"]
        for r in ev.withColumn("rn", F.row_number().over(w)).collect()
    }
    for width in (1, 97, 10_000, 10**15):
        got = {
            (r["event_type"], r["event_id"]): r["rn"]
            for r in bucketed_row_number(
                ev, ["event_type"], "event_id", bucket_width=width
            ).collect()
        }
        assert got == base, f"bucket_width={width}"
    # tie-broken ordering: value has heavy ties, event_id resolves them;
    # ties share a bucket (bucket is a function of value), so the two-level
    # rank still equals the single window
    ev_v = ev.filter(F.col("value").isNotNull())
    w_v = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    base_v = {
        (r["event_type"], r["event_id"]): r["rn"]
        for r in ev_v.withColumn("rn", F.row_number().over(w_v)).collect()
    }
    got_v = {
        (r["event_type"], r["event_id"]): r["rn"]
        for r in bucketed_row_number(
            ev_v, ["event_type"], "value", bucket_width=10.0, tiebreak=["event_id"]
        ).collect()
    }
    assert got_v == base_v


def test_bucketed_ntile_identity(spark, sf_small):
    """bucketed_ntile must equal ntile(n) over the single per-stratum window
    for several tile counts, including n that doesn't divide the stratum
    size (the first N%n tiles take one extra row)."""
    from pyspark.sql import Window

    from youbike_etl_pipeline_spark.operators.windows import bucketed_ntile

    ev = (
        spark.read.parquet(f"{sf_small}/events.parquet")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value", "event_id")
    )
    for n in (4, 7):
        w = Window.partitionBy("event_type").orderBy(
            F.col("value").asc(), F.col("event_id").asc()
        )
        base = {
            (r["event_type"], r["event_id"]): r["bucket"]
            for r in ev.withColumn("bucket", F.ntile(n).over(w)).collect()
        }
        got = {
            (r["event_type"], r["event_id"]): r["bucket"]
            for r in bucketed_ntile(
                ev, ["event_type"], "value", n_tiles=n, bucket_width=10.0,
                tiebreak=["event_id"],
            ).collect()
        }
        assert got == base, f"n_tiles={n}"


def test_real_png_decode_roundtrip_all_filters():
    """Stdlib-zlib PNG codec: the encoder assigns scanline filter r%5, so a
    tall-enough round trip exercises None/Sub/Up/Average/Paeth; gray
    expands to RGB, RGBA drops alpha, corrupt DEFLATE degrades (non-strict)
    instead of crashing the batch."""
    import struct as _s
    import zlib

    import numpy as np

    from youbike_etl_pipeline_spark.operators.multimodal import (
        decode_image,
        decode_png,
        encode_png,
        md5_pixels,
    )

    for w, h in [(16, 12), (7, 5), (1, 1), (3, 11)]:
        img = md5_pixels(42 + w * h, w, h)
        assert (decode_png(encode_png(img)) == img).all()
        assert (decode_image(encode_png(img)) == img).all()

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            _s.pack(">I", len(body))
            + tag
            + body
            + _s.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    # grayscale 2x2 expands to 3 channels
    g = sig + chunk(b"IHDR", _s.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)) + chunk(
        b"IDAT", zlib.compress(bytes([0, 10, 20, 0, 30, 40]))
    ) + chunk(b"IEND", b"")
    out = decode_png(g)
    assert out.shape == (2, 2, 3) and tuple(out[1, 1]) == (40, 40, 40)
    # RGBA 2x1 drops alpha
    a = sig + chunk(b"IHDR", _s.pack(">IIBBBBB", 2, 1, 8, 6, 0, 0, 0)) + chunk(
        b"IDAT", zlib.compress(bytes([0, 1, 2, 3, 255, 4, 5, 6, 128]))
    ) + chunk(b"IEND", b"")
    assert tuple(decode_png(a)[0, 1]) == (4, 5, 6)
    # 16-bit depth decodes since round 8 (high-byte convention): one
    # 0xABCD-valued pixel reads back as 0xAB per channel
    d16 = sig + chunk(b"IHDR", _s.pack(">IIBBBBB", 1, 1, 16, 2, 0, 0, 0)) + chunk(
        b"IDAT", zlib.compress(b"\x00" + b"\xab\xcd" * 3)
    ) + chunk(b"IEND", b"")
    assert tuple(decode_png(d16)[0, 0]) == (0xAB, 0xAB, 0xAB)
    # a genuinely illegal combination still raises
    d3_16 = sig + chunk(b"IHDR", _s.pack(">IIBBBBB", 1, 1, 16, 3, 0, 0, 0)) + chunk(
        b"IDAT", zlib.compress(bytes(3))
    ) + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="unsupported PNG"):
        decode_png(d3_16)
    # corrupt DEFLATE raises the documented ValueError (round 8: was a
    # raw zlib.error leak)
    bad = sig + chunk(b"IHDR", _s.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)) + chunk(
        b"IDAT", b"\x00garbage"
    ) + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="DEFLATE"):
        decode_png(bad)


def test_png_features_in_spark_match_ppm_features(spark):
    """The same md5-pixel image through PNG and PPM payloads must produce
    identical feature vectors — the decode is lossless either way."""
    from youbike_etl_pipeline_spark.operators.multimodal import (
        attach_ppm_payloads,
        decode_image_features,
    )

    base = spark.range(5).select((F.col("id") * 5).alias("doc_id"))
    f_ppm = {
        r["doc_id"]: r["feature"]
        for r in decode_image_features(attach_ppm_payloads(base)).collect()
    }
    f_png = {
        r["doc_id"]: r["feature"]
        for r in decode_image_features(
            attach_ppm_payloads(base, fmt="png"), strict=True
        ).collect()
    }
    assert f_ppm == f_png


def _spark_sample_images() -> str:
    """Locate the Spark distribution's sample image dir wherever this
    machine put it (SPARK_HOME, /opt/spark-*, or the pip package) — a
    hard-coded version path would silently skip the only cross-decoder
    JPEG conformance test after a Spark upgrade."""
    import glob as _glob
    import os as _os

    roots = []
    if _os.environ.get("SPARK_HOME"):
        roots.append(_os.environ["SPARK_HOME"])
    roots.extend(sorted(_glob.glob("/opt/spark-*")))
    try:
        import pyspark

        roots.append(_os.path.dirname(pyspark.__file__))
    except ImportError:
        pass
    for r in roots:
        d = _os.path.join(r, "data", "mllib", "images", "origin", "kittens")
        if _os.path.isdir(d):
            return d
    return ""


SPARK_SAMPLE_IMAGES = _spark_sample_images()


@pytest.mark.skipif(not SPARK_SAMPLE_IMAGES, reason="Spark sample images not found under SPARK_HOME, /opt/spark-*, or the pyspark package")
def test_decode_jpeg_conforms_to_jvm_imageio(spark):
    """Cross-decoder conformance over EVERY Spark-distribution sample JPEG
    — 4:2:0/4:4:4 baseline kittens AND the progressive color + grayscale
    multi-channel samples: the pure-numpy decoder must reproduce the
    pixels Spark's JVM format('image') reader (ImageIO / libjpeg lineage)
    produces, within the decoder-legal variation budget (float vs
    islow-integer IDCT): max |diff| ≤ 3 per sample, ≥ 98% within ±1."""
    import os

    import numpy as np

    from youbike_etl_pipeline_spark.operators.multimodal import decode_jpeg
    from youbike_etl_pipeline_spark.sources.readers import read_images

    base = os.path.dirname(SPARK_SAMPLE_IMAGES)
    rows = read_images(spark, base, recursive=True).select("image.*").collect()
    jpegs = [r for r in rows if r["origin"].endswith((".jpg", ".jpeg"))]
    assert len(jpegs) >= 6  # 4 baseline kittens + 2 progressive samples
    for r in jpegs:
        nc = r["nChannels"]
        ref = np.frombuffer(bytes(r["data"]), np.uint8).reshape(
            r["height"], r["width"], nc
        )
        ref = ref[:, :, ::-1] if nc == 3 else np.repeat(ref, 3, axis=2)
        mine = decode_jpeg(open(r["origin"].replace("file:", ""), "rb").read())
        d = np.abs(mine.astype(int) - ref.astype(int))
        assert d.max() <= 3, (r["origin"], d.max())
        assert (d <= 1).mean() >= 0.98, (r["origin"], (d <= 1).mean())


def test_decode_jpeg_error_paths():
    """Garbage after a JPEG magic is a ValueError; truly unsupported
    coding classes (arithmetic SOF markers — SOF3 lossless decodes for
    real now) raise NotImplementedError naming the limitation — both
    degrade to the fake path in non-strict decode_image_features."""
    import struct as _s

    from youbike_etl_pipeline_spark.operators.multimodal import decode_jpeg

    with pytest.raises(ValueError, match="missing SOS"):
        decode_jpeg(b"\xff\xd8" + b"\x00" * 64)
    # hand-built SOF9 (arithmetic sequential DCT) segment
    sof9 = b"\xff\xd8\xff\xc9" + _s.pack(">H", 8) + b"\x08" + _s.pack(">HH", 1, 1) + b"\x01"
    with pytest.raises(NotImplementedError, match="arithmetic"):
        decode_jpeg(sof9)
    # 16-bit lossless stays gated (SOF3 legally allows 2-16 bit)
    sof3_16 = (
        b"\xff\xd8\xff\xc3" + _s.pack(">H", 11) + b"\x10"
        + _s.pack(">HH", 1, 1) + b"\x01" + b"\x01\x11\x00"
    )
    with pytest.raises(NotImplementedError, match="8-bit lossless"):
        decode_jpeg(sof3_16)


def test_g711_luts_match_canonical_values():
    """The μ-law/A-law expansion tables must hit the canonical ITU-T
    anchor points (Sun ulaw2linear/alaw2linear): μ-law 0x00 → −32124,
    0xFF → 0, 0x80 → +32124; A-law 0x55 → −8, 0xD5 → +8, 0x2A → −32256
    (xor-0x55 gives 0x7F: mantissa 15 in segment 7, the negative max)."""
    import numpy as np
    import struct as _s

    from youbike_etl_pipeline_spark.operators.multimodal import (
        _ALAW_LUT,
        _ULAW_LUT,
        decode_wav,
    )

    assert _ULAW_LUT[0x00] == -32124
    assert _ULAW_LUT[0xFF] == 0
    assert _ULAW_LUT[0x80] == 32124
    assert _ALAW_LUT[0x55] == -8
    assert _ALAW_LUT[0xD5] == 8
    assert _ALAW_LUT[0x2A] == -32256
    # symmetric: flipping the sign bit negates (except μ-law ±0 both → 0)
    assert (_ULAW_LUT[:128] == -_ULAW_LUT[128:]).all()
    assert (_ALAW_LUT[:128] == -_ALAW_LUT[128:]).all()

    # decode_wav dispatches format code 7/6 through the LUTs
    raw = bytes(range(256))
    for code, lut in ((7, _ULAW_LUT), (6, _ALAW_LUT)):
        wav = (
            b"RIFF" + _s.pack("<I", 36 + 256) + b"WAVE"
            + b"fmt " + _s.pack("<IHHIIHH", 16, code, 1, 8000, 8000, 1, 8)
            + b"data" + _s.pack("<I", 256) + raw
        )
        rate, samples = decode_wav(wav)
        assert rate == 8000 and (samples == lut).all()
    # float WAV decodes since round 8 (format 3, bit reinterpretation)
    fwav = (
        b"RIFF" + _s.pack("<I", 36 + 4) + b"WAVE"
        + b"fmt " + _s.pack("<IHHIIHH", 16, 3, 1, 8000, 32000, 4, 32)
        + b"data" + _s.pack("<I", 4) + _s.pack("<f", 0.25)
    )
    rate, fsamples = decode_wav(fwav)
    assert rate == 8000 and list(fsamples) == [0.25]
    # perceptual codecs inside WAV stay honestly gated (0x55 = MP3)
    mp3wav = (
        b"RIFF" + _s.pack("<I", 36 + 4) + b"WAVE"
        + b"fmt " + _s.pack("<IHHIIHH", 16, 0x55, 1, 8000, 8000, 1, 0)
        + b"data" + _s.pack("<I", 4) + b"\x00" * 4
    )
    with pytest.raises(NotImplementedError, match="codec"):
        decode_wav(mp3wav)


def test_corrupt_jpeg_degrades_not_crashes(spark):
    """Round-6 review finding: a corrupt JPEG (SOS naming a component
    absent from SOF, or referencing an undefined DHT id) must degrade to
    the fake feature in non-strict mode — one bad payload in a
    mixed-format corpus must never kill the mapInPandas job. 12-bit and
    CMYK variants are honestly gated, not silently mis-decoded."""
    import struct as _s

    from youbike_etl_pipeline_spark.operators.multimodal import (
        decode_image_features,
        decode_jpeg,
    )

    sof = (
        b"\xff\xc0" + _s.pack(">H", 11) + b"\x08" + _s.pack(">HH", 8, 8)
        + b"\x01" + bytes([1, 0x11, 0])
    )
    sos_bad_comp = (
        b"\xff\xda" + _s.pack(">H", 8) + b"\x01" + bytes([9, 0x00])
        + bytes([0, 63, 0])
    )
    sos_no_dht = (
        b"\xff\xda" + _s.pack(">H", 8) + b"\x01" + bytes([1, 0x00])
        + bytes([0, 63, 0])
    )
    with pytest.raises(ValueError, match="absent from SOF"):
        decode_jpeg(b"\xff\xd8" + sof + sos_bad_comp + b"\x00" * 8)
    # round 8: undefined-table references raise the documented ValueError
    # (previously a KeyError leak, found by the corruption-fuzz sweep)
    with pytest.raises(ValueError, match="undefined Huffman table"):
        decode_jpeg(b"\xff\xd8" + sof + sos_no_dht + b"\x00" * 8)
    cmyk = (
        b"\xff\xd8" + b"\xff\xc0" + _s.pack(">H", 20) + b"\x08"
        + _s.pack(">HH", 8, 8) + b"\x04"
        + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0, 4, 0x11, 0])
    )
    with pytest.raises(NotImplementedError, match="CMYK"):
        decode_jpeg(cmyk)
    twelve = (
        b"\xff\xd8" + b"\xff\xc1" + _s.pack(">H", 11) + b"\x0c"
        + _s.pack(">HH", 8, 8) + b"\x01" + bytes([1, 0x11, 0])
    )
    with pytest.raises(NotImplementedError, match="8-bit"):
        decode_jpeg(twelve)
    rows = [
        (1, bytearray(b"\xff\xd8" + sof + sos_bad_comp + b"\x00" * 8)),
        (2, bytearray(b"\xff\xd8" + sof + sos_no_dht + b"\x00" * 8)),
        (3, bytearray(cmyk)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = decode_image_features(df).collect()  # non-strict: all degrade
    assert len(got) == 3 and all(len(r["feature"]) == 8 for r in got)


def test_ima_adpcm_decode_block_and_framing():
    """IMA ADPCM: known-nibble hand-check (step table walk, clamping,
    LOW-nibble-first order) plus multi-block WAV framing — each block
    restarts prediction from its own header."""
    import struct as _s

    import numpy as np

    from youbike_etl_pipeline_spark.operators.multimodal import (
        _IMA_STEPS,
        _ima_adpcm_decode_block,
        decode_wav,
    )

    # one byte 0x81 → nibbles (1, 8) from predictor 100, index 0 (step 7):
    # n=1: diff = 7>>3 + 7>>2 = 0+1 = 1 → pred 101, idx -1→0
    # n=8: diff = -(7>>3) = 0 → pred 101, idx 0+(-1)→0... INDEX_ADJ[0]=-1
    blk = _s.pack("<hBB", 100, 0, 0) + bytes([0x81])
    out = _ima_adpcm_decode_block(blk)
    assert out.tolist() == [100, 101, 101]
    # saturating clamp at int16 max: start near the top on the biggest step
    blk2 = _s.pack("<hBB", 32700, 88, 0) + bytes([0x77])  # n=7 twice, +diff
    out2 = _ima_adpcm_decode_block(blk2)
    assert out2[0] == 32700 and (out2[1:] == 32767).all()
    # two-block WAV: prediction restarts per block header
    block_align = 5
    b1 = _s.pack("<hBB", 10, 0, 0) + bytes([0x00])
    b2 = _s.pack("<hBB", -10, 5, 0) + bytes([0x00])
    wav = (
        b"RIFF" + _s.pack("<I", 36 + 10) + b"WAVE"
        + b"fmt " + _s.pack("<IHHIIHH", 16, 0x11, 1, 8000, 4000, block_align, 4)
        + b"data" + _s.pack("<I", 10) + b1 + b2
    )
    rate, samples = decode_wav(wav)
    assert rate == 8000 and len(samples) == 6
    assert samples[0] == 10 and samples[3] == -10
    assert len(_IMA_STEPS) == 89


def test_round6_review_null_and_default_semantics(spark):
    """Round-6 self-review regression pack: (1) nearest_neighbor_join's
    default right_keep orders by every right column instead of crashing on
    an empty ORDER BY; (2) numeric_nn_join excludes null right values and
    preserves null-left-value rows with a null match (previously a
    null-valued right row lent its id to every left row); (3)
    asof_join_forward gives null-ts left rows a null carry (previously the
    EARLIEST right row); (4) hour_bucket_join neither leaks its bucket key
    nor clobbers a pre-existing hour_key column; (5) the two-level
    rank/ntile keep a null stratum as its own partition (null-safe offset
    joins) exactly like the single-window twins."""
    from pyspark.sql import Window

    from youbike_etl_pipeline_spark.operators.joins import (
        asof_join_forward,
        hour_bucket_join,
        nearest_neighbor_join,
        numeric_nn_join,
    )
    from youbike_etl_pipeline_spark.operators.windows import (
        bucketed_ntile,
        bucketed_row_number,
    )

    left = spark.createDataFrame([(1, 0.0), (2, 5.0)], "id long, x double")
    right = spark.createDataFrame([(10, 1.0), (11, 1.0)], "rid long, rx double")
    out = nearest_neighbor_join(left, right, "id", F.abs(F.col("x") - F.col("rx")))
    assert sorted((r["id"], r["rid"]) for r in out.collect()) == [(1, 10), (2, 10)]

    l = spark.createDataFrame([(1, 5.0), (2, None)], "lid long, v double")
    r = spark.createDataFrame([(7, None), (8, 6.0)], "rid long, rv double")
    rows = {x["lid"]: x for x in numeric_nn_join(l, r, "v", "rid", "rv").collect()}
    assert rows[1]["nn_rid"] == 8 and rows[1]["nn_distance"] == 1.0
    assert rows[2]["nn_rid"] is None and rows[2]["nn_distance"] is None

    lf = spark.createDataFrame(
        [("a", None, 1), ("a", 10.0, 2)], "k string, ts double, lid int"
    )
    rt = spark.createDataFrame(
        [("a", 1.0, 100), ("a", 20.0, 200)], "k string, ts double, rv int"
    )
    fwd = {
        x["lid"]: x["rv"]
        for x in asof_join_forward(
            lf, rt, on="k", left_ts="ts", right_ts="ts", right_values=["rv"]
        ).collect()
    }
    assert fwd == {1: None, 2: 200}

    fact = spark.createDataFrame(
        [(1, "2024-01-01 10:30:00", "keep-me")], "id long, ts string, hour_key string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    hourly = spark.createDataFrame(
        [("2024-01-01 10:00:00", 9.0)], "hk string, avgv double"
    ).withColumn("hk", F.col("hk").cast("timestamp"))
    joined = hour_bucket_join(fact, hourly, "ts", "hk", how="inner")
    assert set(joined.columns) == {"id", "ts", "hour_key", "avgv"}
    assert joined.collect()[0]["hour_key"] == "keep-me"

    df = spark.createDataFrame(
        [("a", 1.0), (None, 2.0), (None, 3.0), ("a", 4.0)], "k string, v double"
    )
    rn = bucketed_row_number(df, ["k"], "v", 1.0)
    assert rn.count() == 4  # the null stratum survives
    w = Window.partitionBy("k").orderBy("v")
    single = {
        (r["k"], r["v"]): r["rn"]
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert {(r["k"], r["v"]): r["rn"] for r in rn.collect()} == single
    assert bucketed_ntile(df, ["k"], "v", n_tiles=2, bucket_width=1.0).count() == 4


def test_round7_advice_regressions(spark):
    """Round-6 advice pack: (1) bucketed_row_number's null-order raise path
    is actually exercised (a regression back to silent row drop would pass
    the null-STRATUM test above); (2) decode_png bounds the IDAT inflate —
    a bomb-ratio DEFLATE claiming a small image fails with the mismatch
    ValueError without materializing the expansion; (3) a truncated
    restart-interval JPEG raises ValueError from sync_restart, not
    IndexError."""
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from youbike_etl_pipeline_spark.operators.multimodal import (
        _BitReader,
        decode_png,
    )
    from youbike_etl_pipeline_spark.operators.windows import bucketed_row_number

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("b", 2.0)], "k string, v double"
    )
    with _pytest.raises(Exception, match="bucketed_row_number: null"):
        bucketed_row_number(df, ["k"], "v", 1.0).collect()

    def _chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    # IHDR claims 2x2 grayscale (expected inflate = 2*(2+1) = 6 bytes) but
    # IDAT inflates to 10 MB — must fail fast on the bound, not allocate
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    bomb = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"\x00" * 10_000_000))
        + _chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="size mismatch"):
        decode_png(bomb)

    # the well-formed twin of the same geometry still decodes
    good = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"\x00\x07\x09\x00\x05\x06"))
        + _chunk(b"IEND", b"")
    )
    img = decode_png(good)
    assert img.shape == (2, 2, 3) and img.dtype == np.uint8

    br = _BitReader(b"\xff\x00\x12\x34\x56", 0)
    with _pytest.raises(ValueError, match="truncated JPEG"):
        br.sync_restart()


def test_vit_patchify_matches_numpy(spark):
    """Patch tokenization: the distributed per-patch channel means must
    equal local numpy exactly (exact-dyadic means), the fan-out is one
    row per patch cell, and non-divisible dims raise."""
    import numpy as np
    import pytest as _pt

    from youbike_etl_pipeline_spark.operators.multimodal import (
        attach_ppm_payloads,
        md5_pixels,
        patchify_features,
    )

    df = spark.range(0, 30, 10).withColumnRenamed("id", "doc_id")
    media = attach_ppm_payloads(df, width=16, height=12)
    rows = patchify_features(media).collect()
    assert len(rows) == 3 * (16 // 4) * (12 // 4)
    for r in rows:
        img = md5_pixels(r["doc_id"], 16, 12).astype(np.float64)
        cell = img[
            r["patch_y"] * 4 : r["patch_y"] * 4 + 4,
            r["patch_x"] * 4 : r["patch_x"] * 4 + 4,
        ]
        assert r["r_mean"] == cell[:, :, 0].mean()  # exact dyadic — bitwise
        assert r["g_mean"] == cell[:, :, 1].mean()
        assert r["b_mean"] == cell[:, :, 2].mean()
    with _pt.raises(Exception, match="divisible"):
        patchify_features(attach_ppm_payloads(df, width=15, height=12)).collect()
