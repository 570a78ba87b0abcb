"""Reseed parity: replay the corpus on freshly-generated synthetic tables.

The driver regenerates /root/testdata with a new seed every round, so the
only trustworthy definition of "passing" is: Spark and DuckDB agree for ANY
seed the generators might produce. This module rebuilds documents/events
tables in the driver's shape under two different seeds (word-pool sentences
with multilingual/empty/edge docs, 2-decimal values crossing the corpus's
rounding boundaries, ns timestamps) and hash-compares every corpus query
that reads only those tables.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from youbike_etl_pipeline_spark.parity import duck_views, oracle_diff
from youbike_etl_pipeline_spark.plans.corpus import CORPUS

WORDS = (
    "the a of to and data table row column key value query join merge sort "
    "scan filter group window batch stream spark vector hash part line "
    "customer order small big fast slow der die und das ist el la de que y "
    "le les des et dup agg"
).split()

LANGS = ["en", "es", "de", "fr", "zh"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


def _gen_documents(seed: int, n: int = 300) -> pa.Table:
    rng = np.random.default_rng(seed)
    doc_ids, texts, langs, sources, n_chars = [], [], [], [], []
    for i in range(n):
        k = int(rng.integers(0, 90))
        words = list(rng.choice(WORDS, size=k)) if k else []
        # duplicates for the dedup queries: every 17th doc repeats doc i-17
        if i % 17 == 0 and i > 0 and texts[i - 17]:
            text = texts[i - 17]
        else:
            text = " ".join(words)
        # seed-style edge docs the driver could emit
        if i % 41 == 0:
            text = ""
        elif i % 43 == 0:
            text = "   "
        elif i % 47 == 0:
            text = "中文內容沒有空白 nor ascii words 中文"
        elif i % 53 == 0:
            text = "café déjà vu " + text  # combining accents
        elif i % 59 == 58:
            text = None  # NULL text — the next silent-generator-change class
        doc_ids.append(i)
        texts.append(text)
        langs.append(LANGS[int(rng.integers(0, len(LANGS)))])
        sources.append(f"src{int(rng.integers(0, 20))}")
        n_chars.append(0 if text is None else len(text))
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array(n_chars, pa.int64()),
        }
    )


def _gen_events(seed: int, n: int = 2000, ts_unit: str = "ns") -> pa.Table:
    rng = np.random.default_rng(seed)
    base_ns = 1704067200_000_000_000  # 2024-01-01
    values = np.round(rng.uniform(0, 500, n), 2).astype(object)
    # force .5 rounding boundaries around the corpus's value-250 shift
    values[:: 37] = np.floor(values[:: 37].astype(float)) + 0.5
    # NULL value/props — the null-semantics class (ntile ordering,
    # count(col) vs COUNT(*), incomplete windows) found by the r4 probe.
    # NULL grouping KEYS (user_id/event_type) were probed too and are NOT
    # in the matrix deliberately: a nullable int64 key column materializes
    # as float64 in pandas on the DuckDB side ('0' vs '0.0'), which the
    # driver's type-strict hash would flag regardless of engine agreement,
    # and count-distinct-vs-dedup-count semantics over NULL keys are
    # ambiguous. If the generator ever emits null keys, resolve those two
    # contracts first (a10, st2).
    values[30::31] = None
    ts_ns = base_ns + np.cumsum(rng.integers(1, 10**9, n))
    # the driver has shipped BOTH physical encodings (nanos through r3,
    # micros since); exercise whichever this fixture was parametrized with
    ts = (
        pa.array(ts_ns, pa.timestamp("ns"))
        if ts_unit == "ns"
        else pa.array(ts_ns // 1000, pa.timestamp("us"))
    )
    return pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": ts,
            "user_id": pa.array(rng.integers(0, 15, n), pa.int64()),
            "event_type": pa.array(
                [EVENT_TYPES[int(x)] for x in rng.integers(0, 5, n)], pa.string()
            ),
            "value": pa.array(list(values), pa.float64()),
            "props": pa.array(
                [None if i % 37 == 36 else json.dumps({"k": int(x)})
                 for i, x in enumerate(rng.integers(0, 100, n))],
                pa.string(),
            ),
        }
    )


def _gen_embeddings(seed: int, n: int = 300, dim: int = 64) -> pa.Table:
    """Embeddings in the driver's shape (vec_id, list<float>, label) with
    the edge rows a regenerated generator could emit: exact-duplicate
    vectors every 17th row (the near-dup signal), an all-zero vector every
    29th row offset 13 (cosine undefined — the engines disagree about NaN
    comparison semantics unless zero norms are excluded on both sides),
    and a tiny-magnitude vector every 31st (norm > 0, no special casing).
    vec_id 0..4 are query rows for s1/s4/s5 and stay non-degenerate."""
    rng = np.random.default_rng(seed + 7)
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    rows: list = []
    for i in range(n):
        if i >= 17 and i % 17 == 0:
            vecs[i] = vecs[i - 17]
        elif i % 29 == 13:
            vecs[i] = np.zeros(dim, np.float32)
        elif i % 31 == 30:
            vecs[i] = (vecs[i] * 1e-6).astype(np.float32)
        # NULL embedding — must drop out of every similarity op on both
        # engines (Spark NULL-propagated dot vs DuckDB empty unnest)
        rows.append(None if i % 59 == 44 else list(map(float, vecs[i])))
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(rows, pa.list_(pa.float32())),
            "label": pa.array([i % 10 for i in range(n)], pa.int32()),
        }
    )


def _gen_customer(seed: int, n: int = 12) -> pa.Table:
    """Tiny customer dim keyed into the events user_id space [0, 15): some
    users have no customer row (inner-join drops must agree), one segment
    is NULL (string group-by-null path), and segments regenerate with the
    seed. Only the columns the stream-static join reads."""
    rng = np.random.default_rng(seed + 11)
    segs = ["MACHINERY", "BUILDING", "FURNITURE", "AUTOMOBILE", "HOUSEHOLD"]
    seg = [segs[int(x)] for x in rng.integers(0, 5, n)]
    seg[n - 1] = None
    return pa.table(
        {
            "c_custkey": pa.array(range(n), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], pa.string()),
            "c_mktsegment": pa.array(seg, pa.string()),
        }
    )


def _seed_params():
    """Two pinned seeds (one per ts encoding) + any extras from
    SPARK_GRAFT_RESEED_SEEDS (comma-separated) — an escape hatch to prove
    the corpus is not overfit to the pinned pair without editing tests."""
    base = [(1310, "ns"), (7177, "us")]
    extra = os.environ.get("SPARK_GRAFT_RESEED_SEEDS", "")
    for i, s in enumerate(x for x in extra.split(",") if x.strip()):
        base.append((int(s), "us" if i % 2 else "ns"))
    return base


@pytest.fixture(
    scope="module",
    params=_seed_params(),
    ids=lambda p: f"seed{p[0]}-{p[1]}",
)
def reseed_dir(request, tmp_path_factory):
    seed, ts_unit = request.param
    d = tmp_path_factory.mktemp(f"reseed{seed}")
    pq.write_table(_gen_documents(seed), os.path.join(d, "documents.parquet"))
    pq.write_table(_gen_events(seed, ts_unit=ts_unit), os.path.join(d, "events.parquet"))
    pq.write_table(_gen_embeddings(seed), os.path.join(d, "embeddings.parquet"))
    pq.write_table(_gen_customer(seed), os.path.join(d, "customer.parquet"))
    return str(d)


#: every oracle query whose input tables are ONLY documents/events
DOC_EVENT_QUERIES = [
    "t1_exact_dedup",
    "t2_ngram_jaccard_pairs",
    "t3_token_stats",
    "t4_lang_id_confusion",
    "t5_char_fingerprint",
    "t6_quality_scores",
    "t9_levenshtein_pairs",
    "t10_dedup_clusters",
    "t11_text_normalize",
    "t12_train_val_test_split",
    "t13_kfold_assignment",
    "t14_word_token_count",
    "t15_pii_masking",
    "t16_contamination_check",
    "t17_repetition_ratio",
    "t18_char_entropy",
    "t19_bigram_lm",
    "f12_clamp_round",
    "f1_f2_tz_normalize",
    "m12_median_absolute_deviation",
    "m10_histogram_bins",
    "m10b_group_quartiles",
    "dq2_iqr_outliers",
    "window_frames",
    "j9_null_safe_join",
    "w4_w5_calendar_buckets",
    "a5_top1_event_type_per_user",
    "a10_argmax_peak_hour",
    "w1_lag_delta_per_user",
    "w2_sequence_windows",
    "skew_salted_agg",
    "st1_streaming_hourly_counts",
    "st2_streaming_dedup",
    "st6_foreachbatch_upsert",
    # round-4 additions: the regressed window/streaming family + the new
    # t7/mm2 oracles and t8 (absent from the original list)
    "w9_sessionization",
    "w12_time_range_frame",
    "st3_streaming_session_window",
    "st5_stream_stream_join",
    "st4_stateful_running_max",
    "t7_minhash_lsh_dedup",
    "t8_simhash_pairs",
    "mm2_decode_features",
    # round-4 training-pipeline extensions over documents (e1 reads
    # embeddings, which this harness doesn't generate)
    "t20_context_chunking",
    "t21_vocab_topk",
    "t22_tfidf_top_terms",
    "t23_sequence_packing",
    "t24_mixture_resample",
    "t25_canonical_selection",
    "mm3_audio_features",
    "mm4_frame_sample",
    "ev1_funnel_conversion",
    "ev2_cohort_retention",
    "t26_leakage_free_split",
    "st8_streaming_sliding_counts",
    "w15_windowed_median",
    "j10_asof_join_forward",
    "m13_pearson_sufficient_stats",
    "j7_asof_join",
    # round-4c: sequence construction + group-relative quality filter
    "t27_user_event_sequences",
    "t29_adaptive_quality_filter",
    # round-4c: acquisition curve + volume anomalies (events-only)
    "w16_user_acquisition_curve",
    "dq4_volume_anomalies",
    # round-4c: transition matrix + incremental rollup merge (events-only)
    "ev3_transition_matrix",
    "cdc2_incremental_rollup",
    # round-4c: session interval overlap self-join (events-only)
    "j11_interval_overlap_join",
    # round-4c: regular-grid resample + forward fill (events-only)
    "w17_regular_grid_resample",
    # round-4c: VARIANT extraction (the reseed matrix includes NULL props)
    "f17_variant_extract",
    # round-4d: boilerplate segments, LM perplexity filter, content sharding
    # (documents-only; NULL/empty/CJK text must drop identically on both
    # engines, and md5-of-UTF-8 must bucket identically)
    "t30_boilerplate_segments",
    "t31_lm_perplexity_filter",
    "t32_content_shard_assignment",
    # round-4d: BPE pair statistics (ASCII-projected — CJK/accent docs in
    # the matrix prove the projection drops identically on both engines)
    "t33_bpe_pair_merge",
    # round-4d: the embeddings family on the new embeddings fixture —
    # duplicate vectors must pair up and zero-norm vectors must be
    # excluded identically (Spark NULL-cosine vs DuckDB NaN-compares-
    # greater would otherwise diverge silently)
    "s1_cosine_topk",
    "s2_embedding_near_dup",
    "s3_lsh_ann_buckets",
    "s4_ivf_topk",
    "s5_topk_per_query",
    "s6_semantic_dedup",
    "e1_embedding_quantization",
    # round-4d: resize round trip (fixture pixels derive from doc_id only,
    # so any regenerated documents table exercises it)
    "mm5_image_resize",
    # round-4d: streaming near-dup gate (docs-only; duplicate docs in the
    # fixture land on both sides of the stream/static split)
    "st9_streaming_neardup_gate",
    # round-4e: BM25 retrieval, hashed quality classifier, n-gram novelty
    # (documents-only; NULL/empty/CJK text must drop identically and the
    # md5-portable hash must bucket identically), time-decay features
    # (events-only; EXP's 6-dp floor bracket must hold on any seed's
    # timestamp spread)
    "s7_bm25_retrieval",
    "t34_hashed_quality_classifier",
    "t35_ngram_novelty",
    "w18_time_decay_features",
    # round-4e: rank-based statistics (events-only; the NULL-value rows and
    # .5-boundary duplicates in the fixture stress the tie handling), funnel
    # latency percentiles, cross-source overlap matrix (documents-only)
    "m15_mann_whitney_u",
    "m16_spearman_rank_corr",
    "ev4_conversion_latency",
    "t36_cross_source_overlap",
    # round-4e: RFM quartile segmentation (exact-percentile boundary
    # broadcast — interpolated thresholds must compare identically on any
    # seed's value spread) and rolling 7-day distinct actives (events-only)
    "ev5_rfm_segmentation",
    "w19_rolling_distinct_users",
    # round-4e: linear multi-touch attribution (events-only; NULL ts/value
    # rows and duplicate timestamps in the fixture stress the band join)
    # and the Jaccard threshold sweep (documents-only; reuses the shared
    # t2 pair graph on the fixture's duplicate docs)
    "ev6_linear_attribution",
    "t37_jaccard_threshold_sweep",
    # round-4e: item co-visitation (events-only; NULL props rows in the
    # fixture must drop identically through the VARIANT/json extraction)
    "r1_item_covisitation",
    # round-4e: winsorized stats (events-only; data-derived clip bounds
    # must interpolate identically on any seed's value spread)
    "f18_winsorized_stats",
    # round-4e: DFT band energies (fixture payloads derive from doc_id
    # only, so any regenerated documents table exercises the full
    # encode → decode → spectral pipeline)
    "mm6_audio_dft_bands",
    # round-4e: variance-homogeneity test and gap audit (events-only; the
    # fixture's NULL values/ts and duplicate timestamps stress the median
    # centering and the lag tie-break)
    "m17_levene_brown_forsythe",
    "dq7_data_gaps",
    # round-4e: two-proportion z-test (events-only) and embedding drift
    # (the embeddings fixture's NULL/zero/duplicate vectors stress the
    # per-dim means and the null filter)
    "m18_two_proportion_ztest",
    "e2_embedding_drift",
    # round-4e: lag-1 autocorrelation (events-only; duplicate timestamps
    # in the fixture stress the window tie-break)
    "m19_lag1_autocorrelation",
    # round-4e: PageRank over the co-visitation graph (events-only; the
    # edge threshold and per-iteration quantization must agree on any
    # seed's item graph, including degenerate few-edge graphs)
    "g1_item_pagerank",
    # round-4e: triangle counting (same graph, triangle-free degenerate
    # seeds exercise the LEFT JOIN zero path) and CUSUM change points
    # (duplicate timestamps stress both window tie-breaks)
    "g2_triangle_clustering",
    "w20_cusum_change_point",
    # round-4e: Kaplan-Meier (events-only; seeds where every/no user
    # errors exercise the censor-all and die-out branches)
    "m20_kaplan_meier",
    # round-4e: streaming drift monitor (embeddings-only; NULL/zero/dup
    # vectors must drop identically through the partials path, and the
    # merged partials must still hit e2's oracle on any seed)
    "st10_streaming_drift_monitor",
    # round-4e: sketch-accuracy audit (documents-only; the duplicate docs
    # in the fixture give candidate pairs on any seed, and est==exact==1
    # for verbatim copies pins the zero-error path)
    "t38_sketch_accuracy_audit",
    # round-4e: Kruskal-Wallis (events-only; the fixture's NULL values and
    # .5-boundary duplicate values stress the midrank tie handling, and a
    # seed with a single event type exercises the SST>0 guard)
    "m21_kruskal_wallis",
    # round-4e: Zipf fit (documents-only; NULL/empty/CJK docs must tokenize
    # identically, and a near-uniform vocabulary stresses the tie-broken
    # rank order the LN transform feeds on)
    "t39_zipf_law_fit",
    # round-4e: image aHash near-dup (fixture pixels derive from doc_id
    # only, so any regenerated documents table exercises the full
    # decode→hash→bucket pipeline)
    "mm7_image_ahash_neardup",
    # round-4e: RRF hybrid retrieval (documents+embeddings; inherits s7's
    # NULL-text and s1's zero-norm/NULL-vector guards, and the outer-join
    # fusion must agree when a doc appears in only one ranking)
    "s8_rrf_hybrid_retrieval",
    # round-4e: degree assortativity (events-only; the tiny fixture graph
    # is empty or regular at the co>=30 threshold, so both engines must
    # agree on the zero-row degenerate path)
    "g3_degree_assortativity",
    # round-4g: rank/pair statistics over events (NULL values and .5
    # boundaries stress the exact-integer pair counting and the Lehmer
    # relabeling), graph shapes over the fixture's item graph (empty/
    # adaptive-threshold degenerate paths), path/session analytics
    # (duplicate timestamps stress every (ts, event_id) tie-break), and
    # the Count-Min pair whose md5 buckets must agree on any item set
    "m28_kendall_tau",
    "g6_ra_link_prediction",
    "ev8_top_event_paths",
    "a23_countmin_heavy_hitters",
    "w25_seasonal_naive_backtest",
    "m29_gini_concentration",
    "g7_katz_centrality",
    "j12_followup_anti_join",
    "m30_randomization_test",
    "dq10_freshness_lag",
    "st12_streaming_countmin",
    "w26_dominant_period",
    "ev9_transition_dwell",
    "a25_bounce_rate",
    "w27_daily_movers",
    # round-4g: documents-only shapes (NULL/empty/CJK docs must tokenize
    # and hash identically through the lift deciles, the containment
    # inverted index, and the PMI vocabulary floor)
    "a24_decile_lift",
    "t46_containment_pairs",
    "t47_pmi_cooccurrence",
    # round-4g: embeddings-only shapes (NULL/zero/duplicate vectors must
    # drop or tie identically through the integer silhouette, the MMR
    # candidate quantization, and the gram-matrix power iteration)
    "e7_silhouette_audit",
    "s10_mmr_diversified_topk",
    "e8_power_iteration_audit",
    # round-4g batches 8-9: md5-pixel histogram+entropy (fixture derives
    # from doc_id only), interval-union sweep and runs test over events
    # (duplicate timestamps stress the merge tie-break; tie days must
    # drop identically through the NULL-sign filter)
    "mm9_channel_histogram",
    "w28_interval_coverage",
    "m31_runs_test",
    # round-4g batch 10: step-integral TWAP (NULL values and duplicate
    # timestamps stress the LEAD tie-break and the dt >= 0 guard), id-gap
    # audit (pure integer aggregation)
    "w29_time_weighted_avg",
    "dq11_id_gap_audit",
    # round-4g batch 10: incremental dedup ledger (NULL texts drop, the
    # fixture's every-17th duplicate docs land in later batches)
    "t48_incremental_dedup_ledger",
    # round-4g batch 11: interpolation join (duplicate timestamps stress
    # the encoded-key carry; NULL values drop before bracketing)
    "j13_interpolation_join",
    # round-4g batch 12: G-test (sparse cells exercise the obs > 0 drop),
    # Simpson diversity (pure integer pair counts)
    "m32_g_test",
    "a26_simpson_diversity",
    # round-4g batch 12: cardinality drift (NULL props drop through the
    # item leg; integer week bucketing must agree on any ts spread)
    "dq12_cardinality_drift",
    # round-4g batch 13: prefix-filter exact similarity (NULL/empty/CJK
    # docs must tokenize identically, and the fixture's every-17th
    # verbatim duplicates stress the prefix-collision path; the oracle is
    # unfiltered brute force, so any lost pair fails the hash)
    "t49_prefix_filter_jaccard",
    # round-6: the new codec queries (md5 fixtures derive from doc_id
    # only, so the parity must hold under any reseed), the routing twins
    # over events/documents, and the capped interval join
    "mm10_png_decode_features",
    "mm11_g711_audio_decode",
    "mm12_adpcm_audio_decode",
    # round-7: lossless-JPEG + WebP-lossless + AVI/MJPEG decode (md5
    # fixtures derive from doc_id only)
    "mm13_jpeg_lossless_decode",
    "mm14_webp_lossless_decode",
    "mm15_avi_mjpeg_frames",
    "mm16_gif_decode",
    "mm17_flac_audio_decode",
    "mm18_tiff_decode",
    "mm19_msadpcm_audio_decode",
    "t38b_sketch_audit_dedup_first",
    "m28b_kendall_tau_sampled",
    "j11b_interval_overlap_capped",
    "j14_bucketed_asof_join",
    "w28_bucketed_systematic_sample",
    "a27_bucketed_equi_depth",
    # round-7: the rest of the never-driver-graded backlog enters the r7
    # grading window on FRESH-SEED data — the r4 lesson says this exact
    # class regresses on regeneration, so every one of them gets reseed
    # coverage BEFORE its first driver grade. Events-only shapes (NULL
    # values/ts, duplicate timestamps, and .5 boundaries stress each
    # family's tie-breaks and guards):
    "w23_ewma_daily",
    "dq8_column_profile",
    "t45_portable_hll_distinct",
    "w24_robust_anomaly_days",
    "m25_poisson_bootstrap_ci",
    "m26_theil_sen_trend",
    "r2_item_topk_neighbors",
    "g4_bfs_reachability",
    "a22_equi_depth_histogram",
    "dq9_event_order_inversions",
    "m27_two_sample_qq",
    "g5_partition_modularity",
    "st11_streaming_hll_distinct",
    # documents-only (NULL/empty/CJK docs must score and shot-segment
    # identically; mm8's frame payloads derive from doc_id alone):
    "t42_gopher_quality_rules",
    "mm8_video_shot_boundary",
    # embeddings-only (NULL/zero/duplicate vectors must drop or tie
    # identically through the class-separation, variance-collapse, JL
    # pair, and kNN-consistency paths — e6/e6b also changed call sites
    # this round, so their reseed row doubles as the regression net):
    "e4_fisher_separation",
    "e5_dimension_collapse_audit",
    "e6_jl_projection_audit",
    "e6b_jl_audit_sampled",
    "e3_knn_label_consistency",
    "e3b_knn_consistency_routed",
    # round-7 close-out: EVERY remaining oracle query whose inputs the
    # fixture can generate — previously-graded greens included, because
    # the r4 lesson is that a fresh seed can break a green (these grades
    # predate at least one regeneration). Events/documents/embeddings
    # shapes:
    "a14_sorted_array_agg",
    "a18_bool_aggregates",
    "a6_pivot_user_hour_profile",
    "ev7_wilson_ctr_ranking",
    "f5_f6_bucket_and_label",
    "f_json_struct",
    "j2_hour_bucket_join",
    "j8_range_band_join",
    "m24_jensen_shannon",
    "ml5_roc_auc",
    "mm1_multimodal_binary",
    "p10_ffill_per_series",
    "p11_interpolate_linear",
    "p12_try_cast_json",
    "p4_dedup_by_key",
    "p9_null_fill_coalesce",
    "s9_ann_recall_eval",
    "t40_token_budget_allocation",
    "t41_chao1_vocab_richness",
    "t43_truncation_audit",
    "t44_rolling_origin_folds",
    "w10_sliding_windows",
    "w11_stratified_systematic_sample",
    "w13_first_last_value",
    "w14_longest_streak",
    "w21_weekly_trend_decomposition",
    "w22_ohlc_bars",
    "w7_systematic_sample",
    # documents-only via the shared hashed-score frame:
    "m22_cohens_kappa",
    "m23_population_stability",
    "ml4_calibration_bins",
    "f20_quantile_normalization",
    # stream-static join: the fixture's new tiny customer dim keys into
    # the events user_id space (inner-join drops + NULL segment group)
    "st7_stream_static_join",
    # round-8: the new codec queries (md5 fixtures derive from doc_id
    # only, so parity must hold under any reseed) — float/extensible WAV,
    # stereo per-channel features, the PNG spec matrix, extended TIFF
    "mm20_float_wav_decode",
    "mm21_png_variants_decode",
    "mm22_stereo_wav_channels",
    "mm23_tiff_extended_decode",
    "mm24_avi_audio_demux",
    "mm25_bmp_variants_decode",
    # round-8: WARC wraps each doc's own text (NULL/empty/CJK docs must
    # survive the container byte-exactly under any seed)
    "mm26_warc_ingest",
    "mm27_webdataset_ingest",
    "mm28_vit_patchify",
    "st13_streaming_media_decode",
    # round-9: HTML extraction re-assembles expected text from the raw
    # column, BPE re-derives from the text's [a-z]+ projection, URL
    # canonicalization from doc_id alone — all reseed-independent
    "mm29_html_text_extract",
    "mm30_url_canonicalize",
    "t50_bpe_encode",
    "mm31_crawl_quality_pipeline",
    "t51_bpe_mixture_budget",
    "mm32_charset_transfer_decode",
    "st14_streaming_crawl_extract",
    "mm33_robots_policy",
    "t52_extracted_lang_id",
    # round-10: transfer decoding + boilerplate re-assemble expected text
    # from the raw column; byte-BPE re-derives from the augmented text's
    # pretoken projection; paragraph dedup from the extraction scaffold —
    # all reseed-independent
    "mm34_transfer_decoding",
    "t53_byte_bpe_encode",
    "mm35_boilerplate_removal",
    "t54_paragraph_dedup",
    "mm36_http_status_frontier",
    "mm37_wet_conversion_sink",
    "st15_streaming_transfer_decode",
    "mm38_crawl_admission",
    "mm39_cdx_index",
]


@pytest.mark.parametrize("name", DOC_EVENT_QUERIES)
def test_reseed_parity(spark, reseed_dir, name):
    spec = CORPUS[name]
    if spec.oracle is None:
        pytest.skip("rows-only query")
    diff = oracle_diff(spec.fn(spark, reseed_dir), spec.oracle, duck_views(reseed_dir))
    assert diff is None, f"{name}: {diff}"
