"""Benchmark harness: runs the engine's headline queries at a given scale
factor and prints ONE JSON line with per-query wall-clock seconds.

Env:
  SPARK_GRAFT_SF_DIR  parquet dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local parallelism (default: all cores)

Each query materializes via the ``noop`` sink — full execution, no
driver-side result transfer, so the number is engine time, not collect time.
The first query's time includes JVM/codegen warmup; a warmup pass runs first
so per-query numbers are steady-state.

Run-to-run comparability: single-shot timings sit in a ±35% noise band
(three runs of identical code measured 36.8 vs 44.5 vs 49.2 s), so each query runs SPARK_GRAFT_REPEATS times (default 3)
in-process and the headline per-query number is the MEDIAN; the min of each
query is also reported under "queries_min" for best-case comparison. The
"queries"/"value" keys keep their historical meaning (one number per query /
total seconds) so BENCH_HISTORY.jsonl remains key-compatible.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from youbike_etl_pipeline_spark.plans.corpus import CORPUS  # noqa: E402
from youbike_etl_pipeline_spark.session import get_spark  # noqa: E402

#: Headline queries (subset of the corpus; every name must exist there).
#: Keys only ever append, so every BENCH_HISTORY.jsonl line stays
#: comparable with the lines before it.
HEADLINE = [
    "flagship_segment_health",
    "a1_tpch_q1_pricing_summary",
    "q3_shipping_priority",
    "window_frames",
    "j1_fact_dim_revenue",
    "j2_hour_bucket_join",
    "j5_nearest_neighbor_join",
    "j7_asof_join",
    "a5_top1_event_type_per_user",
    "a6_pivot_user_hour_profile",
    "w1_lag_delta_per_user",
    "w2_sequence_windows",
    "p6_filter_predicates",
    "p11_interpolate_linear",
    "m1_group_confidence_intervals",
    "m6_chi_square_independence",
    "t1_exact_dedup",
    "t2_ngram_jaccard_pairs",
    "t7_minhash_lsh_dedup",
    "s1_cosine_topk",
    "s2_embedding_near_dup",
    "q13_customer_order_distribution",
    "q18_large_volume_customers",
    "t10_dedup_clusters",
    "t16_contamination_check",
    "ml3_lstm_batch_inference",
    "t20_context_chunking",
    "t21_vocab_topk",
    "t22_tfidf_top_terms",
    "t23_sequence_packing",
    "t24_mixture_resample",
    "e1_embedding_quantization",
    "q6_forecast_revenue",
    "q8_national_market_share",
    "ev1_funnel_conversion",
    "ev2_cohort_retention",
    "mm4_frame_sample",
    "q9_product_type_profit",
    "q21_suppliers_kept_waiting",
    "t27_user_event_sequences",
    "t28_negative_sampling",
    "t29_adaptive_quality_filter",
    "w16_user_acquisition_curve",
    "dq4_volume_anomalies",
    "ev3_transition_matrix",
    "cdc2_incremental_rollup",
    "j11_interval_overlap_join",
    "dq5_referential_integrity",
    "w17_regular_grid_resample",
    "f17_variant_extract",
    "a21_pareto_concentration",
    "m14_benford_first_digit",
    "t30_boilerplate_segments",
    "t31_lm_perplexity_filter",
    "t32_content_shard_assignment",
    "s6_semantic_dedup",
    "t33_bpe_pair_merge",
    "mm5_image_resize",
    "s7_bm25_retrieval",
    "t34_hashed_quality_classifier",
    "t35_ngram_novelty",
    "w18_time_decay_features",
    "m15_mann_whitney_u",
    "m16_spearman_rank_corr",
    "ev4_conversion_latency",
    "t36_cross_source_overlap",
    "ev5_rfm_segmentation",
    "w19_rolling_distinct_users",
    "ev6_linear_attribution",
    "t37_jaccard_threshold_sweep",
    "r1_item_covisitation",
    "f18_winsorized_stats",
    "f19_target_encoding",
    "dq6_join_key_skew",
    "mm6_audio_dft_bands",
    "m17_levene_brown_forsythe",
    "dq7_data_gaps",
    "m18_two_proportion_ztest",
    "e2_embedding_drift",
    "m19_lag1_autocorrelation",
    "g1_item_pagerank",
    "g2_triangle_clustering",
    "w20_cusum_change_point",
    "m20_kaplan_meier",
    "st10_streaming_drift_monitor",
    "t38_sketch_accuracy_audit",
    "m21_kruskal_wallis",
    "t39_zipf_law_fit",
    "mm7_image_ahash_neardup",
    "s8_rrf_hybrid_retrieval",
    "g3_degree_assortativity",
    "er1_blocked_record_linkage",
    "w21_weekly_trend_decomposition",
    "ev7_wilson_ctr_ranking",
    "ml4_calibration_bins",
    "m23_population_stability",
    "t40_token_budget_allocation",
    "ml5_roc_auc",
    "e3_knn_label_consistency",
    "m25_poisson_bootstrap_ci",
    "t45_portable_hll_distinct",
    "f20_quantile_normalization",
    "w22_ohlc_bars",
    "m28_kendall_tau",
    "g6_ra_link_prediction",
    "t46_containment_pairs",
    "e8_power_iteration_audit",
    "t47_pmi_cooccurrence",
    "st12_streaming_countmin",
    "m30_randomization_test",
    "e7_silhouette_audit",
    "t49_prefix_filter_jaccard",
    "j11b_interval_overlap_capped",
    "m28b_kendall_tau_sampled",
    "e6b_jl_audit_sampled",
    "t38b_sketch_audit_dedup_first",
    "e3b_knn_consistency_routed",
    "mm10_png_decode_features",
    "mm11_g711_audio_decode",
    "mm12_adpcm_audio_decode",
    "mm13_jpeg_lossless_decode",
    "mm14_webp_lossless_decode",
    "mm15_avi_mjpeg_frames",
    "mm16_gif_decode",
    "mm17_flac_audio_decode",
    "mm18_tiff_decode",
    "mm19_msadpcm_audio_decode",
    "mm20_float_wav_decode",
    "mm21_png_variants_decode",
    "mm22_stereo_wav_channels",
    "mm23_tiff_extended_decode",
    "mm24_avi_audio_demux",
    "mm25_bmp_variants_decode",
    "mm26_warc_ingest",
    "mm27_webdataset_ingest",
    "mm28_vit_patchify",
    "st13_streaming_media_decode",
    "mm29_html_text_extract",
    "mm30_url_canonicalize",
    "t50_bpe_encode",
    "mm31_crawl_quality_pipeline",
    "t51_bpe_mixture_budget",
    "mm32_charset_transfer_decode",
    "st14_streaming_crawl_extract",
    "mm33_robots_policy",
    "t52_extracted_lang_id",
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


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")

    names = [n for n in HEADLINE if n in CORPUS]
    extra = [n for n in CORPUS if n not in names and CORPUS[n].oracle is not None]
    names += extra[: max(0, 12 - len(names))]

    repeats = max(1, int(os.environ.get("SPARK_GRAFT_REPEATS", "3")))

    # Warmup: run the flagship once to pay JVM/codegen/IO-cache startup.
    CORPUS[names[0]].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()

    # classes Janino compiled: a rep that recompiles is paying codegen, not
    # execution, and shows here without a profiler
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    # milliseconds the JVM's JIT compilers (C1/C2) spent, summed over their
    # threads: Catalyst and generated code keep the JIT busy well after
    # warm-up, and that CPU shows in no Spark task metric
    jit = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    runs: dict[str, list[float]] = {n: [] for n in names}
    compiles: dict[str, list[int]] = {n: [] for n in names}
    jit_ms: dict[str, list[int]] = {n: [] for n in names}
    for _ in range(repeats):
        # clear session-shared materializations (t2/t10's pair graph, the
        # covis edges) so every repeat pays the true cost once, like a fresh
        # session would — otherwise later repeats read a warm cache and the
        # median under-reports steady-state work. The clear also unpersists
        # every checkpoint the previous repeat materialized, so executor
        # storage does not grow across repeats.
        from youbike_etl_pipeline_spark.plans import corpus as _corpus

        _corpus.clear_pair_graph_cache()
        for name in names:
            c0, j0 = codegen.getCount(), jit.getTotalCompilationTime()
            t0 = time.perf_counter()
            CORPUS[name].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            runs[name].append(round(time.perf_counter() - t0, 3))
            compiles[name].append(codegen.getCount() - c0)
            jit_ms[name].append(jit.getTotalCompilationTime() - j0)

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else round((s[mid - 1] + s[mid]) / 2, 3)

    timings = {n: median(ts) for n, ts in runs.items()}
    timings_min = {n: min(ts) for n, ts in runs.items()}
    total = round(sum(timings.values()), 3)
    # The per-query reps live in the BENCH_RUNS.json sidecar, so the printed
    # contract stays one short line. Written to a temp file and renamed, so
    # a crash never leaves half a file.
    sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_RUNS.json")
    tmp = f"{sidecar}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(
            {
                "repeats": repeats,
                "sf": float(sf),
                "runs": runs,
                "codegen_compiles": compiles,
                "jit_compile_ms": jit_ms,
            },
            f,
        )
    os.replace(tmp, sidecar)
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_clock_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_min": timings_min,
                "total_min": round(sum(timings_min.values()), 3),
                "repeats": repeats,
                "runs_file": "BENCH_RUNS.json",
                "sf": float(sf),
            }
        )
    )


if __name__ == "__main__":
    main()
