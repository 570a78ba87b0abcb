"""The named-query corpus: one entry per implemented SURVEY §2 operator.

Each :class:`QuerySpec` pairs a Spark implementation (built on the operator
library) with a DuckDB-runnable ANSI-SQL oracle over the same parquet tables.
The driver cross-checks row count + schema + order-insensitive value hash at
sf=0.01; ``tests/test_parity.py`` runs the same check locally at sf=0.001.

Float determinism discipline (so Spark and DuckDB hash-match exactly):

- Sums of doubles go through :func:`~..operators.aggregations.decimal_sum`
  (cast to decimal → exact associative sum → back to double). Plain double
  sums are partition-order dependent and would differ run to run.
- Means use :func:`~..operators.aggregations.decimal_avg` (exact sum, one
  double division).
- Variance-family stats (stddev/skew) are rounded to 6 decimals on both
  sides; their cross-engine drift is ~1e-12 relative.
- Window orderings always carry a unique tie-break column.
- Every computed column is aliased identically in Spark and SQL.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import aggregations as agg
from ..operators import joins as oj
from ..operators import multimodal as mm
from ..operators import relational as rel
from ..operators import skew as osk
from ..operators import windows as ow
from ..sources.readers import local_frame, read_events, read_parquet_table

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # None → driver records a weaker rows-only check
    survey_rows: str = ""  # SURVEY §2 rows this query exercises
    description: str = ""


CORPUS: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str | None, survey_rows: str = "", description: str = ""
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        CORPUS[name] = QuerySpec(name, fn, oracle, survey_rows, description)
        return fn

    return deco


#: Queries whose Spark fn or oracle SQL recent changes rewrote, newest first —
#: exported first so the correctness gate re-grades them (and
#: tests/test_parity_changed_sf01.py checks them at sf0.01).
CHANGED_THIS_ROUND: tuple[str, ...] = (
    "j7_asof_join",
    "j10_asof_join_forward",
    "j14_bucketed_asof_join",
    "q11_important_part_value",
    "q20_supplier_part_chain",
    "w9_sessionization",
    "st9_streaming_neardup_gate",
    "t33_bpe_pair_merge",
    "s7_bm25_retrieval",
    "t34_hashed_quality_classifier",
    "t37_jaccard_threshold_sweep",
    "t38_sketch_accuracy_audit",
    "ml4_calibration_bins",
    "m22_cohens_kappa",
    "m23_population_stability",
    "t40_token_budget_allocation",
    "ml5_roc_auc",
    "t42_gopher_quality_rules",
    "t43_truncation_audit",
    "f20_quantile_normalization",
    "a24_decile_lift",
    "t46_containment_pairs",
    "t47_pmi_cooccurrence",
    "m28b_kendall_tau_sampled",
    "t38b_sketch_audit_dedup_first",
    "e3b_knn_consistency_routed",
    "t52_extracted_lang_id",
    "j4_anti_join_customers_without_orders",
    "mm7_image_ahash_neardup",
    "mm8_video_shot_boundary",
    "mm9_channel_histogram",
    "mm11_g711_audio_decode",
    "mm12_adpcm_audio_decode",
    "mm15_avi_mjpeg_frames",
    "mm19_msadpcm_audio_decode",
    "mm22_stereo_wav_channels",
    "t2_ngram_jaccard_pairs",
    "t7_minhash_lsh_dedup",
    "t10_dedup_clusters",
    "t25_canonical_selection",
    "t26_leakage_free_split",
    "t49_prefix_filter_jaccard",
    "t50_bpe_encode",
    "t51_bpe_mixture_budget",
    "t53_byte_bpe_encode",
    "t55_gpt2_pretokenize",
    "r1_item_covisitation",
    "r2_item_topk_neighbors",
    "g4_bfs_reachability",
    "g5_partition_modularity",
    "t39_zipf_law_fit",
    "m25_poisson_bootstrap_ci",
    "m30_randomization_test",
    "st1_streaming_hourly_counts",
    "st2_streaming_dedup",
    "st3_streaming_session_window",
    "st4_stateful_running_max",
    "st5_stream_stream_join",
    "st6_foreachbatch_upsert",
    "st7_stream_static_join",
    "st8_streaming_sliding_counts",
    "st10_streaming_drift_monitor",
    "st11_streaming_hll_distinct",
    "st12_streaming_countmin",
    "st13_streaming_media_decode",
    "st14_streaming_crawl_extract",
    "st15_streaming_transfer_decode",
    "mm26_warc_ingest",
    "mm32_charset_transfer_decode",
    "mm34_transfer_decoding",
    "flagship_segment_health",
    "mm2_decode_features",
    "mm3_audio_features",
    "mm4_frame_sample",
    "mm5_image_resize",
    "mm6_audio_dft_bands",
    "mm10_png_decode_features",
    "mm13_jpeg_lossless_decode",
    "mm14_webp_lossless_decode",
    "mm16_gif_decode",
    "mm17_flac_audio_decode",
    "mm18_tiff_decode",
    "mm20_float_wav_decode",
    "mm21_png_variants_decode",
    "mm23_tiff_extended_decode",
    "mm24_avi_audio_demux",
    "mm25_bmp_variants_decode",
    "mm27_webdataset_ingest",
    "mm28_vit_patchify",
    "mm29_html_text_extract",
    "mm30_url_canonicalize",
    "mm31_crawl_quality_pipeline",
    "mm33_robots_policy",
    "mm35_boilerplate_removal",
    "mm36_http_status_frontier",
    "mm37_wet_conversion_sink",
    "mm38_crawl_admission",
    "mm39_cdx_index",
    "mm41_sitemap_discovery",
    "mm42_warc_revisit_dedup",
    "t54_paragraph_dedup",
    "t8_simhash_pairs",
    "t9_levenshtein_pairs",
    "s6_semantic_dedup",
)


def grade_ledger() -> dict[str, tuple[int, str]]:
    """Per query, the round of its most recent parity grade and its
    status then (PASS, ROWSONLY, FAIL, ERROR, or ? for a row of
    unknown shape), read from the committed ``CORRECTNESS_r*.json``
    artifacts at the repo root. The round rotates the green tail: each
    round's parity window is finite, so re-verification coverage is
    maximized by grading the STALEST greens first (a query graded long
    ago ran against testdata that has since been regenerated, where a
    regression can hide)."""
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    latest: dict[str, tuple[int, str]] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        try:
            rnd = int(os.path.basename(path)[len("CORRECTNESS_r"):-len(".json")])
            graded = json.load(open(path))
        except (ValueError, OSError, json.JSONDecodeError):
            continue
        for name, row in graded.items():
            if rnd >= latest.get(name, (0, ""))[0]:
                if not isinstance(row, dict):
                    status = "?"
                elif row.get("err"):
                    status = "ERROR"
                elif row.get("hash_match"):
                    status = "PASS"
                elif row.get("rows_match"):
                    status = "ROWSONLY"
                else:
                    status = "FAIL"
                latest[name] = (rnd, status)
    return latest


def _export_order() -> list[str]:
    """Window-steering that preserves the correctness gate's integrity:

    1. changed-this-round (oracle or fn edited — MUST be re-graded),
    2. never-GRADED queries (no driver row in any CORRECTNESS artifact),
       oracle-bearing before rows-only, registration order,
    3. everything else — graded greens AND graded rows-only — STALEST grade
       first (then registration order): the tail of the window re-checks
       prior grades for regressions, and rotating by grade age means every
       query cycles back through within a few rounds instead of the same
       recent ones being re-checked forever. (Graded rows-only queries can
       never upgrade by re-grading, so they rotate with the greens rather
       than permanently occupying window slots ahead of them.)
    """
    names = list(CORPUS)
    pos = {n: i for i, n in enumerate(names)}
    changed = {n: i for i, n in enumerate(CHANGED_THIS_ROUND)}
    last = {n: rnd for n, (rnd, _) in grade_ledger().items()}

    def rank(n: str) -> tuple:
        if n in changed:
            return (0, changed[n], 0)
        if n not in last:
            return (1 if CORPUS[n].oracle is not None else 2, 0, pos[n])
        return (3, last[n], pos[n])

    return sorted(names, key=rank)


def queries() -> dict[str, QueryFn]:
    return {name: CORPUS[name].fn for name in _export_order()}


def oracle_sql() -> dict[str, str]:
    return {
        name: CORPUS[name].oracle
        for name in _export_order()
        if CORPUS[name].oracle is not None
    }


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # the driver runs queries in its own session: pin UTC so timestamp
    # semantics match the DuckDB oracle regardless of host timezone
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        return read_events(spark, sf_dir)
    return read_parquet_table(spark, sf_dir, name)


# SQL fragment mirrors of the decimal-sum/avg discipline.
def SQL_DSUM(expr: str) -> str:
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(27,6))) AS DOUBLE)"


def SQL_DAVG(expr: str) -> str:
    return f"{SQL_DSUM(expr)} / COUNT({expr})"


def SQL_DAVG_Q4(expr: str) -> str:
    """Mirror of aggregations.decimal_avg_q4 — quantized mean for derived
    doubles (see its docstring for the per-row-count portability budget)."""
    return (
        f"CAST(SUM(CAST(FLOOR(({expr}) * 10000) AS DECIMAL(27,0))) AS DOUBLE)"
        f" / COUNT({expr}) / 10000.0"
    )


def SQL_Q6(expr: str) -> str:
    """Tie-free 6-dp output quantization: FLOOR, not ROUND. Rational
    quotients of integer/money sums land on exact .5 ties at any ROUND
    scale, and half-rule behavior is an engine/version detail; FLOOR is
    deterministic everywhere. Mirror of the Spark-side :func:`q6`."""
    return f"FLOOR(({expr}) * 1000000) / 1000000.0"


#: Spark mirror of :func:`SQL_Q6` — the one shared floor-quantizer
#: (hoisted to the operators layer).
q6 = agg.floor_quantize6


# ===========================================================================
# Flagship — the reference's "district operational health" query (SURVEY §7)
# mapped onto the driver star schema: lineitem⋈orders⋈customer →
# groupBy(c_mktsegment) 6-metric stats block (A1-A4 + A2 CV + F3 ratio).
# Reference semantics: notebooks/01_youbike_analysis.ipynb:L64-L72,L274,
# L280-L295,L310-L312.
# ===========================================================================


@register(
    "flagship_segment_health",
    f"""
    SELECT c.c_mktsegment,
           {SQL_DAVG('l.l_discount')} AS mean_disc,
           ROUND(STDDEV_SAMP(l.l_discount), 6) AS std_disc,
           COUNT(l.l_discount) AS n,
           AVG(CASE WHEN l.l_discount < 0.02 THEN 1.0 ELSE 0.0 END) AS shortage_rate,
           AVG(CASE WHEN l.l_discount > 0.08 THEN 1.0 ELSE 0.0 END) AS full_rate,
           ROUND(STDDEV_SAMP(l.l_discount) / ({SQL_DAVG('l.l_discount')}), 6) AS cv
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    survey_rows="A1,A2,A4,J1,F3",
    description="6-metric group-health block: mean/std/count + conditional "
    "rates + CV per market segment (reference notebook 01 Part A).",
)
def flagship_segment_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
        cust, orders.o_custkey == cust.c_custkey
    )
    out = agg.group_stats(joined, "c_mktsegment", "l_discount", 0.02, 0.08)
    return out.withColumnsRenamed({"mean": "mean_disc", "std": "std_disc"})


# ===========================================================================
# §2.2 Projections / filters
# ===========================================================================


@register(
    "p1_p2_project_rename",
    """
    SELECT l_orderkey AS order_key, l_linenumber AS line_no,
           l_quantity AS qty, l_returnflag AS flag
    FROM lineitem WHERE l_orderkey % 97 = 0
    """,
    survey_rows="P1,P2",
    description="Column projection + rename with a pushed-down filter.",
)
def p1_p2_project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 97 == 0)
    return li.select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag").toDF(
        "order_key", "line_no", "qty", "flag"
    )


@register(
    "p4_dedup_by_key",
    """
    SELECT user_id, COUNT(*) AS n_combos
    FROM (SELECT DISTINCT user_id, event_type FROM events)
    GROUP BY user_id
    """,
    survey_rows="P4,S8",
    description="Dedup on a business key then per-key count (idempotent-load core).",
)
def p4_dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        rel.dedup_by_key(ev.select("user_id", "event_type"), ["user_id", "event_type"])
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_combos"))
    )


@register(
    "p5_distinct_pairs",
    "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
    survey_rows="P5",
    description="Distinct pair projection.",
)
def p5_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


@register(
    "p6_filter_predicates",
    f"""
    SELECT l_returnflag, COUNT(*) AS n, {SQL_DSUM('l_extendedprice')} AS sum_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_returnflag IN ('A', 'R')
      AND l_quantity <= 30
    GROUP BY l_returnflag
    """,
    survey_rows="P6",
    description="Boolean-mask filters: range + isin + bound, all pushed down.",
)
def p6_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    filtered = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_returnflag").isin("A", "R")
        & (F.col("l_quantity") <= 30)
    )
    return filtered.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), agg.decimal_sum("l_extendedprice").alias("sum_price")
    )


@register(
    "p9_null_fill_coalesce",
    """
    SELECT event_type,
           COUNT(*) AS n,
           COUNT(CASE WHEN event_type = 'error' THEN NULL ELSE value END) AS n_obs
    FROM events GROUP BY event_type
    """,
    survey_rows="P6,P8,P9,F15",
    description="Null introduction + null-count accounting (fillna/isnull path).",
)
def p9_null_fill_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn(
        "masked", F.when(F.col("event_type") != "error", F.col("value"))
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("masked").alias("n_obs"),
    )


@register(
    "p12_try_cast_json",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod,
           COUNT(*) AS n
    FROM events GROUP BY 1
    """,
    survey_rows="P12,F11",
    description="JSON field extraction + numeric coercion (get_json_object/try_cast).",
)
def p12_try_cast_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("int")
    return ev.withColumn("k_mod", k % 10).groupBy("k_mod").agg(F.count(F.lit(1)).alias("n"))


# ===========================================================================
# §2.3 Joins
# ===========================================================================


@register(
    "j1_fact_dim_revenue",
    f"""
    SELECT r.r_name, n.n_name,
           {SQL_DSUM('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    survey_rows="J1,F3",
    description="Fact ⋈ broadcast-dimension chain → revenue rollup by region/nation.",
)
def j1_fact_dim_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy("r_name", "n_name").agg(
        agg.decimal_sum(revenue).alias("revenue"), F.count(F.lit(1)).alias("n_items")
    )


@register(
    "j2_hour_bucket_join",
    f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour_key, {SQL_DAVG('value')} AS hourly_avg
      FROM events GROUP BY 1
    )
    SELECT e.event_type,
           COUNT(*) AS n,
           {SQL_DAVG_Q4('ABS(e.value - h.hourly_avg)')} AS mean_abs_dev
    FROM events e
    JOIN hourly h ON date_trunc('hour', e.ts) = h.hour_key
    GROUP BY e.event_type
    """,
    survey_rows="J2,W4",
    description="Hour-floor time-bucket join (weather-join shape): each event "
    "joins its containing hour's aggregate.",
)
def j2_hour_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour_key")).agg(
        agg.decimal_avg("value").alias("hourly_avg")
    )
    joined = oj.hour_bucket_join(ev, hourly, fact_ts="ts", hourly_ts="hour_key", how="inner")
    dev = F.abs(F.col("value") - F.col("hourly_avg"))
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), agg.decimal_avg_q4(dev).alias("mean_abs_dev")
    )


@register(
    "j4_anti_join_customers_without_orders",
    """
    SELECT c_custkey, c_nationkey FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    """,
    survey_rows="J4,S9,P7",
    description="Left-anti join: the insert-if-absent upsert shape — "
    "customers with no 1-URGENT order (every customer has some order, so "
    "the priority filter is what leaves a non-empty graded answer).",
)
def j4_anti_join_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    new = cust.withColumnRenamed("c_custkey", "o_custkey").join(
        urgent.select("o_custkey").distinct(), on=["o_custkey"], how="left_anti"
    )
    return new.select(F.col("o_custkey").alias("c_custkey"), "c_nationkey")


@register(
    "j4b_semi_join_active_customers",
    """
    SELECT c_nationkey, COUNT(*) AS n_active FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_nationkey
    """,
    survey_rows="J4",
    description="Left-semi join (EXISTS) — anti's counterpart.",
)
def j4b_semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    orders = _t(spark, sf_dir, "orders")
    active = cust.join(orders.select("o_custkey").distinct(), on=["o_custkey"], how="left_semi")
    return active.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_active"))


@register(
    "j5_nearest_neighbor_join",
    """
    WITH pairs AS (
      SELECT s.s_suppkey, p.p_partkey,
             ABS(s.s_acctbal - p.p_retailprice) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY s.s_suppkey
               ORDER BY ABS(s.s_acctbal - p.p_retailprice) ASC, p.p_partkey ASC
             ) AS rn
      FROM supplier s CROSS JOIN part p
    )
    SELECT s_suppkey, p_partkey AS nn_partkey, ROUND(dist, 6) AS nn_dist
    FROM pairs WHERE rn = 1
    """,
    survey_rows="J5",
    description="k=1 nearest-neighbor join: broadcast cross product + "
    "arg-min window (the dist_to_mrt shape on numeric distance).",
)
def j5_nearest_neighbor_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 1-D metric → the O(n log n) sort-merge NN (the cross-product variant
    # scales O(L×R): 92× slower at a 10× blow-up — see SCALING.md)
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    nn = oj.numeric_nn_join(
        supp, part, "s_acctbal", "p_partkey", "p_retailprice"
    )
    return nn.select(
        "s_suppkey",
        F.col("nn_p_partkey").alias("nn_partkey"),
        F.round("nn_distance", 6).alias("nn_dist"),
    )


# ===========================================================================
# §2.4 / §2.5 Aggregations & windows
# ===========================================================================


@register(
    "a5_top1_event_type_per_user",
    """
    SELECT user_id, event_type, cnt FROM (
      SELECT user_id, event_type, COUNT(*) AS cnt,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY COUNT(*) DESC, event_type ASC
             ) AS rn
      FROM events GROUP BY user_id, event_type
    ) WHERE rn = 1
    """,
    survey_rows="A5,W6",
    description="Mode / top-1-by-frequency per group via ranking window.",
)
def a5_top1_event_type_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return agg.top1_per_group(ev, "user_id", "event_type")


def _user_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a6/a10's user × hour matrix: one column per hour ``0``..``23`` of
    the 6-dp mean value, 0.0 where the user has no event that hour."""
    ev = _t(spark, sf_dir, "events").withColumn("hour", F.hour("ts"))
    return (
        ev.groupBy("user_id")
        .pivot("hour", list(range(24)))
        .agg(F.round(F.avg("value"), 6))
        .na.fill(0.0)
    )


@register(
    "a6_pivot_user_hour_profile",
    "SELECT user_id, "
    + ", ".join(
        f"COALESCE(ROUND(AVG(CASE WHEN EXTRACT(hour FROM ts) = {h} THEN value END), 6), 0.0)"
        f' AS "h{h}"'
        for h in range(24)
    )
    + " FROM events GROUP BY user_id",
    survey_rows="A6,W5",
    description="Pivoted user×hour mean-value profile matrix (station×hour shape).",
)
def a6_pivot_user_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = _user_hour_profile(spark, sf_dir)
    renames = {str(h): f"h{h}" for h in range(24)}
    return wide.withColumnsRenamed(renames)


@register(
    "w1_lag_delta_per_user",
    f"""
    WITH lagged AS (
      SELECT user_id, value,
             LAG(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS value_lag1
      FROM events
    )
    SELECT user_id,
           COUNT(value_lag1) AS n_deltas,
           {SQL_DAVG_Q4('ABS(value - value_lag1)')} AS mean_abs_delta
    FROM lagged GROUP BY user_id
    """,
    survey_rows="W1,W3",
    description="Partitioned lag feature (the reference's R²-lifting lag1) + "
    "per-series delta aggregation.",
)
def w1_lag_delta_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    lagged = ow.lag_features(ev, key="user_id", ts="ts", value_col="value", lags=[1], tiebreak=["event_id"])
    delta = F.abs(F.col("value") - F.col("value_lag1"))
    return lagged.groupBy("user_id").agg(
        F.count("value_lag1").alias("n_deltas"),
        agg.decimal_avg_q4(delta).alias("mean_abs_delta"),
    )


# ===========================================================================
# §2.4 Aggregations (continued)
# ===========================================================================


@register(
    "a1_tpch_q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {SQL_DSUM('l_quantity')} AS sum_qty,
           {SQL_DSUM('l_extendedprice')} AS sum_base_price,
           {SQL_DSUM('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {SQL_DSUM('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {SQL_DAVG('l_quantity')} AS avg_qty,
           {SQL_DAVG('l_extendedprice')} AS avg_price,
           {SQL_DAVG('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    survey_rows="A1,A11,A12",
    description="TPC-H Q1 shape: two-key groupBy with 8 aggregates over the "
    "filtered fact table — the canonical scan+agg (SURVEY §2.4 note).",
)
def a1_tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        agg.decimal_sum("l_quantity").alias("sum_qty"),
        agg.decimal_sum("l_extendedprice").alias("sum_base_price"),
        agg.decimal_sum(disc_price).alias("sum_disc_price"),
        agg.decimal_sum(charge).alias("sum_charge"),
        agg.decimal_avg("l_quantity").alias("avg_qty"),
        agg.decimal_avg("l_extendedprice").alias("avg_price"),
        agg.decimal_avg("l_discount").alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "a3_describe_block",
    f"""
    SELECT COUNT(l_quantity) AS n,
           {SQL_DAVG('l_quantity')} AS mean,
           ROUND(STDDEV_SAMP(l_quantity), 6) AS std,
           MIN(l_quantity) AS min,
           ROUND(QUANTILE_CONT(l_quantity, 0.25), 6) AS q25,
           ROUND(QUANTILE_CONT(l_quantity, 0.5), 6) AS median,
           ROUND(QUANTILE_CONT(l_quantity, 0.75), 6) AS q75,
           MAX(l_quantity) AS max
    FROM lineitem
    """,
    survey_rows="A3",
    description="describe() block: count/mean/std/min/quartiles/max with exact "
    "percentiles (percentile_approx is the >TB swap-in).",
)
def a3_describe_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    v = F.col("l_quantity")
    # size-routed: exact percentile at graded scale (oracle parity),
    # percentile_approx above the per-buffer memory bound
    exact = agg.route_exact_percentile(li, [], agg.EXACT_PERCENTILE_MAX_GROUP_ROWS)
    q25, med, q75 = agg.quantile_cols(
        "l_quantity", [0.25, 0.5, 0.75], ["q25", "median", "q75"], exact
    )
    return li.agg(
        F.count(v).alias("n"),
        agg.decimal_avg(v).alias("mean"),
        F.round(F.stddev_samp(v), 6).alias("std"),
        F.min(v).alias("min"),
        q25,
        med,
        q75,
        F.max(v).alias("max"),
    )


_ORDERSTATUS = ["F", "O", "P"]


@register(
    "a7_crosstab_counts",
    """
    SELECT c.c_mktsegment,
           COUNT(CASE WHEN o.o_orderstatus = 'F' THEN 1 END) AS "F",
           COUNT(CASE WHEN o.o_orderstatus = 'O' THEN 1 END) AS "O",
           COUNT(CASE WHEN o.o_orderstatus = 'P' THEN 1 END) AS "P"
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    survey_rows="A7,J1",
    description="Contingency table (crosstab): segment × order-status counts.",
)
def a7_crosstab_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    return agg.crosstab_counts(joined, "c_mktsegment", "o_orderstatus", _ORDERSTATUS)


@register(
    "a7b_crosstab_normalized",
    """
    SELECT c_mktsegment, o_orderstatus, cnt * 1.0 / SUM(cnt) OVER (PARTITION BY c_mktsegment) AS share
    FROM (
      SELECT c.c_mktsegment, o.o_orderstatus, COUNT(*) AS cnt
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    )
    """,
    survey_rows="A7",
    description="Row-normalized crosstab shares via window row-total.",
)
def a7b_crosstab_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    return agg.crosstab_normalized(joined, "c_mktsegment", "o_orderstatus")


@register(
    "a8_crosstab_row_totals",
    """
    SELECT c.c_mktsegment,
           COUNT(CASE WHEN o.o_orderstatus = 'F' THEN 1 END) AS "F",
           COUNT(CASE WHEN o.o_orderstatus = 'O' THEN 1 END) AS "O",
           COUNT(CASE WHEN o.o_orderstatus = 'P' THEN 1 END) AS "P",
           COUNT(*) AS row_total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    survey_rows="A8",
    description="Crosstab with row totals (sum across pivoted columns).",
)
def a8_crosstab_row_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    return agg.crosstab_with_totals(joined, "c_mktsegment", "o_orderstatus", _ORDERSTATUS)


@register(
    "a9_rollup_hierarchy",
    f"""
    SELECT c_mktsegment, o_orderstatus, COUNT(*) AS n, {SQL_DSUM('o_totalprice')} AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY ROLLUP (c_mktsegment, o_orderstatus)
    """,
    survey_rows="A1 (rollup extension, SURVEY §2.4 note)",
    description="ROLLUP grouping-sets hierarchy: (seg,status) / (seg) / ().",
)
def a9_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    return joined.rollup("c_mktsegment", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), agg.decimal_sum("o_totalprice").alias("total")
    )


@register(
    "a12_count_distinct",
    """
    SELECT c_nationkey,
           COUNT(*) AS n_customers,
           COUNT(DISTINCT c_mktsegment) AS n_segments
    FROM customer GROUP BY c_nationkey
    """,
    survey_rows="A12 (distinct-agg extension, SURVEY §2.4 note)",
    description="Exact COUNT(DISTINCT) per group (approx_count_distinct is the "
    ">TB swap-in).",
)
def a12_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.countDistinct("c_mktsegment").alias("n_segments"),
    )


@register(
    "a10_argmax_peak_hour",
    """
    WITH cells AS (
      SELECT user_id, EXTRACT(hour FROM ts)::INT AS h, ROUND(AVG(value), 6) AS v
      FROM events GROUP BY 1, 2
    )
    SELECT user_id, h AS peak_index FROM (
      SELECT user_id, h,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY v DESC, h ASC) AS rn
      FROM cells
    ) WHERE rn = 1
    """,
    survey_rows="A10,A6",
    description="Arg-max over the pivoted 24-hour profile: array_position of "
    "array_max (first-max tie-break = lowest hour).",
)
def a10_argmax_peak_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = _user_hour_profile(spark, sf_dir)
    return agg.argmax_hour(wide, "user_id", [str(h) for h in range(24)]).withColumnsRenamed(
        {"peak_index": "peak_index"}
    )


# ===========================================================================
# §2.5 Windows & time (continued)
# ===========================================================================


@register(
    "w2_sequence_windows",
    f"""
    WITH lagged AS (
      SELECT user_id,
             LAG(value, 3) OVER w AS v3,
             LAG(value, 2) OVER w AS v2,
             LAG(value, 1) OVER w AS v1
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    seqs AS (
      SELECT user_id, v3 + v2 + v1 AS wsum FROM lagged
      WHERE v3 IS NOT NULL AND v2 IS NOT NULL AND v1 IS NOT NULL
    )
    SELECT user_id, COUNT(*) AS n_windows, {SQL_DAVG_Q4('wsum')} AS mean_wsum
    FROM seqs GROUP BY user_id
    """,
    survey_rows="W2,W3",
    description="Sliding 3-step sequence windows (LSTM dataset builder shape) "
    "via collect_list over a bounded frame.",
)
def w2_sequence_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    seq = ow.sequence_windows(
        ev, key="user_id", ts="ts", feature_cols=["value"], tiebreak=["event_id"]
    )
    # complete windows only: a NULL feature anywhere in the window makes it
    # unusable as an LSTM sample — mirror of the oracle's v1/v2/v3 NOT NULL
    has_null = F.size(F.filter("sequence", lambda x: x["value"].isNull())) > 0
    seq = seq.filter(~has_null)
    wsum = F.aggregate("sequence", F.lit(0.0), lambda acc, x: acc + x["value"])
    return (
        seq.withColumn("wsum", wsum)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_windows"), agg.decimal_avg_q4(F.col("wsum")).alias("mean_wsum"))
    )


@register(
    "w4_w5_calendar_buckets",
    f"""
    SELECT (isodow(ts) - 1)::INT AS dow,
           (isodow(ts) >= 6) AS is_weekend,
           (EXTRACT(hour FROM ts)::INT IN (7, 8, 9, 17, 18, 19)) AS is_peak,
           COUNT(*) AS n,
           {SQL_DSUM('value')} AS sum_value
    FROM events GROUP BY 1, 2, 3
    """,
    survey_rows="W4,W5,F14",
    description="Calendar-part extraction + peak/weekend flags (dayofweek "
    "numbering handled per SURVEY §2.5 W5).",
)
def w4_w5_calendar_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scalar import PEAK_HOURS

    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("dow", F.weekday("ts"))
        .withColumn("is_weekend", F.weekday("ts") >= 5)
        .withColumn("is_peak", F.hour("ts").isin(PEAK_HOURS))
        .groupBy("dow", "is_weekend", "is_peak")
        .agg(F.count(F.lit(1)).alias("n"), agg.decimal_sum("value").alias("sum_value"))
    )


@register(
    "w6_rank_within_group",
    f"""
    WITH rev AS (
      SELECT c.c_mktsegment, c.c_nationkey, {SQL_DSUM('o.o_totalprice')} AS revenue
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    )
    SELECT c_mktsegment, c_nationkey, revenue,
           ROW_NUMBER() OVER (
             PARTITION BY c_mktsegment ORDER BY revenue DESC, c_nationkey ASC
           ) AS rnk
    FROM rev
    """,
    survey_rows="W6",
    description="Ranking/ordering for reports: revenue rank within segment.",
)
def w6_rank_within_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(agg.decimal_sum("o_totalprice").alias("revenue"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("revenue").desc(), F.col("c_nationkey").asc())
    return rev.withColumn("rnk", F.row_number().over(w))


@register(
    "w7_systematic_sample",
    f"""
    SELECT event_type, COUNT(*) AS n, {SQL_DSUM('value')} AS sum_value
    FROM events WHERE event_id % 10 = 0 GROUP BY event_type
    """,
    survey_rows="W7",
    description="Deterministic systematic sample (key mod N); df.sample(seed) "
    "is the statistical variant (not cross-engine reproducible).",
)
def w7_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 10 == 0)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), agg.decimal_sum("value").alias("sum_value")
    )


@register(
    "w8_top_k_limit",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 5
    """,
    survey_rows="W8,W6",
    description="Deterministic head/limit: global top-5 with unique tie-break.",
)
def w8_top_k_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(5)
    )


@register(
    "p10_ffill_per_series",
    f"""
    WITH masked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      FROM events
    ),
    filled AS (
      SELECT user_id,
             LAST_VALUE(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS v_filled
      FROM masked
    )
    SELECT user_id,
           COUNT(*) - COUNT(v_filled) AS n_leading_null,
           {SQL_DSUM('v_filled')} AS sum_filled
    FROM filled GROUP BY user_id
    """,
    survey_rows="P10",
    description="Forward fill per series (last ignorenulls over unbounded-"
    "preceding frame); leading nulls remain — counted.",
)
def p10_ffill_per_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn(
        "v", F.when(F.col("event_type") != "error", F.col("value"))
    )
    filled = ow.ffill(ev, key="user_id", ts="ts", cols=["v"], tiebreak=["event_id"])
    return filled.groupBy("user_id").agg(
        (F.count(F.lit(1)) - F.count("v")).alias("n_leading_null"),
        agg.decimal_sum("v").alias("sum_filled"),
    )


@register(
    "p11_interpolate_linear",
    f"""
    WITH masked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type IN ('error', 'signup') THEN NULL ELSE value END AS v
      FROM events
    ),
    pos AS (
      SELECT user_id, ts, event_id, v,
             ROW_NUMBER() OVER w AS p
      FROM masked WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    br AS (
      SELECT user_id, v, p,
             LAST_VALUE(v IGNORE NULLS) OVER wf AS pv,
             LAST_VALUE(CASE WHEN v IS NOT NULL THEN p END IGNORE NULLS) OVER wf AS pp,
             LAST_VALUE(v IGNORE NULLS) OVER wb AS nv,
             LAST_VALUE(CASE WHEN v IS NOT NULL THEN p END IGNORE NULLS) OVER wb AS np
      FROM pos
      WINDOW wf AS (PARTITION BY user_id ORDER BY p ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wb AS (PARTITION BY user_id ORDER BY p DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    interp AS (
      SELECT user_id,
             CASE WHEN v IS NOT NULL THEN v
                  WHEN pp IS NULL THEN nv
                  WHEN np IS NULL THEN pv
                  ELSE pv + (nv - pv) * ((p - pp) * 1.0 / (np - pp))
             END AS vi
      FROM br
    )
    SELECT user_id, COUNT(vi) AS n_filled, {SQL_DAVG_Q4('vi')} AS mean_vi
    FROM interp GROUP BY user_id
    """,
    survey_rows="P11",
    description="Groupwise linear interpolation + ffill + bfill — the window "
    "bracketing formulation, four window passes and no Python on the data path.",
)
def p11_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn(
        "v", F.when(~F.col("event_type").isin("error", "signup"), F.col("value"))
    )
    filled = ow.interpolate_linear(ev, key="user_id", ts="ts", cols=["v"], tiebreak=["event_id"])
    return filled.groupBy("user_id").agg(
        F.count("v").alias("n_filled"), agg.decimal_avg_q4(F.col("v")).alias("mean_vi")
    )


# ===========================================================================
# §2.6 Scalar functions
# ===========================================================================


@register(
    "f4_haversine_distance",
    """
    WITH np AS (
      SELECT n_nationkey, n_name,
             n_nationkey * 1.7 - 20.0 AS lat, n_nationkey * 3.1 + 10.0 AS lng
      FROM nation
    ),
    rp AS (
      SELECT r_regionkey, r_name,
             r_regionkey * 8.0 - 15.0 AS lat, r_regionkey * 15.0 AS lng
      FROM region
    )
    SELECT np.n_name, rp.r_name,
           ROUND(2.0 * 6371000.0 * ATAN2(
             SQRT(POW(SIN((RADIANS(rp.lat) - RADIANS(np.lat)) / 2), 2)
                  + COS(RADIANS(np.lat)) * COS(RADIANS(rp.lat))
                  * POW(SIN((RADIANS(rp.lng) - RADIANS(np.lng)) / 2), 2)),
             SQRT(1 - (POW(SIN((RADIANS(rp.lat) - RADIANS(np.lat)) / 2), 2)
                  + COS(RADIANS(np.lat)) * COS(RADIANS(rp.lat))
                  * POW(SIN((RADIANS(rp.lng) - RADIANS(np.lng)) / 2), 2)))
           ), 3) AS dist_m
    FROM np CROSS JOIN rp
    """,
    survey_rows="F4,J5",
    description="Haversine great-circle distance as a pure column expression "
    "over a cross product (synthetic coordinates from keys).",
)
def f4_haversine_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scalar import haversine_m

    nation = _t(spark, sf_dir, "nation").select(
        "n_name",
        (F.col("n_nationkey") * 1.7 - 20.0).alias("nlat"),
        (F.col("n_nationkey") * 3.1 + 10.0).alias("nlng"),
    )
    region = _t(spark, sf_dir, "region").select(
        "r_name",
        (F.col("r_regionkey") * 8.0 - 15.0).alias("rlat"),
        (F.col("r_regionkey") * 15.0).alias("rlng"),
    )
    crossed = nation.crossJoin(region)
    d = haversine_m(F.col("nlat"), F.col("nlng"), F.col("rlat"), F.col("rlng"))
    return crossed.select("n_name", "r_name", F.round(d, 3).alias("dist_m"))


@register(
    "f5_f6_bucket_and_label",
    f"""
    SELECT CASE WHEN value / 50.0 <= 0 THEN 0
                WHEN value / 50.0 <= 2 THEN 1
                WHEN value / 50.0 <= 10 THEN 2
                ELSE 3 END AS rain_cat,
           CASE WHEN value / 500.0 < 0.1 THEN 'Shortage' ELSE 'Normal' END AS risk_label,
           COUNT(*) AS n,
           {SQL_DSUM('value')} AS sum_value
    FROM events GROUP BY 1, 2
    """,
    survey_rows="F5,F6",
    description="Ordinal bucketing (rain categories) + binary risk label as "
    "when-chains.",
)
def f5_f6_bucket_and_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scalar import rain_category, shortage_label

    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("rain_cat", rain_category(F.col("value") / 50.0))
        .withColumn("risk_label", shortage_label(F.col("value") / 500.0))
        .groupBy("rain_cat", "risk_label")
        .agg(F.count(F.lit(1)).alias("n"), agg.decimal_sum("value").alias("sum_value"))
    )


@register(
    "f8_f10_string_functions",
    """
    SELECT c_mktsegment,
           COUNT(*) AS n,
           MIN(CAST(REGEXP_EXTRACT(c_name, '([0-9]+)', 1) AS BIGINT)) AS min_id,
           MAX(CAST(REGEXP_EXTRACT(c_name, '([0-9]+)', 1) AS BIGINT)) AS max_id,
           MIN(CONCAT(REPLACE(c_name, 'Customer#', ''), ' [', c_mktsegment, ']')) AS min_label
    FROM customer GROUP BY c_mktsegment
    """,
    survey_rows="F8,F9,F10,F11",
    description="String replace / concat-format / regexp-extract / cast.",
)
def f8_f10_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    cid = F.regexp_extract("c_name", "([0-9]+)", 1).cast("bigint")
    label = F.concat(
        F.regexp_replace("c_name", "Customer#", ""), F.lit(" ["), F.col("c_mktsegment"), F.lit("]")
    )
    return (
        cust.withColumn("cid", cid)
        .withColumn("label", label)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("cid").alias("min_id"),
            F.max("cid").alias("max_id"),
            F.min("label").alias("min_label"),
        )
    )


@register(
    "f12_clamp_round",
    """
    SELECT event_type,
           CAST(SUM(GREATEST(0, CAST(FLOOR(value - 250.0 + 0.5) AS INTEGER))) AS BIGINT) AS sum_clamped,
           MAX(GREATEST(0, CAST(FLOOR(value - 250.0 + 0.5) AS INTEGER))) AS max_clamped
    FROM events GROUP BY event_type
    """,
    survey_rows="F12",
    description="Clamp/round: max(0, int(round(x))) with the tie-free "
    "floor(x+0.5) rule on both engines (HALF_UP vs banker's varies).",
)
def f12_clamp_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scalar import clamp_round_nonneg

    ev = _t(spark, sf_dir, "events").withColumn(
        "clamped", clamp_round_nonneg(F.col("value") - 250.0)
    )
    return ev.groupBy("event_type").agg(
        F.sum("clamped").alias("sum_clamped"), F.max("clamped").alias("max_clamped")
    )


@register(
    "f1_f2_tz_normalize",
    """
    SELECT CAST(date_trunc('day', ts - INTERVAL 8 HOUR) AS TIMESTAMP) AS utc_day, COUNT(*) AS n
    FROM events GROUP BY 1
    """,
    survey_rows="F1,F2",
    description="Wall-clock Asia/Taipei → UTC normalization (fixed +8 offset; "
    "Taipei has no DST) then daily bucketing.",
)
def f1_f2_tz_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scalar import to_utc_from_tz

    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("utc_day", F.date_trunc("day", to_utc_from_tz(F.col("ts"))))
        .groupBy("utc_day")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ===========================================================================
# §2.7 Statistics operators (sufficient-statistics layer)
# ===========================================================================

#: The one-way ANOVA totals over per-group sufficient sums ``s(grp, n,
#: sx, sxx)`` (m4, m17): k, N, Σsx, Σsxx and Σ floor(sx²/n) …
_SQL_ANOVA_TOTALS = """t AS (
      SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS "N",
             CAST(SUM(CAST(sx AS DECIMAL(27,6))) AS DOUBLE) AS sx_tot,
             CAST(SUM(CAST(sxx AS DECIMAL(27,0))) AS DOUBLE) AS sxx_tot,
             CAST(SUM(CAST(FLOOR(sx * sx / n) AS DECIMAL(27,0))) AS DOUBLE) AS sg
      FROM s
    )"""
#: … and the F statistic over them.
_SQL_ANOVA_F = '''((sg - sx_tot * sx_tot / "N") / (k - 1))
             / ((sxx_tot - sg) / ("N" - k))'''

_SUFF = """
      SELECT c.c_mktsegment AS grp,
             COUNT(o.o_totalprice) AS n,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS sx,
             CAST(FLOOR(SUM(CAST(o.o_totalprice AS DECIMAL(19,6)) * CAST(o.o_totalprice AS DECIMAL(19,6)))) AS DOUBLE) AS sxx
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1
"""


@register(
    "m1_group_confidence_intervals",
    f"""
    WITH s AS ({_SUFF})
    SELECT grp AS c_mktsegment, n,
           sx / n AS mean,
           SQRT(((sxx - sx * sx / n) / (n - 1)) / n) AS sem,
           sx / n - 1.959963984540054 * SQRT(((sxx - sx * sx / n) / (n - 1)) / n) AS ci_lo,
           sx / n + 1.959963984540054 * SQRT(((sxx - sx * sx / n) / (n - 1)) / n) AS ci_hi,
           CASE WHEN sx / n + 1.959963984540054 * SQRT(((sxx - sx * sx / n) / (n - 1)) / n) < 151000.0 THEN 'Fail'
                WHEN sx / n - 1.959963984540054 * SQRT(((sxx - sx * sx / n) / (n - 1)) / n) > 151000.0 THEN 'Pass'
                ELSE 'Warn' END AS status
    FROM s
    """,
    survey_rows="M1,A1",
    description="Per-group mean ± 95% CI + KPI Pass/Warn/Fail (forest-plot "
    "inputs) from exact sufficient sums.",
)
def m1_group_confidence_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..stats.inference import group_confidence_intervals

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    return group_confidence_intervals(joined, "c_mktsegment", "o_totalprice", kpi=151000.0)


@register(
    "m2_m3_welch_ttest",
    """
    WITH s AS (
      SELECT COUNT(CASE WHEN c.c_mktsegment = 'BUILDING' THEN o.o_totalprice END) AS n_a,
             CAST(SUM(CASE WHEN c.c_mktsegment = 'BUILDING' THEN CAST(o.o_totalprice AS DECIMAL(27,6)) END) AS DOUBLE) AS sx_a,
             CAST(FLOOR(SUM(CASE WHEN c.c_mktsegment = 'BUILDING' THEN CAST(o.o_totalprice AS DECIMAL(19,6)) * CAST(o.o_totalprice AS DECIMAL(19,6)) END)) AS DOUBLE) AS sxx_a,
             COUNT(CASE WHEN c.c_mktsegment = 'MACHINERY' THEN o.o_totalprice END) AS n_b,
             CAST(SUM(CASE WHEN c.c_mktsegment = 'MACHINERY' THEN CAST(o.o_totalprice AS DECIMAL(27,6)) END) AS DOUBLE) AS sx_b,
             CAST(FLOOR(SUM(CASE WHEN c.c_mktsegment = 'MACHINERY' THEN CAST(o.o_totalprice AS DECIMAL(19,6)) * CAST(o.o_totalprice AS DECIMAL(19,6)) END)) AS DOUBLE) AS sxx_b
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    d AS (
      SELECT n_a, sx_a / n_a AS mean_a, (sxx_a - sx_a * sx_a / n_a) / (n_a - 1) AS var_a,
             n_b, sx_b / n_b AS mean_b, (sxx_b - sx_b * sx_b / n_b) / (n_b - 1) AS var_b
      FROM s
    )
    SELECT n_a, mean_a, var_a, n_b, mean_b, var_b,
           (mean_a - mean_b) / SQRT(var_a / n_a + var_b / n_b) AS t_stat,
           (var_a / n_a + var_b / n_b) * (var_a / n_a + var_b / n_b)
             / ((var_a / n_a) * (var_a / n_a) / (n_a - 1)
                + (var_b / n_b) * (var_b / n_b) / (n_b - 1)) AS welch_df,
           (mean_a - mean_b)
             / SQRT(((n_a - 1) * var_a + (n_b - 1) * var_b) / (n_a + n_b - 2)) AS cohens_d
    FROM d
    """,
    survey_rows="M2,M3",
    description="Welch two-sample t + Cohen's d closed-form from conditional "
    "sufficient sums (one pass).",
)
def m2_m3_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..stats.inference import welch_ttest

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    return welch_ttest(joined, "c_mktsegment", "o_totalprice", "BUILDING", "MACHINERY")


@register(
    "m4_anova_oneway",
    f"""
    WITH s AS ({_SUFF}),
    {_SQL_ANOVA_TOTALS}
    SELECT k, "N",
           FLOOR(sg - sx_tot * sx_tot / "N") AS ss_between,
           FLOOR(sxx_tot - sg) AS ss_within,
           {SQL_Q6(_SQL_ANOVA_F)} AS f_stat,
           {SQL_Q6('''(sg - sx_tot * sx_tot / "N")
             / ((sg - sx_tot * sx_tot / "N") + (sxx_tot - sg))''')} AS eta_sq,
           k - 1 AS df_between,
           "N" - k AS df_within
    FROM t
    """,
    survey_rows="M4",
    description="One-way ANOVA F + eta-squared, closed-form SSB/SSW from "
    "re-aggregated exact per-group sums; derived doubles floor-quantized "
    "(ss_* to integers, f_stat/eta_sq to 6 dp) so engine-level ulp noise "
    "cannot flip the driver hash (the data is reseeded, so outputs must be "
    "robust to any seed).",
)
def m4_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..stats.inference import anova_oneway

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    out = anova_oneway(joined, "c_mktsegment", "o_totalprice")
    return out.select(
        "k",
        "N",
        F.floor("ss_between").cast("double").alias("ss_between"),
        F.floor("ss_within").cast("double").alias("ss_within"),
        q6(F.col("f_stat")).alias("f_stat"),
        q6(F.col("eta_sq")).alias("eta_sq"),
        "df_between",
        "df_within",
    )


@register(
    "m5_tukey_hsd_pairs",
    f"""
    WITH s AS ({_SUFF}),
    msw AS (
      SELECT (CAST(SUM(CAST(sxx AS DECIMAL(27,0))) AS DOUBLE)
              - CAST(SUM(CAST(FLOOR(sx * sx / n) AS DECIMAL(27,0))) AS DOUBLE))
             / (SUM(n) - COUNT(*)) AS msw
      FROM s
    )
    SELECT a.grp AS group_i, b.grp AS group_j, a.n AS n_i, b.n AS n_j,
           b.sx / b.n - a.sx / a.n AS mean_diff,
           SQRT(m.msw / 2 * (CAST(1 AS DOUBLE) / a.n + CAST(1 AS DOUBLE) / b.n)) AS se_hsd
    FROM s a CROSS JOIN s b CROSS JOIN msw m
    WHERE a.grp < b.grp
    """,
    survey_rows="M5",
    description="Tukey-HSD pairwise mean differences + HSD standard errors "
    "(q-critical applied driver-side on the tiny result).",
)
def m5_tukey_hsd_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..stats.inference import tukey_hsd_pairs

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    return tukey_hsd_pairs(joined, "c_mktsegment", "o_totalprice")


@register(
    "m6_chi_square_independence",
    f"""
    WITH obs AS (
      SELECT c.c_mktsegment, o.o_orderstatus, COUNT(*) AS observed
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    cells AS (
      SELECT c_mktsegment, o_orderstatus, observed,
             SUM(observed) OVER (PARTITION BY c_mktsegment)
               * SUM(observed) OVER (PARTITION BY o_orderstatus)
               * 1.0 / SUM(observed) OVER () AS expected,
             CAST(SUM(observed) OVER () AS BIGINT) AS n_total
      FROM obs
    ),
    resid AS (
      SELECT *, (observed - expected) / SQRT(expected) AS residual FROM cells
    ),
    chi AS (
      SELECT *,
             CAST(SUM(CAST(FLOOR(residual * residual * 100000000) AS DECIMAL(27,0))) OVER ()
                  AS DOUBLE) / 100000000.0 AS chi2_raw
      FROM resid
    ),
    dims AS (
      SELECT COUNT(DISTINCT c_mktsegment) AS r_cnt, COUNT(DISTINCT o_orderstatus) AS c_cnt
      FROM obs
    )
    SELECT c_mktsegment, o_orderstatus, observed,
           {SQL_Q6("expected")} AS expected,
           n_total,
           {SQL_Q6("residual")} AS residual,
           {SQL_Q6("chi2_raw")} AS chi2,
           CAST((d.r_cnt - 1) * (d.c_cnt - 1) AS BIGINT) AS dof,
           {SQL_Q6("SQRT(chi2_raw / (n_total * (LEAST(d.r_cnt, d.c_cnt) - 1)))")} AS cramers_v
    FROM chi CROSS JOIN dims d
    """,
    survey_rows="M6,A7",
    description="Chi-square independence: long-form observed/expected/"
    "standardized residuals + chi2 and Cramer's V via window totals. χ² is "
    "an exact decimal sum of quantized residual² (partition-order proof); "
    "every derived double is floor-quantized to 6 dp on both engines.",
)
def m6_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..stats.inference import chi_square_independence

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    out = chi_square_independence(joined, "c_mktsegment", "o_orderstatus")
    return out.select(
        "c_mktsegment",
        "o_orderstatus",
        "observed",
        q6(F.col("expected")).alias("expected"),
        "n_total",
        q6(F.col("residual")).alias("residual"),
        q6(F.col("chi2")).alias("chi2"),
        "dof",
        q6(F.col("cramers_v")).alias("cramers_v"),
    )


@register(
    "m9_moment_stats",
    """
    WITH s AS (
      SELECT l_returnflag,
             COUNT(l_quantity) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS s1,
             CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_quantity AS DECIMAL(19,6)))) AS DOUBLE) AS s2,
             CAST(FLOOR(SUM(CAST(CAST(l_quantity AS DECIMAL(14,4)) * CAST(l_quantity AS DECIMAL(12,4)) AS DECIMAL(27,8)) * CAST(l_quantity AS DECIMAL(12,4)))) AS DOUBLE) AS s3,
             CAST(FLOOR(SUM(CAST(CAST(l_quantity AS DECIMAL(11,3)) * CAST(l_quantity AS DECIMAL(11,3)) AS DECIMAL(22,6)) * CAST(CAST(l_quantity AS DECIMAL(11,3)) * CAST(l_quantity AS DECIMAL(11,3)) AS DECIMAL(22,6)))) AS DOUBLE) AS s4
      FROM lineitem GROUP BY 1
    ),
    m AS (
      SELECT l_returnflag, n, s1 / n AS mean,
             s2 / n - (s1 / n) * (s1 / n) AS m2,
             s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
             s4 / n - 4 * (s1 / n) * (s3 / n) + 6 * (s1 / n) * (s1 / n) * (s2 / n)
               - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
      FROM s
    )
    SELECT l_returnflag, n, mean, m2,
           ROUND(m3 / POW(m2, 1.5), 6) AS skewness,
           ROUND(m4 / (m2 * m2) - 3, 6) AS kurtosis
    FROM m
    """,
    survey_rows="M9",
    description="Skewness/kurtosis per group via exact central-moment "
    "expansion (engine-portable; Spark builtins are the fast path).",
)
def m9_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..stats.inference import moment_stats

    li = _t(spark, sf_dir, "lineitem")
    out = moment_stats(li, "l_returnflag", "l_quantity")
    return out.withColumn("skewness", F.round("skewness", 6)).withColumn(
        "kurtosis", F.round("kurtosis", 6)
    )


@register(
    "m10_histogram_bins",
    f"""
    SELECT CAST(FLOOR(value / 25.0) AS INTEGER) AS bin,
           COUNT(*) AS n,
           {SQL_DSUM('value')} AS sum_value
    FROM events GROUP BY 1
    """,
    survey_rows="M10",
    description="Histogram input bins: fixed-width binning via floor division.",
)
def m10_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("bin", F.floor(F.col("value") / 25.0).cast("int"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"), agg.decimal_sum("value").alias("sum_value"))
    )


@register(
    "m10b_group_quartiles",
    """
    SELECT event_type,
           ROUND(QUANTILE_CONT(value, 0.25), 6) AS q25,
           ROUND(QUANTILE_CONT(value, 0.5), 6) AS median,
           ROUND(QUANTILE_CONT(value, 0.75), 6) AS q75
    FROM events GROUP BY event_type
    """,
    survey_rows="M10,A3",
    description="Boxplot inputs: exact per-group quartiles.",
)
def m10b_group_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return agg.group_quantiles(
        ev, ["event_type"], "value", [0.25, 0.5, 0.75], ["q25", "median", "q75"]
    )


# ===========================================================================
# LLM-data-pipeline operators: text analysis / dedup / similarity /
# multimodal (BASELINE.json north-star extensions; SURVEY §7.7)
# ===========================================================================


@register(
    "t1_exact_dedup",
    """
    SELECT md5(text) AS content_hash, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
    survey_rows="ext:dedup-exact,P4",
    description="Exact dedup via content hash: survivor id + copy count.",
)
def t1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


#: SQL twin of :func:`..operators.text.tokens`. Empty tokens are filtered
#: as Spark does: on empty/whitespace-only text, regexp_split_to_array
#: yields [''] (1 token) while Spark's filtered split yields [] — a seed with
#: an empty doc would otherwise flip the hash.
_SQL_WORDS = "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')"
#: SQL twin of ``text.tokens(lower(text))``: the lowercased words.
_SQL_LOWER_WORDS = "list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '')"


def _shingle_cte(words_src: str, carry: str = "") -> str:
    """SQL twin of :func:`..operators.text.word_shingles_from_tokens`: the
    ``shing(doc_id{carry}, s)`` CTE of distinct word-3-grams over a
    relation with a ``words`` token list."""
    return f"""shing AS (
      SELECT DISTINCT doc_id{carry}, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS s
      FROM {words_src}, LATERAL (SELECT unnest(generate_series(1, len(words)-2)) AS i)
    )"""


def _doc_shingle_cte(docs_src: str = "documents") -> str:
    """:func:`_shingle_cte` over the tokens of every document in ``docs_src``."""
    return _shingle_cte(f"(SELECT doc_id, {_SQL_WORDS} AS words FROM {docs_src})")


#: The verified pairs of an ``inter(id_a, id_b, n_common)`` and
#: ``cnt(doc_id, n)`` chain: Jaccard >= 0.5.
_SQL_JACCARD_VERIFIED = """
    FROM inter
    JOIN cnt ca ON id_a = ca.doc_id
    JOIN cnt cb ON id_b = cb.doc_id
    WHERE n_common / (ca.n + cb.n - n_common) >= 0.5"""


def _ngram_jaccard_ctes(capped: bool = True) -> str:
    """The word-3-gram Jaccard chain over ``documents``: the shingles,
    minus (when ``capped``) every shingle more than 100 documents share —
    ``ngram_jaccard_pairs``' ``max_doc_freq=100`` skew cap — then per-doc
    shingle counts ``cnt(doc_id, n)`` and the pair intersections
    ``inter(id_a, id_b, n_common)``."""
    sets = "shing"
    cap = ""
    if capped:
        sets = "capped"
        cap = """
    keep AS (SELECT s FROM shing GROUP BY s HAVING COUNT(*) <= 100),
    capped AS (SELECT shing.doc_id, shing.s FROM shing JOIN keep USING (s)),"""
    return f"""{_doc_shingle_cte()},{cap}
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM {sets} GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM {sets} a JOIN {sets} b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )"""


def _ngram_jaccard_pairs_sql(capped: bool) -> str:
    """t2/t49's answer: every word-3-gram pair with Jaccard >= 0.5 and its
    counts, over the doc-freq-capped shingles or (t49) all of them."""
    return f"""
    WITH {_ngram_jaccard_ctes(capped)}
    SELECT id_a, id_b, n_common, ca.n AS n_a, cb.n AS n_b,
           n_common / (ca.n + cb.n - n_common) AS jaccard{_SQL_JACCARD_VERIFIED}
    """


@register(
    "t2_ngram_jaccard_pairs",
    _ngram_jaccard_pairs_sql(True),
    survey_rows="ext:dedup-ngram-jaccard",
    description="Near-dup pairs by word-3-gram Jaccard >= 0.5 via inverted "
    "shingle index self-join (the exact verify of MinHash LSH). The graded "
    "query carries the max_doc_freq=100 skew cap: shingles shared by >100 "
    "docs add no discrimination but square the index self-join — uncapped, "
    "the 10x blow-up measured 53.9x (SCALING.md). Tokenization mirrors "
    "Spark tokens() (\\s+ split, empties filtered).",
)
def t2_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ngram_pairs_shared(spark, sf_dir)


#: (applicationId, sf_dir, name) → session-shared materialized frames, one
#: entry per reused subtree (see :func:`_shared`). Keyed by applicationId so
#: a dead session's DataFrame is never reused.
_PAIR_GRAPH_CACHE: dict[tuple, object] = {}


def clear_pair_graph_cache() -> None:
    """Evict every session-shared frame and release the executor storage of
    every checkpoint :func:`operators.skew.materialize` made in the active
    session (:func:`operators.skew.release_materialized`).

    Call it between queries: a frame built before the call and executed
    after it fails with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``, a typed
    error, never a wrong answer."""
    _PAIR_GRAPH_CACHE.clear()
    spark = SparkSession.getActiveSession()
    if spark is not None:
        osk.release_materialized(spark)


def _shared(spark: SparkSession, sf_dir: str, name: str, build: Callable[[], object]):
    """``build()``'s materialized result, built once per (session, sf_dir,
    name) and then shared by every query that derives from the same
    subtree. This is subtree sharing WITHIN a session, not cross-run
    memoization: bench.py clears the cache between repeats so every repeat
    pays the full cost from parquet exactly once."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key not in _PAIR_GRAPH_CACHE:
        _PAIR_GRAPH_CACHE[key] = build()
    return _PAIR_GRAPH_CACHE[key]


def _covis_shared(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """``(ui, co)``: the distinct (user, item) frame parsed from event props
    and its co-visitation pair counts, shared per (session, sf).

    NINE graph/recommender queries (g1–g7, r1, r2) derive their edge list
    from this exact subtree with only the count threshold differing; before
    sharing, each re-parsed the JSON props, re-distincted, and re-ran the
    ui self-join (the single most expensive stage in every one of them)."""

    def build():
        ev = _t(spark, sf_dir, "events")
        item = F.try_variant_get(F.try_parse_json("props"), "$.k", "int")
        ui = osk.materialize(
            ev.select("user_id", item.alias("item"))
            .filter(F.col("item").isNotNull())
            .distinct()
        )
        co = osk.materialize(
            ui.toDF("user_id", "i")
            .join(ui.toDF("user_id", "j"), "user_id")
            .filter(F.col("i") < F.col("j"))
            .groupBy("i", "j")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return ui, co

    return _shared(spark, sf_dir, "covis", build)


def _ngram_pairs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The t2 pair graph, shared per (session, sf): t10 re-derives the exact
    same pairs before clustering, so sharing saves the whole shingle-index
    self-join on the second use."""
    from ..operators.dedup import ngram_jaccard_pairs

    def build():
        docs = _t(spark, sf_dir, "documents")
        return osk.materialize(ngram_jaccard_pairs(docs, threshold=0.5, max_doc_freq=100))

    return _shared(spark, sf_dir, "ngram_pairs", build)


_TOK_EXPR = f"len({_SQL_WORDS})"


def _SQL_MARK(word: str, text: str) -> str:
    """Marker-word count in the SQL expression ``text`` by token equality —
    mirror of text.marker_count (``\\b`` boundaries around combining marks
    are engine-dependent)."""
    return f"len(list_filter(regexp_split_to_array(lower({text}), '[^a-z]+'), x -> x = '{word}'))"


def _lang_scores_sql(text: str) -> str:
    """The ``has_cjk`` flag and ``s_de``/``s_en``/``s_es``/``s_fr`` marker
    counts text.lang_id scores the SQL expression ``text`` by (t4, t52)."""

    def marks(words: "list[str]") -> str:
        return " + ".join(_SQL_MARK(w, text) for w in words)

    return f"""regexp_matches({text}, '[一-鿿]') AS has_cjk,
             {marks(["der", "die", "und", "das", "ist"])} AS s_de,
             {marks(["the", "and", "of", "to", "a"])} AS s_en,
             {marks(["el", "la", "de", "que", "y"])} AS s_es,
             {marks(["le", "la", "et", "les", "des"])} AS s_fr"""


#: The confusion counts of text.lang_id's guess over a ``scores(lang,
#: has_cjk, s_de, s_en, s_es, s_fr)`` CTE (t4, t52): CJK first, no marker
#: is 'und', ties fold in ascending language order.
_SQL_LANG_CONFUSION = """SELECT CASE WHEN has_cjk THEN 'zh'
                WHEN GREATEST(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
                WHEN s_de = GREATEST(s_de, s_en, s_es, s_fr) THEN 'de'
                WHEN s_en = GREATEST(s_de, s_en, s_es, s_fr) THEN 'en'
                WHEN s_es = GREATEST(s_de, s_en, s_es, s_fr) THEN 'es'
                ELSE 'fr' END AS lang_guess,
           lang AS lang_actual,
           COUNT(*) AS n
    FROM scores GROUP BY 1, 2"""
_PUNCT_EXPR = "len(regexp_extract_all(text, '[^\\w\\s]'))"

@register(
    "t3_token_stats",
    f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           {SQL_DAVG(_TOK_EXPR)} AS mean_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           {SQL_DAVG(_PUNCT_EXPR)} AS mean_punct
    FROM documents GROUP BY lang
    """,
    survey_rows="ext:text-stats,F15",
    description="Per-language token counting + character/punctuation stats.",
)
def t3_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import token_count

    docs = _t(spark, sf_dir, "documents")
    n_punct = F.size(F.regexp_extract_all("text", F.lit(r"[^\w\s]"), 0))
    return (
        docs.withColumn("n_tokens", token_count(F.col("text")).cast("double"))
        .withColumn("n_punct", n_punct.cast("double"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            agg.decimal_avg(F.col("n_tokens")).alias("mean_tokens"),
            F.sum("n_chars").alias("total_chars"),
            agg.decimal_avg(F.col("n_punct")).alias("mean_punct"),
        )
    )


@register(
    "t4_lang_id_confusion",
    f"""
    WITH docs AS (SELECT lang, COALESCE(text, '') AS text FROM documents),
    scores AS (
      SELECT lang,
             {_lang_scores_sql('text')}
      FROM docs
    )
    {_SQL_LANG_CONFUSION}
    """,
    survey_rows="ext:lang-id",
    description="Heuristic marker-word language ID vs labeled language "
    "(confusion counts). Fold order = ascending language code on ties.",
)
def t4_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import lang_id

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("lang_guess", lang_id(F.col("text")))
        .groupBy(F.col("lang_guess"), F.col("lang").alias("lang_actual"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "t5_char_fingerprint",
    """
    WITH c AS (
      SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS ctext
      FROM documents WHERE doc_id % 10 = 0
    )
    SELECT doc_id,
           CAST((SELECT COALESCE(SUM(ord * ascii(ch)), 0) % 1000000007
            FROM (SELECT unnest(string_split(ctext,'')) AS ch,
                         generate_subscripts(string_split(ctext,''),1) AS ord)) AS BIGINT) AS fingerprint
    FROM c
    """,
    survey_rows="ext:fingerprint",
    description="Position-weighted character fingerprint over the "
    "printable-ASCII projection (codepoint-vs-grapheme split semantics "
    "differ across engines; rolling-hash simplification — xxhash64 shingle "
    "fingerprints are the scale variant).",
)
def t5_char_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import char_fingerprint

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return docs.select("doc_id", char_fingerprint(F.col("text")).alias("fingerprint"))


@register(
    "t6_quality_scores",
    f"""
    WITH f AS (
      SELECT lang,
             {_TOK_EXPR} AS n_tokens,
             length(text) AS n_chars,
             len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
             {" + ".join(_SQL_MARK(w, 'text') for w in ["the", "and", "of", "to", "a"])} AS n_stop
      FROM documents
    ),
    q AS (
      SELECT lang,
             (LEAST(n_tokens / 100.0, 1.0)
              + (1.0 - LEAST(COALESCE(CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars END, 0.0) * 5.0, 1.0))
              + LEAST(COALESCE(CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens END, 0.0) * 4.0, 1.0)
             ) / 3.0 AS quality
      FROM f
    )
    SELECT lang, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(quality AS DECIMAL(27,6))) AS DOUBLE) / COUNT(quality), 6) AS mean_quality
    FROM q GROUP BY lang
    """,
    survey_rows="ext:quality-score",
    description="Composite document quality scoring (length/punct/stopword).",
)
def t6_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("quality", quality_score(F.col("text")))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(agg.decimal_avg(F.col("quality")), 6).alias("mean_quality"),
        )
    )


def _portable_minhash_ctes(docs_src: str) -> str:
    """The shared head of the portable-MinHash oracles: the ``WITH shing,
    hidx, sig, banded`` CTEs — md5-derived 30-bit shingle base hashes over
    ``docs_src``, the universal-hash mins with the exact Python-side (a,b)
    constants (:func:`..operators.dedup.minhash_coeffs`) and value-concat
    keys of 8 bands, ending in a comma for :func:`_minhash_verify_ctes`."""
    from ..operators.dedup import MINHASH_P, NUM_HASHES, minhash_coeffs

    bands = 8
    rows_per_band = NUM_HASHES // bands
    coeffs = minhash_coeffs()
    min_exprs = ",\n        ".join(
        f"MIN(({a} * sh + {b}) % {MINHASH_P}) AS h{i}" for i, (a, b) in enumerate(coeffs)
    )
    band_rows = "\n      UNION ALL ".join(
        "SELECT doc_id, {bi} AS band_idx, concat_ws(',', {cols}) AS band_key FROM sig".format(
            bi=bi,
            cols=", ".join(f"h{bi * rows_per_band + j}" for j in range(rows_per_band)),
        )
        for bi in range(bands)
    )
    return f"""
    WITH {_doc_shingle_cte(docs_src)},
    hidx AS (
      SELECT DISTINCT doc_id, CAST(md5_number_lower(s) & 1073741823 AS BIGINT) AS sh
      FROM shing
    ),
    sig AS (
      SELECT doc_id,
        {min_exprs}
      FROM hidx GROUP BY doc_id
    ),
    banded AS (
      {band_rows}
    ),"""


def _minhash_verify_ctes(docs_src: str, pair: str) -> str:
    """The portable-MinHash chain over ``docs_src`` through its exact
    verify (t7, st9, t38): the banded candidate pairs ``cand(id_a, id_b)``
    whose sides ``a``/``b`` satisfy ``pair``, per-doc base-hash counts
    ``cnt(doc_id, n)`` and the candidates' intersections
    ``inter(id_a, id_b, n_common)``."""
    return _portable_minhash_ctes(docs_src) + f"""
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND {pair}
    ),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM hidx GROUP BY 1),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_common
      FROM cand c
      JOIN hidx a ON a.doc_id = c.id_a
      JOIN hidx b ON b.doc_id = c.id_b AND b.sh = a.sh
      GROUP BY 1, 2
    )"""


def _t7_minhash_sql() -> str:
    """Generated SQL mirror of the portable MinHash+LSH pipeline (same
    generated-constant technique as t8/s3): md5-derived 30-bit shingle base
    hashes, 32 universal-hash mins with the exact Python-side (a,b)
    constants, value-concat band keys, banded candidate join, exact Jaccard
    verify on the same base-hash sets."""
    return _minhash_verify_ctes("documents", "a.doc_id < b.doc_id") + f"""
    SELECT id_a, id_b,
           n_common / (ca.n + cb.n - n_common) AS jaccard{_SQL_JACCARD_VERIFIED}
    """


@register(
    "t7_minhash_lsh_dedup",
    _t7_minhash_sql(),
    survey_rows="ext:dedup-minhash-lsh",
    description="MinHash(32) + LSH(8 bands) candidate generation with exact "
    "Jaccard verify — the scale path for t2 (recall checked in tests). "
    "The graded query runs the "
    "portable hash family (md5-derived 30-bit base + (a*x+b) mod P "
    "universal mins, bit-identical to the generated DuckDB SQL), so "
    "signatures, banding, candidates AND the Jaccard verify are all "
    "hash-checked end-to-end.",
)
def t7_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_lsh_dedup_portable

    return minhash_lsh_dedup_portable(_t(spark, sf_dir, "documents"))


def _t8_simhash_sql() -> str:
    """Generated SQL mirror of the md5-hash SimHash pipeline (the same
    generated-constant technique as s3's hyperplane SQL): 64 ±1 bit-sums
    per document from md5_number_lower token hashes, folded into four
    16-bit chunks, chunk-banded candidate join, chunk-wise popcount."""
    bit_sums = ",\n        ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(64)
    )
    chunk_exprs = ",\n        ".join(
        "("
        + " + ".join(
            f"CASE WHEN b{16 * c + j} > 0 THEN {1 << j} ELSE 0 END"
            for j in range(16)
        )
        + f") AS c{c}"
        for c in range(4)
    )
    long_rows = "\n      UNION ALL ".join(
        f"SELECT doc_id, {c} AS ci, c{c} AS cv, c0, c1, c2, c3 FROM sig"
        for c in range(4)
    )
    ham = " + ".join(f"bit_count(xor(a.c{c}, b.c{c}))" for c in range(4))
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest({_SQL_WORDS}) AS t
      FROM documents
    ),
    th AS (SELECT doc_id, md5_number_lower(t) AS h FROM toks),
    bits AS (
      SELECT doc_id,
        {bit_sums}
      FROM th GROUP BY doc_id
    ),
    sig AS (
      SELECT doc_id,
        {chunk_exprs}
      FROM bits
    ),
    lng AS (
      {long_rows}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             {ham} AS hamming
      FROM lng a JOIN lng b ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
    FROM cand WHERE hamming <= 12
    """


@register(
    "t8_simhash_pairs",
    _t8_simhash_sql(),
    survey_rows="ext:dedup-simhash",
    description="SimHash64 near-dup pairs (Hamming <= 12) via 16-bit chunk "
    "banding + popcount verify. The "
    "graded query uses the md5-derived portable token hash (bit-identical "
    "to DuckDB md5_number_lower — see operators.dedup.md5_token_hash64), "
    "so the full pipeline (64 ±1 bit-sums → signature → chunk banding → "
    "candidate join → popcount verify) is hash-checked end-to-end with a "
    "generated 64-bit-sum SQL mirror; xxhash64 remains the default fast "
    "path for unGraded use.",
)
def t8_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import md5_token_hash64, simhash_pairs

    out = simhash_pairs(
        _t(spark, sf_dir, "documents"), max_hamming=12, hash_fn=md5_token_hash64
    )
    return out.withColumn("hamming", F.col("hamming").cast("long"))


_EMB_DOTS = """
    qe AS (
      SELECT unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i
      FROM embeddings WHERE vec_id = 0
    ),
    ve AS (
      SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i
      FROM embeddings WHERE vec_id != 0
    ),
    qn AS (SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS qq FROM qe),
    dots AS (
      SELECT ve.vec_id,
             SUM(CAST(ve.x AS DOUBLE) * CAST(qe.x AS DOUBLE)) AS dot,
             SUM(CAST(ve.x AS DOUBLE) * CAST(ve.x AS DOUBLE)) AS aa
      FROM ve JOIN qe ON ve.i = qe.i GROUP BY 1
    )
"""


@register(
    "s1_cosine_topk",
    f"""
    WITH {_EMB_DOTS}
    SELECT vec_id, ROUND(dot / (SQRT(aa) * SQRT(qq)), 6) AS cosine
    FROM dots, qn
    WHERE aa > 0 AND qq > 0
    ORDER BY dot / (SQRT(aa) * SQRT(qq)) DESC, vec_id ASC LIMIT 10
    """,
    survey_rows="ext:similarity-topk",
    description="Brute-force cosine top-10 to a query embedding (JVM-side "
    "zip_with/aggregate vector math; LSH variant is the scale path).",
)
def s1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    out = cosine_topk(emb.filter(F.col("vec_id") != 0), qvec, k=10)
    return out.withColumn("cosine", F.round("cosine", 6))


@register(
    "s2_embedding_near_dup",
    f"""
    WITH norms AS (
      SELECT vec_id, SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nn
      FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY 1
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             SUM(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dot
      FROM (SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding,1) AS i FROM embeddings) a
      JOIN (SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding,1) AS i FROM embeddings) b
        ON a.i = b.i AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, ROUND(dot / (SQRT(na.nn) * SQRT(nb.nn)), 6) AS cosine
    FROM pairs JOIN norms na ON id_a = na.vec_id JOIN norms nb ON id_b = nb.vec_id
    WHERE na.nn > 0 AND nb.nn > 0
      AND dot / (SQRT(na.nn) * SQRT(nb.nn)) >= 0.32
    """,
    survey_rows="ext:dedup-embedding-cosine",
    description="Embedding near-dup pairs (cosine >= 0.32) — exact all-pairs "
    "baseline; lsh_near_dup_pairs is the bucketed scale path.",
)
def s2_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import embedding_near_dup_pairs

    out = embedding_near_dup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.32)
    return out.withColumn("cosine", F.round("cosine", 6))


def _lsh_planes() -> list[list[float]]:
    """The seeded hyperplanes s3, s6 and s9 bucket the 64-dim embeddings
    by (8 bits)."""
    from ..operators.similarity import _hyperplanes

    return _hyperplanes(64, 8, seed=42)


def _lsh_bucket_sql(planes: list[list[float]]) -> str:
    """SQL twin of :func:`..operators.similarity.lsh_bucket` over
    ``planes``: the same LCG plane constants, the same left-associative
    dot-product fold, the same sign→bit packing."""
    bits = []
    for i, plane in enumerate(planes):
        dot = " + ".join(
            f"CAST(embedding[{j + 1}] AS DOUBLE) * {w!r}" for j, w in enumerate(plane)
        )
        bits.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << i} ELSE 0 END)")
    return " + ".join(bits)


@register(
    "s3_lsh_ann_buckets",
    f"""
    SELECT ({_lsh_bucket_sql(_lsh_planes())}) AS bucket, COUNT(*) AS n
    FROM embeddings GROUP BY 1
    """,
    survey_rows="ext:similarity-lsh",
    description="Random-hyperplane LSH bucketing for ANN: bucket histogram "
    "(the IVF/LSH scale path for s1/s2). Oracle mirrors the deterministic "
    "hyperplanes and fold order in generated SQL.",
)
def s3_lsh_ann_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import lsh_bucket

    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.withColumn("bucket", lsh_bucket(F.col("embedding"), _lsh_planes()))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _s6_oracle_sql() -> str:
    """DuckDB mirror of the full SemDeDup composition: the same generated
    hyperplane-bucket expression as s3, within-bucket exact cosine like
    s2's pair math, greedy lowest-id survivor selection, per-label rollup."""
    bucket = _lsh_bucket_sql(_lsh_planes())
    return f"""
    WITH pb AS (
      SELECT vec_id, label, embedding, ({bucket}) AS bucket FROM embeddings
    ),
    e AS (
      SELECT vec_id, bucket, unnest(embedding) AS x,
             generate_subscripts(embedding, 1) AS i
      FROM pb
    ),
    norms AS (
      SELECT vec_id, SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nn
      FROM e GROUP BY 1
    ),
    dots AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             SUM(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dot
      FROM e a JOIN e b
        ON a.bucket = b.bucket AND a.i = b.i AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    ),
    dropped AS (
      SELECT DISTINCT d.id_b AS vec_id
      FROM dots d
      JOIN norms na ON d.id_a = na.vec_id
      JOIN norms nb ON d.id_b = nb.vec_id
      WHERE na.nn > 0 AND nb.nn > 0
        AND d.dot / (SQRT(na.nn) * SQRT(nb.nn)) >= 0.32
    )
    SELECT label, COUNT(*) AS n_vectors,
           CAST(SUM(CASE WHEN dr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           CAST(SUM(CASE WHEN dr.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept
    FROM pb LEFT JOIN dropped dr USING (vec_id)
    GROUP BY 1
    """


@register(
    "s6_semantic_dedup",
    None,  # oracle attached below (needs plane constants generated)
    survey_rows="ext:dedup-embedding-cosine (scale path); ext:similarity-lsh",
    description="SemDeDup-style semantic dedup, end-to-end at the 100 TB "
    "shape: LSH hyperplane buckets generate candidates (linear equi-join, "
    "never all-pairs), exact cosine verifies within each bucket, and the "
    "lowest-id member of every near-dup pair survives (greedy keep-one); "
    "per-label kept/dropped rollup. Composes s3's bucketing with s2's "
    "verify math — s2 alone is the quadratic exact baseline, this is the "
    "one a 100 TB corpus actually runs. Recall < 1 by construction "
    "(disagreeing buckets hide pairs); more bits or multi-probe trades "
    "compute for recall. Oracle regenerates the hyperplane constants into "
    "SQL, so bucketing + verify + survivorship is hash-checked end-to-end.",
)
def s6_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import lsh_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    pairs = lsh_near_dup_pairs(emb, dim=64, threshold=0.32, bits=8)
    dropped = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    per_label = (
        emb.select("vec_id", "label")
        .join(dropped.withColumn("is_dropped", F.lit(1)), "vec_id", "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.when(F.col("is_dropped").isNotNull(), 1).otherwise(0)).alias(
                "n_dropped"
            ),
            F.sum(F.when(F.col("is_dropped").isNull(), 1).otherwise(0)).alias(
                "n_kept"
            ),
        )
    )
    return per_label


CORPUS["s6_semantic_dedup"].oracle = _s6_oracle_sql()


@register(
    "mm1_multimodal_binary",
    """
    SELECT source,
           COUNT(*) AS n,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           MIN(sha256(text)) AS min_sha
    FROM documents GROUP BY source
    """,
    survey_rows="ext:multimodal-binary",
    description="Opaque binary payload plumbing: byte lengths + content "
    "hashes over a binary column (decode UDFs are stubbed by contract).",
)
def mm1_multimodal_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_media_columns

    docs = _t(spark, sf_dir, "documents")
    media = attach_media_columns(docs).join(docs.select("doc_id", "source"), "doc_id")
    return media.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.octet_length("payload")).alias("total_bytes"),
        F.min(F.sha2(F.col("payload"), 256)).alias("min_sha"),
    )


def _md5_bytes_ctes(src: str, key_sql: str, n_bytes: int, carry: str = "") -> str:
    """SQL twin of :func:`..operators.multimodal._md5_bytes`: the ``hx`` /
    ``bytes`` CTE pair giving, for every row of ``src``, byte ``idx`` <
    ``n_bytes`` of the concatenated md5("{key}:{block}") digests as the
    integer ``v`` (md5 hex-digit arithmetic). ``carry`` names further
    ``src`` columns kept on every byte row (", a, b")."""
    blocks = (n_bytes + 15) // 16
    return f"""hx AS (
      SELECT {src}.doc_id{carry}, b.b, md5(CAST({key_sql} AS VARCHAR) || ':' || CAST(b.b AS VARCHAR)) AS h
      FROM {src}, (SELECT unnest(generate_series(0, {blocks - 1})) AS b) b
    ),
    bytes AS (
      SELECT doc_id{carry}, (b * 16 + j.j) AS idx,
             (strpos('0123456789abcdef', substr(h, 2 * j.j + 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(h, 2 * j.j + 2, 1)) - 1) AS v
      FROM hx, (SELECT unnest(generate_series(0, 15)) AS j) j
      WHERE b * 16 + j.j < {n_bytes}
    )"""


def _mm2_decode_sql(
    width: int = mm.IMAGE_WIDTH, height: int = mm.IMAGE_HEIGHT, fmt: str = "ppm", mod: int = 5
) -> str:
    """DuckDB mirror of the mm2 fixture+decode pipeline: the payload pixels
    are md5-digest bytes (``operators.multimodal.md5_pixels``), so the
    oracle re-derives every byte with md5 hex-digit arithmetic, groups by
    pixel channel, and recomputes the per-channel mean/std feature block
    analytically — verifying that the REAL Spark path (PPM encode →
    mapInPandas numpy decode → features) reproduces the generator's math
    end-to-end. std accumulates in a different order than numpy's pairwise
    sum, hence the shared ROUND(..., 6)."""
    n = width * height * 3
    header_len = len(b"P6\n%d %d\n255\n" % (width, height))
    if fmt in ("png", "pngv", "bmpv", "jpegl", "webpl", "gif", "tiff", "tiffx"):
        # compressed payload length depends on the encoder (zlib build /
        # per-row Huffman predictor), so the graded output is
        # encoding-independent: dims + the feature block only.
        final = f"""
    SELECT doc_id,
           CAST({width} AS INT) AS width, CAST({height} AS INT) AS height,
           ROUND({width} + {height} + SUM(m) + SUM(sqrt(ss / cnt)), 6) AS feat_sum
    FROM sq GROUP BY doc_id
    """
    else:
        final = f"""
    SELECT doc_id, CAST({header_len + n} AS BIGINT) AS n_bytes,
           ROUND({width} + {height} + SUM(m) + SUM(sqrt(ss / cnt)), 6) AS feat_sum
    FROM sq GROUP BY doc_id
    """
    return f"""
    WITH d AS (SELECT doc_id FROM documents WHERE doc_id % {mod} = 0),
    {_md5_bytes_ctes('d', 'd.doc_id', n)},
    stats AS (
      SELECT doc_id, idx % 3 AS c,
             CAST(SUM(v) AS DOUBLE) / COUNT(*) AS m
      FROM bytes GROUP BY 1, 2
    ),
    sq AS (
      SELECT bytes.doc_id, bytes.idx % 3 AS c, ANY_VALUE(stats.m) AS m,
             SUM((bytes.v - stats.m) * (bytes.v - stats.m)) AS ss,
             COUNT(*) AS cnt
      FROM bytes JOIN stats ON bytes.doc_id = stats.doc_id AND bytes.idx % 3 = stats.c
      GROUP BY 1, 2
    )
    {final}
    """


def _image_feature_sum(spark: SparkSession, sf_dir: str, fmt: str, mod: int) -> DataFrame:
    """Spark side of :func:`_mm2_decode_sql`'s compressed-format answer:
    the ``fmt``-encoded image fixture of every ``doc_id % mod == 0``
    document, decoded to (doc_id, width, height, feat_sum)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % mod == 0)
    feats = mm.decode_image_features(mm.attach_ppm_payloads(docs, fmt=fmt))
    return feats.select(
        "doc_id",
        F.lit(mm.IMAGE_WIDTH).cast("int").alias("width"),
        F.lit(mm.IMAGE_HEIGHT).cast("int").alias("height"),
        F.round(
            F.aggregate("feature", F.lit(0.0), lambda a, x: a + x), 6
        ).alias("feat_sum"),
    )


@register(
    "mm2_decode_features",
    _mm2_decode_sql(),
    survey_rows="ext:multimodal-decode",
    description="REAL image decode in Arrow-batched mapInPandas: "
    "deterministic PPM payloads attached per doc, parsed with the pure-"
    "numpy P6 decoder (no codec lib), per-channel mean/std features out. "
    "Compressed formats stay codec-gated (NotImplementedError). The "
    "fixture generator is md5-byte "
    "based, so DuckDB re-derives every pixel and the feature math "
    "analytically — full encode/decode/feature parity, not rows-only.",
)
def mm2_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_ppm_payloads, decode_image_features

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    media = attach_ppm_payloads(docs)
    feats = decode_image_features(media)
    return feats.select(
        "doc_id",
        "n_bytes",
        F.round(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x), 6).alias("feat_sum"),
    )


def _mm5_resize_sql() -> str:
    """DuckDB mirror of the resize pipeline: re-derive the fixture's md5
    pixel bytes (same derivation as the mm2 oracle), then sample exactly
    the nearest-neighbor indices floor(r·H/5), floor(c·W/7) of the 7×5 output and
    sum per channel — integer math end-to-end, so the oracle verifies the
    decode → resize → re-encode → decode round trip byte-for-byte."""
    n = mm.IMAGE_WIDTH * mm.IMAGE_HEIGHT * 3
    return f"""
    WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
    {_md5_bytes_ctes('d', 'd.doc_id', n)},
    tgt AS (
      SELECT (CAST(FLOOR(r.r * {mm.IMAGE_HEIGHT} / 5.0) AS BIGINT) * {mm.IMAGE_WIDTH}
              + CAST(FLOOR(c.c * {mm.IMAGE_WIDTH} / 7.0) AS BIGINT)) * 3 + ch.ch AS idx,
             ch.ch AS ch
      FROM (SELECT unnest(generate_series(0, 4)) AS r) r,
           (SELECT unnest(generate_series(0, 6)) AS c) c,
           (SELECT unnest(generate_series(0, 2)) AS ch) ch
    )
    SELECT b.doc_id,
           CAST(SUM(CASE WHEN t.ch = 0 THEN b.v ELSE 0 END) AS BIGINT) AS c0_sum,
           CAST(SUM(CASE WHEN t.ch = 1 THEN b.v ELSE 0 END) AS BIGINT) AS c1_sum,
           CAST(SUM(CASE WHEN t.ch = 2 THEN b.v ELSE 0 END) AS BIGINT) AS c2_sum,
           CAST(COUNT(*) / 3 AS BIGINT) AS n_pix
    FROM bytes b JOIN tgt t USING (idx)
    GROUP BY 1
    """


@register(
    "mm5_image_resize",
    _mm5_resize_sql(),
    survey_rows="ext:multimodal-resize",
    description="REAL image resize in Arrow-batched mapInPandas: PPM "
    "payloads decoded (pure numpy), nearest-neighbor resampled 16x12 -> "
    "7x5 (non-divisor dims so the index math is exercised), re-encoded, "
    "re-decoded, and reduced to exact-integer per-channel byte sums. The "
    "oracle re-derives the fixture's md5 pixels and samples the identical "
    "floor(r*H/h') indices in SQL — the full decode/resize/encode round "
    "trip is verified byte-for-byte, no floats anywhere. Partition-local "
    "fan-out (no shuffle until the final 1-row-per-doc aggregate).",
)
def mm5_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        attach_ppm_payloads,
        image_channel_sums,
        resize_images,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    media = attach_ppm_payloads(docs)
    resized = resize_images(media, out_width=7, out_height=5)
    return image_channel_sums(resized)


# ===========================================================================
# As-of join, ML, streaming
# ===========================================================================


def _asof_checkpoint_sql(forward: bool) -> str:
    """DuckDB ASOF twin of :func:`_checkpoint_asof` (j7; j10 when
    ``forward``): each event's nearest checkpoint at or before its ts, or
    at or after it, per group."""
    delta, cmp = ("cp_value - value", "<=") if forward else ("value - cp_value", ">=")
    return f"""
    WITH ev AS (SELECT user_id % 4 AS grp, ts, event_id, value FROM events),
    cps AS (
      SELECT user_id % 4 AS grp, ts AS cp_ts, value AS cp_value
      FROM events WHERE event_id % 50 = 0 AND value IS NOT NULL
    )
    SELECT grp, COUNT(cp_value) AS n_matched,
           {SQL_DAVG_Q4(delta)} AS mean_delta
    FROM (
      SELECT e.grp, e.value, c.cp_value
      FROM ev e ASOF LEFT JOIN cps c ON e.grp = c.grp AND e.ts {cmp} c.cp_ts
    ) GROUP BY grp
    """


def _checkpoint_asof(
    spark: SparkSession, sf_dir: str, forward: bool, bucket_seconds: float | None
) -> DataFrame:
    """j7/j10/j14: every event of a ``user_id % 4`` group matched to the
    group's latest checkpoint (every 50th event) at or before its ts — the
    next one at or after it when ``forward`` — through asof_join's
    day-bucket routing when ``bucket_seconds`` is set; per group the match
    count and the quantized mean value delta."""
    ev = _t(spark, sf_dir, "events").withColumn("grp", F.col("user_id") % 4)
    # a NULL-valued checkpoint is no checkpoint: ASOF picks the nearest ROW
    # while last/first(ignorenulls) skips null VALUES — filtering aligns them
    cps = (
        ev.filter((F.col("event_id") % 50 == 0) & F.col("value").isNotNull())
        .select("grp", F.col("ts").alias("cp_ts"), F.col("value").alias("cp_value"))
    )
    sides = (ev.select("grp", "ts", "event_id", "value"), cps)
    keys = dict(on="grp", left_ts="ts", right_ts="cp_ts", right_values=["cp_value"])
    if forward:
        joined = oj.asof_join_forward(*sides, **keys)
        delta = F.col("cp_value") - F.col("value")
    else:
        joined = oj.asof_join(*sides, **keys, bucket_seconds=bucket_seconds)
        delta = F.col("value") - F.col("cp_value")
    return joined.groupBy("grp").agg(
        F.count("cp_value").alias("n_matched"),
        agg.decimal_avg_q4(delta).alias("mean_delta"),
    )


@register(
    "j7_asof_join",
    _asof_checkpoint_sql(False),
    survey_rows="J2 (as-of generalization)",
    description="As-of join: each event matched to the most recent checkpoint "
    "<= ts per group, via union + partitioned last-value carry-forward "
    "(one shuffle — no range explosion).",
)
def j7_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _checkpoint_asof(spark, sf_dir, False, None)


@register(
    "ml1_kmeans_embeddings",
    None,  # iterative seeded clustering — rows-only per driver contract
    survey_rows="M8",
    description="Seeded KMeans(k=4) over the embedding table: cluster sizes "
    "(the reference's station-profile clustering shape + IVF centroids).",
)
def ml1_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.clustering import kmeans_cluster_embeddings

    assignments = kmeans_cluster_embeddings(_t(spark, sf_dir, "embeddings"), k=4)
    return assignments.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))


@register(
    "ml2_regression_r2",
    None,  # normal-equations OLS — rows-only (closed-form oracle impractical)
    survey_rows="M7",
    description="RFormula + LinearRegression model-evolution: R2 ladder over "
    "two formulas (the reference's M1->M3 comparison shape).",
)
def ml2_regression_r2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.regression import linear_r2

    li = _t(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_quantity", "l_discount", "l_returnflag"
    )
    results = [
        linear_r2(li, f)
        for f in (
            "l_extendedprice ~ l_discount",
            "l_extendedprice ~ l_quantity + l_discount + l_returnflag",
        )
    ]
    return local_frame(
        spark,
        [(r["formula"], float(round(r["r2"], 6)), r["n"]) for r in results],
        "formula string, r2 double, n long",
    )


@register(
    "ml3_lstm_batch_inference",
    None,  # numpy LSTM recurrence — rows-only (not SQL-expressible); the
    # forward pass itself is pinned by analytic unit tests (zero-weight,
    # hand-computed step, distributed==local equality)
    survey_rows="M11",
    description="Real numpy-LSTM batch scoring over per-user event "
    "snapshots, mirroring the reference serving path "
    "(api/app/main.py:160-199): min-max scale -> tile x3 sequence -> LSTM "
    "forward -> inverse-scale -> clamp/round. mapInPandas, weights "
    "broadcast once, one (B,T,D) matmul chain per Arrow batch.",
)
def ml3_lstm_batch_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.inference import lstm_batch_predict, seeded_lstm_weights

    ev = _t(spark, sf_dir, "events")
    feats = ev.groupBy("user_id").agg(
        agg.decimal_avg(F.col("value")).alias("mean_value"),
        F.count(F.lit(1)).cast("double").alias("n_events"),
        F.max("value").alias("max_value"),
        F.avg(F.hour("ts").cast("double")).alias("mean_hour"),
    )
    w = seeded_lstm_weights(input_dim=4)
    return lstm_batch_predict(
        feats,
        w,
        feat_min=[0.0, 0.0, 0.0, 0.0],
        feat_max=[500.0, 200.0, 500.0, 23.0],
        feature_cols=("mean_value", "n_events", "max_value", "mean_hour"),
        id_cols=("user_id",),
    )


@register(
    "st1_streaming_hourly_counts",
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_key, event_type, COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
    survey_rows="§2.8 windows,W4",
    description="Structured Streaming tumbling 1-hour windowed counts "
    "(watermark + window), run to completion over the finite source — "
    "matches the batch oracle exactly.",
)
def st1_streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.ingest import hourly_windowed_counts_stream, read_events_stream, run_stream_to_memory

    events = read_events_stream(spark, sf_dir)
    return run_stream_to_memory(hourly_windowed_counts_stream(events))


@register(
    "st8_streaming_sliding_counts",
    """
    WITH hops AS (
      SELECT CAST(date_trunc('hour', ts) - INTERVAL (h) HOUR AS TIMESTAMP)
               AS win_start,
             event_type
      FROM events, (SELECT 0 AS h UNION ALL SELECT 1) hop
    )
    SELECT win_start, event_type, COUNT(*) AS n
    FROM hops GROUP BY 1, 2
    """,
    survey_rows="§2.8 windows (hopping/sliding)",
    description="Structured Streaming HOPPING windows — 2-hour windows "
    "sliding every 1 hour, so each event is counted in exactly two "
    "overlapping windows (window('2 hours','1 hour') multi-assignment, "
    "one read of the input; watermark bounds both open hops). The oracle "
    "mirrors the assignment by unioning the two hop offsets per event.",
)
def st8_streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.ingest import (
        read_events_stream,
        run_stream_to_memory,
        sliding_windowed_counts_stream,
    )

    events = read_events_stream(spark, sf_dir)
    return run_stream_to_memory(sliding_windowed_counts_stream(events))


@register(
    "st2_streaming_dedup",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
    survey_rows="§2.8 dedup,S8",
    description="Streaming watermark+dropDuplicates on the natural key, "
    "then per-type counts — the idempotent-ingest streaming twin.",
)
def st2_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.ingest import read_events_stream, run_stream_to_memory, stream_dedup_counts

    events = read_events_stream(spark, sf_dir)
    return run_stream_to_memory(stream_dedup_counts(events))


# ===========================================================================
# Coverage round-out: J6 lookup join, F13 minmax, cube, M8 profile KMeans
# ===========================================================================


@register(
    "j6_lookup_join",
    """
    SELECT CASE o_orderpriority
             WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2 WHEN '3-MEDIUM' THEN 3
             WHEN '4-NOT SPECIFIED' THEN 4 WHEN '5-LOW' THEN 5 END AS priority_rank,
           COUNT(*) AS n
    FROM orders GROUP BY 1
    """,
    survey_rows="J6",
    description="Static dict-lookup join via create_map literal (the "
    "reference's zoning_map/.map() shape; broadcast join for big maps).",
)
def j6_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    priority_rank = {
        "1-URGENT": 1,
        "2-HIGH": 2,
        "3-MEDIUM": 3,
        "4-NOT SPECIFIED": 4,
        "5-LOW": 5,
    }
    orders = _t(spark, sf_dir, "orders")
    mapped = oj.lookup_join(orders, priority_rank, key="o_orderpriority", value_name="priority_rank")
    return mapped.groupBy("priority_rank").agg(F.count(F.lit(1)).alias("n"))


@register(
    "f13_minmax_scale",
    """
    WITH bounds AS (SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders)
    SELECT CAST(FLOOR((o_totalprice - lo) / (hi - lo) * 10) AS INTEGER) AS decile_bin,
           COUNT(*) AS n
    FROM orders, bounds GROUP BY 1
    """,
    survey_rows="F13,M10",
    description="MinMax scaling as column arithmetic against aggregated "
    "bounds (broadcast one-row frame — no driver collect), binned.",
)
def f13_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    bounds = orders.agg(F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi"))
    scaled = orders.crossJoin(bounds).withColumn(
        "decile_bin",
        F.floor((F.col("o_totalprice") - F.col("lo")) / (F.col("hi") - F.col("lo")) * 10).cast("int"),
    )
    return scaled.groupBy("decile_bin").agg(F.count(F.lit(1)).alias("n"))


@register(
    "a9b_cube_hierarchy",
    f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n, {SQL_DSUM('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    survey_rows="A1 (cube extension, SURVEY §2.4 note)",
    description="CUBE grouping sets over the fact table.",
)
def a9b_cube_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), agg.decimal_sum("l_quantity").alias("sum_qty")
    )


@register(
    "m8_kmeans_hour_profiles",
    None,  # iterative seeded clustering — rows-only
    survey_rows="M8,A6,A10",
    description="The reference's station-cluster query: user-hour pivot "
    "profile -> seeded KMeans(k=4) -> cluster sizes + peak-hour labels.",
)
def m8_kmeans_hour_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.clustering import kmeans_hour_profiles, label_cluster_by_peak

    ev = _t(spark, sf_dir, "events").withColumn("hour", F.hour("ts"))
    profile = agg.pivot_profile(ev, "user_id", "hour", "value", list(range(24)))
    assignments, summaries = kmeans_hour_profiles(
        profile, "user_id", [str(h) for h in range(24)]
    )
    sizes = assignments.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
    labels = local_frame(
        spark,
        [(s["cluster"], s["peak_hour"], label_cluster_by_peak(s["peak_hour"])) for s in summaries],
        "cluster int, peak_hour int, label string",
    )
    return sizes.join(labels, "cluster")


# ===========================================================================
# Query-shape round-out: Q3 join pipeline, set ops, window frames, from_json,
# approximate sketches
# ===========================================================================


@register(
    "q3_shipping_priority",
    f"""
    SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
           {SQL_DSUM('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY 1, 2, 3
    """,
    survey_rows="J1,P6,A1 (TPC-H Q3 shape)",
    description="Selective filter + 3-way join + group: the classic "
    "filter-pushdown/join-order pipeline.",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    # q21's spill guard (1000× probe: the li⋈orders sort-merge and the
    # orderkey aggregation spill at the fixed shuffle width — 27.8× at
    # 1000×, back to ~linear pre-partitioned). The orderkey partitioning
    # is reused by both the join and the groupBy; no-op at graded scales.
    li = osk.repartition_for_rows(
        li, osk.parquet_row_count(os.path.join(sf_dir, "lineitem.parquet")),
        "l_orderkey",
    )
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
        cust, orders.o_custkey == cust.c_custkey
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        agg.decimal_sum(revenue).alias("revenue")
    )


@register(
    "set_operations",
    """
    WITH with_orders AS (SELECT DISTINCT o_custkey AS k FROM orders),
    rich AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000)
    SELECT 'union' AS op, (SELECT COUNT(*) FROM (SELECT k FROM with_orders UNION SELECT k FROM rich)) AS n
    UNION ALL
    SELECT 'intersect', (SELECT COUNT(*) FROM (SELECT k FROM with_orders INTERSECT SELECT k FROM rich))
    UNION ALL
    SELECT 'except', (SELECT COUNT(*) FROM (SELECT k FROM with_orders EXCEPT SELECT k FROM rich))
    """,
    survey_rows="set ops (SURVEY §2.3 'free in Spark' note)",
    description="UNION / INTERSECT / EXCEPT distinct semantics.",
)
def set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k")).distinct()
    rich = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select(F.col("c_custkey").alias("k"))
    )
    u = orders.union(rich).distinct().count()
    i = orders.intersect(rich).count()
    x = orders.exceptAll(rich.distinct()).distinct().count()
    return local_frame(
        spark, [("union", u), ("intersect", i), ("except", x)], "op string, n long"
    )


@register(
    "window_frames",
    f"""
    WITH w AS (
      SELECT user_id, ts, event_id, value,
             SUM(CAST(value AS DECIMAL(27,6)))
               OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_dec,
             AVG(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ma3,
             NTILE(4) OVER (PARTITION BY user_id
                            ORDER BY value ASC NULLS FIRST, event_id ASC) AS quartile
      FROM events
    )
    SELECT user_id, quartile,
           COUNT(*) AS n,
           {SQL_DAVG_Q4('ma3')} AS mean_ma3,
           CAST(MAX(running_dec) AS DOUBLE) AS max_running
    FROM w GROUP BY 1, 2
    """,
    survey_rows="W1,W6 (frame/ntile extensions, SURVEY §2.5 note)",
    description="Running decimal sum (unbounded frame), 3-row moving "
    "average (bounded frame), ntile quartiles.",
)
def window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    wq = Window.partitionBy("user_id").orderBy(F.col("value").asc(), F.col("event_id").asc())
    enriched = (
        ev.withColumn(
            "running_dec",
            F.sum(F.col("value").cast("decimal(27,6)")).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn("ma3", F.avg("value").over(w.rowsBetween(-2, 0)))
        .withColumn("quartile", F.ntile(4).over(wq))
    )
    return enriched.groupBy("user_id", "quartile").agg(
        F.count(F.lit(1)).alias("n"),
        agg.decimal_avg_q4(F.col("ma3")).alias("mean_ma3"),
        F.max("running_dec").cast("double").alias("max_running"),
    )


@register(
    "f_json_struct",
    """
    SELECT (CAST(json_extract_string(props, '$.k') AS INTEGER) // 10) % 10 AS k_decade,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
    FROM events GROUP BY 1
    """,
    survey_rows="F-json (SURVEY §2.6 note: engine exposes from_json)",
    description="from_json with explicit schema -> struct field math (the "
    "raw source IS JSON; flattening stays in the engine, not pandas).",
)
def f_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    ev = _t(spark, sf_dir, "events")
    schema = T.StructType([T.StructField("k", T.IntegerType())])
    parsed = ev.withColumn("props_struct", F.from_json("props", schema))
    k = F.col("props_struct.k")
    return (
        parsed.withColumn("k_decade", (k / 10).cast("int") % 10)
        .groupBy("k_decade")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(k).alias("sum_k"))
    )


@register(
    "approx_sketches",
    None,  # approximate by design — accuracy bounds tested in tests/
    survey_rows="A12 approx (SURVEY §2.4 note)",
    description="approx_count_distinct (HLL) + percentile_approx — the "
    ">TB swap-ins for exact distinct/percentile.",
)
def approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.percentile_approx("value", 0.5).alias("approx_median"),
        F.expr("percentile(value, 0.5)").alias("exact_median"),
    )


# ===========================================================================
# Subquery shapes (free in Spark SQL; demonstrated for the corpus)
# ===========================================================================


@register(
    "sq_scalar_subquery",
    """
    SELECT c_mktsegment, COUNT(*) AS n_above
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
    GROUP BY c_mktsegment
    """,
    survey_rows="subqueries (SURVEY §2.3 'free in Spark' family)",
    description="Scalar subquery in a predicate: customers above the global "
    "mean balance.",
)
def sq_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    cust.createOrReplaceTempView("corpus_customer")
    return spark.sql(
        """
        SELECT c_mktsegment, COUNT(*) AS n_above
        FROM corpus_customer
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM corpus_customer)
        GROUP BY c_mktsegment
        """
    )


@register(
    "sq_correlated_exists",
    f"""
    SELECT n.n_name, COUNT(*) AS n_big_spenders
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
    )
    GROUP BY n.n_name
    """,
    survey_rows="subqueries (correlated EXISTS)",
    description="Correlated EXISTS with a predicate — planned as a "
    "left-semi join (SQL API surface of the engine).",
)
def sq_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "customer").createOrReplaceTempView("corpus_customer")
    _t(spark, sf_dir, "nation").createOrReplaceTempView("corpus_nation")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("corpus_orders")
    return spark.sql(
        """
        SELECT n.n_name, COUNT(*) AS n_big_spenders
        FROM corpus_customer c JOIN corpus_nation n ON c.c_nationkey = n.n_nationkey
        WHERE EXISTS (
          SELECT 1 FROM corpus_orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
        )
        GROUP BY n.n_name
        """
    )


# ===========================================================================
# Sessionization + IVF ANN
# ===========================================================================


def _session_marks_cte(carry: str = "") -> str:
    """SQL twin of :func:`..operators.windows.sessionize`'s session starts:
    the ``marked(user_id, ts{carry}, is_new)`` CTE over every event, with
    ``is_new`` = 1 where a user's previous event (ts, event_id order) is
    missing or more than 1,800 s earlier."""
    return f"""marked AS (
      SELECT user_id, ts{carry},
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR (epoch(ts) - epoch(LAG(ts) OVER w)) > 1800.0
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    )"""


def _sessions_cte(carry: str, sid: str) -> str:
    """``marked`` plus ``sess(user_id, ts{carry}, <sid>)``: each event's
    session number, the running count of session starts in (ts, event_id)
    order (w9, and j11/j11b through :func:`_copresence_sql`)."""
    return f"""{_session_marks_cte(', event_id' + carry)},
    sess AS (
      SELECT user_id, ts{carry},
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS {sid}
      FROM marked
    )"""


@register(
    "w9_sessionization",
    f"""
    WITH {_sessions_cte(', value', 'session_id')}
    SELECT user_id, COUNT(DISTINCT session_id) AS n_sessions,
           COUNT(*) AS n_events,
           {SQL_DSUM('value')} AS sum_value
    FROM sess GROUP BY user_id
    """,
    survey_rows="§2.8 session windows,W1",
    description="Sessionization via lag + conditional cumsum (30-min gap): "
    "sessions/events per user. Streaming twin: F.session_window.",
)
def w9_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # spill guard (1000× probe: the user window's sort at the fixed shuffle
    # width spills past ~3M rows/partition — 13.8× at 1000×); pre-partition
    # on the window key, sized to the footer row count. The sessionize
    # window and both downstream user aggregations reuse the partitioning;
    # no-op at graded scales.
    ev = osk.repartition_for_rows(
        ev, osk.parquet_row_count(os.path.join(sf_dir, "events.parquet")), "user_id"
    )
    sess = ow.sessionize(ev, key="user_id", ts="ts", tiebreak=["event_id"])
    return sess.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
        agg.decimal_sum("value").alias("sum_value"),
    )


@register(
    "st3_streaming_session_window",
    f"""
    WITH {_session_marks_cte()},
    sess AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked
    )
    SELECT user_id, CAST(MIN(ts) AS TIMESTAMP) AS session_start, COUNT(*) AS n
    FROM sess GROUP BY user_id, sid
    """,
    survey_rows="§2.8 session windows (streaming)",
    description="Structured Streaming F.session_window(30 min gap) "
    "aggregation run to completion — equals the batch lag+cumsum "
    "sessionization oracle over the finite source.",
)
def st3_streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.ingest import read_events_stream, run_stream_to_memory

    events = read_events_stream(spark, sf_dir)
    agg_df = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("sw.start").alias("session_start"), "n")
    )
    return run_stream_to_memory(agg_df, output_mode="complete")


@register(
    "s4_ivf_topk",
    CORPUS["s1_cosine_topk"].oracle,
    survey_rows="ext:similarity-ivf",
    description="IVF top-k: KMeans cells + n_probe nearest cells scanned "
    "(partition-pruned at scale). Graded at FULL probe (n_probe == "
    "n_centroids), where IVF must equal "
    "the exact brute-force top-k — the whole cell/centroid/probe machinery "
    "runs and the hash proves it lossless; the pruned-probe path is "
    "recall-tested vs exact in tests/test_similarity.py.",
)
def s4_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    out = ivf_topk(emb.filter(F.col("vec_id") != 0), qvec, n_centroids=8, n_probe=8)
    return out.withColumn("cosine", F.round("cosine", 6))


# ===========================================================================
# Gold-merge composite: the reference's §3.2 dataflow as one oracle query
# ===========================================================================


@register(
    "gold_wide_pipeline",
    f"""
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_key,
             {SQL_DAVG('o_totalprice')} AS month_avg_price
      FROM orders GROUP BY 1
    ),
    gold AS (
      SELECT l.l_orderkey, l.l_linenumber, p.p_brand,
             CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP) AS month_key,
             m.month_avg_price,
             CASE WHEN l.l_quantity > 0
                  THEN l.l_extendedprice / l.l_quantity END AS unit_price,
             CASE WHEN o.o_totalprice < 100000 THEN 'Shortage' ELSE 'Normal' END AS risk_label
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN part p ON l.l_partkey = p.p_partkey
      LEFT JOIN monthly m ON CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP) = m.month_key
    )
    SELECT p_brand, risk_label,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(unit_price * 10000) AS DECIMAL(27,0))) AS DOUBLE)
             / COUNT(unit_price) / 10000.0 AS mean_unit_price,
           {SQL_DAVG_Q4('month_avg_price')} AS mean_month_avg
    FROM gold GROUP BY 1, 2
    """,
    survey_rows="J1,J2,F3,F6,A1 (gold merge composite, SURVEY §3.2)",
    description="The reference's merge->gold dataflow as one query: fact ⋈ "
    "broadcast dim ⋈ time-bucketed aggregate (weather analogue) with "
    "derived ratio + risk label, then group stats over the wide table.",
)
def gold_wide_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scalar import shortage_label

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month_key")
    ).agg(agg.decimal_avg("o_totalprice").alias("month_avg_price"))
    gold = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .withColumn("month_key", F.date_trunc("month", "o_orderdate"))
        .join(monthly, "month_key", "left")
        .withColumn(
            "unit_price",
            F.when(F.col("l_quantity") > 0, F.col("l_extendedprice") / F.col("l_quantity")),
        )
        .withColumn("risk_label", shortage_label(F.col("o_totalprice"), threshold=100000))
    )
    return gold.groupBy("p_brand", "risk_label").agg(
        F.count(F.lit(1)).alias("n"),
        # unit_price is a dyadic quotient (price / 2^k quantities) whose exact
        # decimal expansion can end in ...5 at any scale — rounding-mode ties
        # across engines. Floor at micro-precision instead (tie-free).
        agg.decimal_avg_q4(F.col("unit_price")).alias("mean_unit_price"),
        agg.decimal_avg_q4(F.col("month_avg_price")).alias("mean_month_avg"),
    )


# ===========================================================================
# M7 closed-form simple OLS + custom stateful streaming
# ===========================================================================


@register(
    "m7_simple_ols",
    """
    WITH s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(l_discount AS DECIMAL(27,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS sy,
             CAST(FLOOR(SUM(CAST(l_discount AS DECIMAL(19,6)) * CAST(l_discount AS DECIMAL(19,6))) * 1000000) AS DOUBLE) / 1000000.0 AS sxx,
             CAST(FLOOR(SUM(CAST(l_discount AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6)))) AS DOUBLE) AS sxy,
             CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6)))) AS DOUBLE) AS syy
      FROM lineitem
    )
    SELECT n,
           ROUND((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS slope,
           ROUND(sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n) * (sx / n), 4) AS intercept,
           ROUND(((sxy - sx * sy / n) * (sxy - sx * sy / n))
                 / ((sxx - sx * sx / n) * (syy - sy * sy / n)), 8) AS r2
    FROM s
    """,
    survey_rows="M7",
    description="Simple OLS closed-form from exact sufficient sums: slope, "
    "intercept, r2 = corr^2 (the single-feature member of the model-evolution "
    "ladder; RFormula covers the multi-feature ones).",
)
def m7_simple_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    x, y = F.col("l_discount"), F.col("l_extendedprice")
    d196 = "decimal(19,6)"
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        agg.decimal_sum(x).alias("sx"),
        agg.decimal_sum(y).alias("sy"),
        (F.floor(F.sum(x.cast(d196) * x.cast(d196)) * 1000000).cast("double") / 1000000.0).alias("sxx"),
        F.floor(F.sum(x.cast(d196) * y.cast(d196))).cast("double").alias("sxy"),
        F.floor(F.sum(y.cast(d196) * y.cast(d196))).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    cov = sxy - sx * sy / n
    varx = sxx - sx * sx / n
    vary = syy - sy * sy / n
    return s.select(
        n,
        F.round(cov / varx, 6).alias("slope"),
        F.round(sy / n - cov / varx * (sx / n), 4).alias("intercept"),
        F.round((cov * cov) / (varx * vary), 8).alias("r2"),
    )


@register(
    "st4_stateful_running_max",
    """
    SELECT user_id, MAX(value) AS running_max, COUNT(*) AS n
    FROM events GROUP BY user_id
    """,
    survey_rows="§2.8 custom stateful (applyInPandasWithState)",
    description="Custom stateful streaming operator: per-user running max & "
    "count maintained in explicit GroupState across micro-batches. The "
    "FINAL state after the finite stream drains must "
    "equal the batch aggregate — max/count are order-insensitive folds, so "
    "the equality is exact and the stateful machinery (state store, update "
    "mode, per-key refresh) is what the hash actually proves.",
)
def st4_stateful_running_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import running_user_stats_stream

    return running_user_stats_stream(spark, sf_dir)


# ===========================================================================
# Batch ANN: top-k per query row
# ===========================================================================


@register(
    "s5_topk_per_query",
    """
    WITH base AS (
      SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i
      FROM embeddings
    ),
    qs AS (SELECT * FROM base WHERE vec_id < 5),
    vs AS (SELECT * FROM base WHERE vec_id >= 5),
    norms AS (
      SELECT vec_id, SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nn FROM base GROUP BY 1
    ),
    dots AS (
      SELECT qs.vec_id AS query_id, vs.vec_id AS vec_id,
             SUM(CAST(vs.x AS DOUBLE) * CAST(qs.x AS DOUBLE)) AS dot
      FROM vs JOIN qs ON vs.i = qs.i GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, d.vec_id,
             d.dot / (SQRT(nv.nn) * SQRT(nq.nn)) AS cos_raw
      FROM dots d
      JOIN norms nv ON d.vec_id = nv.vec_id
      JOIN norms nq ON d.query_id = nq.vec_id
      WHERE nv.nn > 0 AND nq.nn > 0
    )
    SELECT query_id, vec_id, ROUND(cos_raw, 6) AS cosine, rank FROM (
      SELECT query_id, vec_id, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
    survey_rows="ext:similarity-topk-batch",
    description="Batch ANN: top-3 neighbors for each of 5 query vectors — "
    "broadcast query batch, per-query ranking window.",
)
def s5_topk_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_topk_per_query

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    base = emb.filter(F.col("vec_id") >= 5)
    out = cosine_topk_per_query(base, queries_df, k=3)
    return out.withColumn("cosine", F.round("cosine", 6)).withColumn(
        "rank", F.col("rank").cast("long")
    )


# ===========================================================================
# CDC / MERGE and data-quality validation
# ===========================================================================


@register(
    "cdc_merge_upsert",
    f"""
    WITH changes AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal * 1.1 AS c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey + 1000000, c_name, c_nationkey, 0.0, 'NEW'
      FROM customer WHERE c_custkey % 97 = 0
    ),
    merged AS (
      SELECT * FROM customer t
      WHERE NOT EXISTS (SELECT 1 FROM changes ch WHERE ch.c_custkey = t.c_custkey)
      UNION ALL
      SELECT * FROM changes
    )
    SELECT c_mktsegment, COUNT(*) AS n, {SQL_DSUM('c_acctbal')} AS total_bal
    FROM merged GROUP BY c_mktsegment
    """,
    survey_rows="S9 (MERGE generalization; guide 'CDC/SCD2' pattern)",
    description="SCD1 MERGE emulation (update matched + insert new via "
    "anti-join+union) applied to a synthetic changeset, then aggregated.",
)
def cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cdc import merge_upsert

    cust = _t(spark, sf_dir, "customer")
    updates = cust.filter(F.col("c_custkey") % 7 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") * 1.1
    )
    inserts = (
        cust.filter(F.col("c_custkey") % 97 == 0)
        .withColumn("c_custkey", F.col("c_custkey") + 1000000)
        .withColumn("c_acctbal", F.lit(0.0))
        .withColumn("c_mktsegment", F.lit("NEW"))
    )
    merged = merge_upsert(cust, updates.unionByName(inserts), keys=["c_custkey"])
    return merged.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"), agg.decimal_sum("c_acctbal").alias("total_bal")
    )


@register(
    "dq_validate_constraints",
    """
    WITH agg AS (
      SELECT COUNT(*) AS n_rows,
             CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS q_null,
             CAST(SUM(CASE WHEN l_quantity IS NOT NULL AND (l_quantity < 1 OR l_quantity > 50) THEN 1 ELSE 0 END) AS BIGINT) AS q_range,
             CAST(SUM(CASE WHEN l_discount IS NOT NULL AND (l_discount < 0.0 OR l_discount > 0.08) THEN 1 ELSE 0 END) AS BIGINT) AS d_range,
             CAST(SUM(CASE WHEN l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A', 'N') THEN 1 ELSE 0 END) AS BIGINT) AS rf_set
      FROM lineitem
    )
    SELECT c."constraint", a.n_rows, c.n_violations,
           c.n_violations * 1.0 / a.n_rows AS violation_rate
    FROM agg a, LATERAL (VALUES
      ('l_quantity_not_null', a.q_null),
      ('l_quantity_in_range', a.q_range),
      ('l_discount_in_range', a.d_range),
      ('l_returnflag_in_set', a.rf_set)
    ) AS c("constraint", n_violations)
    """,
    survey_rows="ext:data-quality (fail-fast validation generalized)",
    description="Declarative constraint report in ONE scan: null/range/set "
    "checks over the fact table (some constraints deliberately violated).",
)
def dq_validate_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import in_range, in_set, not_null, validate

    li = _t(spark, sf_dir, "lineitem")
    return validate(
        li,
        [
            not_null("l_quantity"),
            in_range("l_quantity", 1, 50),
            in_range("l_discount", 0.0, 0.08),  # deliberately tight: violations > 0
            in_set("l_returnflag", ["A", "N"]),  # 'R' rows violate
        ],
    )


@register(
    "dq_check_unique",
    """
    SELECT 'l_orderkey_l_linenumber_unique' AS "constraint",
           COUNT(*) AS n_rows,
           COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS n_violations,
           (COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))) * 1.0 / COUNT(*) AS violation_rate
    FROM lineitem
    """,
    survey_rows="ext:data-quality,S8",
    description="Candidate-key uniqueness report (the dedup-key audit).",
)
def dq_check_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import check_unique

    return check_unique(_t(spark, sf_dir, "lineitem"), ["l_orderkey", "l_linenumber"])


# ===========================================================================
# Range join + unpivot
# ===========================================================================


@register(
    "j8_range_band_join",
    f"""
    WITH bands AS (
      SELECT * FROM (VALUES
        ('micro', 0.0, 50.0), ('small', 50.0, 150.0),
        ('mid', 150.0, 300.0), ('large', 300.0, 1000.0)
      ) AS b(band, lo, hi)
    )
    SELECT b.band, COUNT(*) AS n, {SQL_DSUM('e.value')} AS sum_value
    FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.band
    """,
    survey_rows="J2 (range-join generalization, SURVEY §2.3 note)",
    description="Range (theta) join via bucket discretization + equi-join + "
    "exact re-check — hash join instead of a nested-loop cross product.",
)
def j8_range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    bands = local_frame(
        spark,
        [("micro", 0.0, 50.0), ("small", 50.0, 150.0), ("mid", 150.0, 300.0), ("large", 300.0, 1000.0)],
        "band string, lo double, hi double",
    )
    joined = oj.range_band_join(ev, bands, value_col="value")
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"), agg.decimal_sum("value").alias("sum_value")
    )


@register(
    "a6b_unpivot_melt",
    """
    WITH wide AS (
      SELECT l_returnflag,
             CAST(SUM(CAST(CASE WHEN l_linestatus = 'F' THEN l_quantity END AS DECIMAL(27,6))) AS DOUBLE) AS qty_f,
             CAST(SUM(CAST(CASE WHEN l_linestatus = 'O' THEN l_quantity END AS DECIMAL(27,6))) AS DOUBLE) AS qty_o
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, status, qty FROM wide
    UNPIVOT (qty FOR status IN (qty_f AS 'F', qty_o AS 'O'))
    """,
    survey_rows="A6 inverse (unpivot/stack, guide 'Pivot / unpivot')",
    description="Unpivot (melt): wide per-status quantity columns back to "
    "long form via stack().",
)
def a6b_unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        agg.decimal_sum(F.when(F.col("l_linestatus") == "F", F.col("l_quantity"))).alias("qty_f"),
        agg.decimal_sum(F.when(F.col("l_linestatus") == "O", F.col("l_quantity"))).alias("qty_o"),
    )
    return wide.selectExpr(
        "l_returnflag", "stack(2, 'F', qty_f, 'O', qty_o) as (status, qty)"
    ).filter(F.col("qty").isNotNull())


# ===========================================================================
# Sliding windows (batch F.window with slide)
# ===========================================================================


@register(
    "w10_sliding_windows",
    f"""
    WITH starts AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start, value FROM events
      UNION ALL
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) - INTERVAL 1 HOUR, value FROM events
    )
    SELECT win_start, COUNT(*) AS n, {SQL_DSUM('value')} AS sum_value
    FROM starts GROUP BY win_start
    """,
    survey_rows="W4 (sliding-window extension, SURVEY §2.8 windows)",
    description="Sliding 2h/1h windows: each event contributes to the two "
    "overlapping windows (F.window with slide; batch and streaming share "
    "the operator).",
)
def w10_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"), agg.decimal_sum("value").alias("sum_value"))
        .select(F.col("win.start").alias("win_start"), "n", "sum_value")
    )


# ===========================================================================
# Fuzzy string matching (edit distance)
# ===========================================================================


@register(
    "t9_levenshtein_pairs",
    r"""
    WITH d AS (
      SELECT doc_id, lang,
             substr(regexp_replace(text, '[^ -~]', '', 'g'), 1, 40) AS prefix
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           levenshtein(a.prefix, b.prefix) AS edit_dist
    FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE levenshtein(a.prefix, b.prefix) <= 12
    """,
    survey_rows="ext:dedup-fuzzy (edit distance)",
    description="Fuzzy near-dup pairs by Levenshtein distance over text "
    "prefixes, blocked by language (blocking keeps the pair space "
    "linear-ish; at scale block on shingle buckets instead). Distance runs "
    "over the printable-ASCII projection of the text: Spark counts "
    "Levenshtein in UTF-16 code units and DuckDB in its own unit, so "
    "combining accents (e +  ́ ) make the engines disagree on raw text — "
    "caught by the fresh-seed reseed probe, not the pinned seeds.",
)
def t9_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import levenshtein_blocked_pairs

    docs = _t(spark, sf_dir, "documents")
    # exact_dedup_first (operator default ON) collapses identical
    # (prefix, lang) rows before the within-block pair join and expands the
    # exact answer back — answer-identical (identical prefixes => identical
    # Levenshtein; intra-group pairs are distance 0), and the only reason
    # the duplicate-heavy 100x blow-up finishes (raw per-language blocks
    # pay occupancy^2 in 40-char Levenshtein calls).
    return levenshtein_blocked_pairs(docs, prefix_len=40)



# ===========================================================================
# Sampling/rank/array round-out
# ===========================================================================


def _systematic_sample(
    spark: SparkSession, sf_dir: str, bucket_width: int | None
) -> DataFrame:
    """w11/w28: every tenth event of each event type in event_id order,
    counted and summed — ranked by one window per type, or by
    windows.bucketed_row_number over ``bucket_width``-wide id ranges."""
    ev = _t(spark, sf_dir, "events")
    if bucket_width is None:
        w = Window.partitionBy("event_type").orderBy(F.col("event_id").asc())
        ranked = ev.withColumn("rn", F.row_number().over(w))
    else:
        ranked = ow.bucketed_row_number(
            ev.select("event_type", "value", "event_id"),
            ["event_type"],
            "event_id",
            bucket_width=bucket_width,
        )
    return (
        ranked.filter(F.col("rn") % 10 == 1)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), agg.decimal_sum("value").alias("sum_value"))
    )


@register(
    "w11_stratified_systematic_sample",
    f"""
    WITH ranked AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY event_id ASC) AS rn
      FROM events
    )
    SELECT event_type, COUNT(*) AS n, {SQL_DSUM('value')} AS sum_value
    FROM ranked WHERE rn % 10 = 1 GROUP BY event_type
    """,
    survey_rows="W7 (stratified extension)",
    description="Stratified systematic sample: every 10th row per stratum "
    "under a deterministic ordering (df.sampleBy is the statistical variant).",
)
def w11_stratified_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _systematic_sample(spark, sf_dir, None)


@register(
    "a13_percent_rank_cume_dist",
    """
    WITH r AS (
      SELECT c_mktsegment, c_custkey,
             PERCENT_RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC) AS pr,
             CUME_DIST() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC) AS cd
      FROM customer
    )
    SELECT c_mktsegment,
           COUNT(CASE WHEN pr >= 0.9 THEN 1 END) AS n_top_decile,
           ROUND(MAX(CASE WHEN cd <= 0.5 THEN pr END), 6) AS median_pr
    FROM r GROUP BY c_mktsegment
    """,
    survey_rows="W6 (percent_rank/cume_dist extensions)",
    description="Distribution-rank windows: percent_rank and cume_dist per "
    "group with unique tie-breaks.",
)
def a13_percent_rank_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    r = cust.withColumn("pr", F.percent_rank().over(w)).withColumn(
        "cd", F.cume_dist().over(w)
    )
    return r.groupBy("c_mktsegment").agg(
        F.count(F.when(F.col("pr") >= 0.9, 1)).alias("n_top_decile"),
        F.round(F.max(F.when(F.col("cd") <= 0.5, F.col("pr"))), 6).alias("median_pr"),
    )


@register(
    "a14_sorted_array_agg",
    """
    SELECT user_id, array_to_string(list_sort(list(DISTINCT event_type)), ',') AS event_types
    FROM events GROUP BY user_id
    """,
    survey_rows="array-agg (SURVEY §2.6 note: array ops exposed)",
    description="Sorted distinct array aggregation per group (collect_set + "
    "array_sort), emitted as a joined string: the driver's pandas "
    "canonicalizer cannot sort/hash raw list cells.",
)
def a14_sorted_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias(
            "event_types"
        )
    )


# ===========================================================================
# KS two-sample test + stream-stream join
# ===========================================================================


@register(
    "m11_ks_two_sample",
    """
    WITH flagged AS (
      SELECT o_totalprice AS v,
             CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS in_a
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    per_value AS (
      SELECT v, SUM(in_a) AS ca, SUM(1 - in_a) AS cb FROM flagged GROUP BY v
    ),
    totals AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b FROM per_value),
    ecdf AS (
      SELECT SUM(ca) OVER (ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0 / t.n_a AS fa,
             SUM(cb) OVER (ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0 / t.n_b AS fb
      FROM per_value, totals t
    )
    SELECT t.n_a, t.n_b, ROUND(MAX(ABS(fa - fb)), 6) AS ks_d
    FROM ecdf, totals t GROUP BY t.n_a, t.n_b
    """,
    survey_rows="M-family extension: two-sample KS via window ECDFs",
    description="Kolmogorov-Smirnov two-sample statistic (BUILDING vs rest) "
    "from cumulative window sums over distinct values - no collect.",
)
def m11_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..stats.inference import ks_two_sample

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    out = ks_two_sample(joined, "c_mktsegment", "o_totalprice", "BUILDING")
    return out.withColumn("ks_d", F.round("ks_d", 6))


@register(
    "st5_stream_stream_join",
    """
    WITH purchases AS (
      SELECT user_id, ts AS p_ts, event_id AS p_id FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT user_id, ts AS c_ts FROM events WHERE event_type = 'click'
    )
    SELECT p.user_id, COUNT(*) AS n_pairs
    FROM purchases p JOIN clicks c
      ON p.user_id = c.user_id
     AND c.c_ts BETWEEN p.p_ts - INTERVAL 1 HOUR AND p.p_ts
    GROUP BY p.user_id
    """,
    survey_rows="§2.8 stream-stream join (time-bounded)",
    description="Stream-stream inner join with watermarks: purchases joined "
    "to same-user clicks within the preceding hour, run to completion over "
    "the finite source - matches the batch range-join oracle.",
)
def st5_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.ingest import read_events_stream, run_stream_to_memory

    ev = read_events_stream(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id"))
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    )
    out = run_stream_to_memory(joined, output_mode="append")
    return out.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))


@register(
    "st7_stream_static_join",
    """
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_events,
           COUNT(DISTINCT e.user_id) AS n_users,
           CAST(SUM(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
    survey_rows="§2.8 stream-static join (dim enrichment on a stream)",
    description="Stream-static join: the events stream enriched against the "
    "static customer dim (broadcast — stateless per-batch, no watermark "
    "state), run to completion over the finite source, then per-segment "
    "event/user/purchase counts. The streaming twin of J1's "
    "fact-broadcast-dim shape; matches the batch join oracle exactly.",
)
def st7_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.ingest import read_events_stream, run_stream_to_memory

    ev = read_events_stream(spark, sf_dir)
    dim = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = ev.join(dim, ev.user_id == F.col("c_custkey"))
    out = run_stream_to_memory(joined, output_mode="append")
    return out.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n_purchases"),
    )



def _st9_gate_sql() -> str:
    """Batch mirror of the streaming near-dup gate: the same generated
    universal-hash MinHash constants as t7's oracle, but the candidate
    join is CROSS-SET (stream docs doc_id%3=0 vs static corpus
    doc_id%3<>0, no a<b), reduced to per-lang checked/duplicate counts
    over the stream subset. Equality holds regardless of micro-batch
    splits because signatures/bands/counts are per-document properties."""
    return _minhash_verify_ctes(
        "documents", "a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0"
    ) + f""",
    dups AS (
      SELECT DISTINCT id_a{_SQL_JACCARD_VERIFIED}
    )
    SELECT doc.lang, COUNT(*) AS n_checked,
           CAST(SUM(CASE WHEN d.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dups
    FROM documents doc LEFT JOIN dups d ON doc.doc_id = d.id_a
    WHERE doc.doc_id % 3 = 0
    GROUP BY 1
    """


@register(
    "st9_streaming_neardup_gate",
    _st9_gate_sql(),
    survey_rows="§2.8 foreachBatch composition; ext:dedup-minhash streaming gate",
    description="Streaming near-dup ingestion gate — the filter a training "
    "pipeline runs on every incoming crawl batch against the EXISTING "
    "corpus: documents stream in micro-batches, each batch builds its "
    "portable MinHash features, banded-equi-joins the static corpus's "
    "bands (its features built once, checkpointed), verifies candidates "
    "with exact Jaccard, and appends per-doc duplicate flags; final per-lang "
    "checked/duplicate counts. Stateless per batch (signatures are "
    "per-document properties, so any micro-batch split equals the batch "
    "answer — which is exactly what the generated cross-set oracle "
    "checks). The 100 TB shape: static side is the materialized feature "
    "table, per-batch cost is batch-size x bands, never corpus-squared.",
)
def st9_streaming_neardup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.ingest import _table_stream, neardup_gate_foreach_batch

    docs = _t(spark, sf_dir, "documents")
    static = docs.filter(F.col("doc_id") % 3 != 0)
    stream = _table_stream(spark, sf_dir, "documents.parquet")
    stream = stream.filter(F.col("doc_id") % 3 == 0)
    sink: list = []
    neardup_gate_foreach_batch(stream, static, sink)
    rows = [r for _, batch_rows in sink for r in batch_rows]
    out = local_frame(spark, rows, "doc_id long, lang string, is_dup boolean")
    return out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_checked"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("n_dups"),
    )


# ===========================================================================
# Dedup clusters (connected components over near-dup pairs)
# ===========================================================================

#: DuckDB CTE chain computing the exact near-dup transitive closure
#: (3-gram Jaccard >= 0.5, doc-freq cap 100) — shared by t10, t25 and t26.
SQL_CLOSURE_CTES = _ngram_jaccard_ctes() + """,
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id
      WHERE n_common * 1.0 / (ca.n + cb.n - n_common) >= 0.5
    ),
    nodes AS (
      SELECT id_a AS node, id_b AS nbr FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    -- exact transitive closure: a doc's component is the min label
    -- REACHABLE through any chain of near-dup edges (duplicate chains
    -- like 0~17~34 are real under fresh seeds; one-hop min is wrong there)
    reach AS (
      SELECT DISTINCT node, node AS label FROM nodes
      UNION
      SELECT n.node, r.label FROM nodes n JOIN reach r ON n.nbr = r.node
    ),
    comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node)"""


@register(
    "t10_dedup_clusters",
    f"""
    WITH RECURSIVE {SQL_CLOSURE_CTES}
    SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS canonical_id
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """,
    survey_rows="ext:dedup-clusters (connected components)",
    description="Near-dup pairs -> dedup clusters via iterative min-label "
    "propagation (connected components); every doc mapped to its cluster's "
    "canonical min-id survivor. Oracle computes the exact closure with a "
    "recursive CTE; tokenization and the doc-freq skew cap mirror t2.",
)
def t10_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dedup_clusters

    docs = _t(spark, sf_dir, "documents")
    # the pair graph is byte-identical to t2's — reuse its checkpointed
    # materialization instead of re-running the shingle-index self-join
    pairs = _ngram_pairs_shared(spark, sf_dir)
    return dedup_clusters(docs, pairs)


def _split_80_10_10(key: str) -> Column:
    """t12/t16/t26's deterministic split of a row by its ``key`` id: a
    Lehmer-style multiplicative hash mod 100 (overflow-safe to 2^63) sends
    80% to train, 10% to val and 10% to test."""
    bucket = ((F.col(key) % 2147483648) * 48271) % 2147483647 % 100
    return (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )


@register(
    "t26_leakage_free_split",
    f"""
    WITH RECURSIVE {SQL_CLOSURE_CTES},
    canon AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS canonical_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    ),
    hashed AS (
      SELECT doc_id, canonical_id,
             ((canonical_id % 2147483648) * 48271) % 2147483647 % 100 AS bucket
      FROM canon
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT canonical_id) AS n_clusters
    FROM hashed GROUP BY 1
    """,
    survey_rows="ext:leakage-free split (cluster-aware t12)",
    description="Train/val/test split keyed on the dedup-cluster canonical "
    "id instead of the doc id: every near-duplicate cluster lands wholly "
    "in one split, so eval sets cannot contain near-copies of training "
    "docs (the contamination mode t16 detects, prevented at split time). "
    "Same Lehmer hash as t12, same shared pair graph as t2/t10 — the "
    "cluster pass adds nothing beyond t10's cost when run together.",
)
def t26_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dedup_clusters

    docs = _t(spark, sf_dir, "documents")
    pairs = _ngram_pairs_shared(spark, sf_dir)
    canon = dedup_clusters(docs, pairs)
    return (
        canon.withColumn("split", _split_80_10_10("canonical_id"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("canonical_id").alias("n_clusters"),
        )
    )


# ===========================================================================
# Text normalization
# ===========================================================================


@register(
    "t11_text_normalize",
    """
    WITH norm AS (
      SELECT doc_id,
             trim(lower(regexp_replace(regexp_replace(text, '[\\x00-\\x1f]', ' ', 'g'), '\\s+', ' ', 'g'))) AS ntext
      FROM documents
    )
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT ntext) AS n_distinct_after,
           CAST(SUM(length(ntext)) AS BIGINT) AS total_chars,
           MIN(md5(ntext)) AS min_hash
    FROM norm
    """,
    survey_rows="ext:text-normalize (pre-dedup cleanup)",
    description="Text normalization pass (lowercase, control-char strip, "
    "whitespace squash, trim) with post-normalization dedup accounting.",
)
def t11_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import normalize_text

    docs = _t(spark, sf_dir, "documents")
    norm = docs.select(normalize_text(F.col("text")).alias("ntext"))
    return norm.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("ntext").alias("n_distinct_after"),
        F.sum(F.length("ntext")).alias("total_chars"),
        F.min(F.md5("ntext")).alias("min_hash"),
    )


# ===========================================================================
# IQR outliers + time-range window frames
# ===========================================================================


@register(
    "dq2_iqr_outliers",
    f"""
    WITH q AS (
      SELECT event_type,
             QUANTILE_CONT(value, 0.25) AS q1,
             QUANTILE_CONT(value, 0.75) AS q3
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           COUNT(*) AS n,
           COUNT(CASE WHEN e.value < q.q1 - 1.5 * (q.q3 - q.q1)
                        OR e.value > q.q3 + 1.5 * (q.q3 - q.q1) THEN 1 END) AS n_outliers,
           {SQL_DAVG_Q4('LEAST(GREATEST(e.value, q.q1 - 1.5 * (q.q3 - q.q1)), q.q3 + 1.5 * (q.q3 - q.q1))')} AS winsorized_mean
    FROM events e JOIN q ON e.event_type = q.event_type
    GROUP BY e.event_type
    """,
    survey_rows="M10 (IQR whiskers) + ext:data-quality",
    description="Boxplot-whisker outlier report per group: IQR bounds from "
    "exact quantiles, outlier counts, winsorized mean (clipping cleanup).",
)
def dq2_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    exact = agg.route_exact_percentile(
        ev, ["event_type"], agg.EXACT_PERCENTILE_MAX_GROUP_ROWS
    )
    q = ev.groupBy("event_type").agg(
        *agg.quantile_cols("value", [0.25, 0.75], ["q1", "q3"], exact, round_to=None)
    )
    joined = ev.join(F.broadcast(q), "event_type")
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    clipped = F.least(F.greatest(F.col("value"), lo), hi)
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when((F.col("value") < lo) | (F.col("value") > hi), 1)).alias("n_outliers"),
        agg.decimal_avg_q4(clipped).alias("winsorized_mean"),
    )


@register(
    "w12_time_range_frame",
    f"""
    WITH framed AS (
      SELECT user_id, event_id,
             COUNT(*) OVER (
               PARTITION BY user_id ORDER BY epoch(ts)
               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
             ) AS n_last_hour
      FROM events
    )
    SELECT user_id, MAX(n_last_hour) AS max_burst,
           {SQL_DAVG('n_last_hour')} AS mean_burst
    FROM framed GROUP BY user_id
    """,
    survey_rows="W1 range-frame extension (time-based frames)",
    description="Time-range window frame: per event, activity count within "
    "the trailing hour (RANGE on epoch seconds) -> burst stats per user.",
)
def w12_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("double"))
        .rangeBetween(-3600, 0)
    )
    framed = ev.withColumn("n_last_hour", F.count(F.lit(1)).over(w))
    return framed.groupBy("user_id").agg(
        F.max("n_last_hour").alias("max_burst"),
        agg.decimal_avg(F.col("n_last_hour")).alias("mean_burst"),
    )


# ===========================================================================
# Deterministic train/val/test splitting
# ===========================================================================


@register(
    "t12_train_val_test_split",
    f"""
    WITH hashed AS (
      SELECT doc_id, n_chars,
             ((doc_id % 2147483648) * 48271) % 2147483647 % 100 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM hashed GROUP BY 1
    """,
    survey_rows="ext:train-split (deterministic 80/10/10)",
    description="Deterministic id-hash train/val/test split (Lehmer-style "
    "multiplicative hash, overflow-safe to 2^63) - reproducible across "
    "runs, engines and partitionings, unlike randomSplit.",
)
def t12_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("split", _split_80_10_10("doc_id"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("total_chars"))
    )


# ===========================================================================
# Weighted aggregation + k-fold assignment
# ===========================================================================


@register(
    "a15_weighted_mean",
    f"""
    SELECT l_returnflag,
           {SQL_DSUM('l_quantity')} AS total_weight,
           {SQL_DSUM('l_quantity * l_discount')} / ({SQL_DSUM('l_quantity')}) AS weighted_mean_disc,
           {SQL_DAVG('l_discount')} AS unweighted_mean_disc
    FROM lineitem GROUP BY l_returnflag
    """,
    survey_rows="A1 weighted extension",
    description="Quantity-weighted mean discount per flag (exact decimal "
    "numerator/denominator) vs the unweighted mean.",
)
def a15_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    wsum = agg.decimal_sum(F.col("l_quantity") * F.col("l_discount"))
    tw = agg.decimal_sum("l_quantity")
    return li.groupBy("l_returnflag").agg(
        tw.alias("total_weight"),
        (wsum / tw).alias("weighted_mean_disc"),
        agg.decimal_avg("l_discount").alias("unweighted_mean_disc"),
    )


@register(
    "t13_kfold_assignment",
    """
    SELECT ((doc_id % 2147483648) * 48271) % 2147483647 % 5 AS fold,
           COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY 1
    """,
    survey_rows="ext:train-split (k-fold)",
    description="Deterministic 5-fold cross-validation assignment (same "
    "Lehmer id-hash family as the train/val/test split).",
)
def t13_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    fold = ((F.col("doc_id") % 2147483648) * 48271) % 2147483647 % 5
    return docs.withColumn("fold", fold).groupBy("fold").agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("total_chars")
    )


# ===========================================================================
# Null-safe join, first/last windows, gaps-and-islands streaks
# ===========================================================================


@register(
    "j9_null_safe_join",
    """
    WITH a AS (
      SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS k
      FROM documents
    ),
    b AS (
      SELECT lang AS k, COUNT(*) AS n_lang
      FROM documents GROUP BY lang
      UNION ALL SELECT NULL, -1
    )
    SELECT a.k, b.n_lang, COUNT(*) AS n
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY a.k, b.n_lang
    """,
    survey_rows="J-family: null-safe equality (<=>)",
    description="Null-safe equi-join: NULL keys match NULL (eqNullSafe / "
    "IS NOT DISTINCT FROM) - the semantics plain equi-joins silently drop.",
)
def j9_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    a = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 != 0, F.col("lang")).alias("k"),
    )
    b = docs.groupBy(F.col("lang").alias("k")).agg(F.count(F.lit(1)).alias("n_lang")).unionByName(
        local_frame(spark, [(None, -1)], "k string, n_lang long")
    )
    joined = a.join(b, a["k"].eqNullSafe(b["k"]), "inner")
    return joined.groupBy(a["k"], "n_lang").agg(F.count(F.lit(1)).alias("n"))


@register(
    "w13_first_last_value",
    f"""
    WITH framed AS (
      SELECT user_id, value,
             FIRST_VALUE(value) OVER w AS day_open,
             LAST_VALUE(value) OVER (PARTITION BY user_id, date_trunc('day', ts)
                                     ORDER BY ts ASC, event_id ASC
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS day_close
      FROM events
      WINDOW w AS (PARTITION BY user_id, date_trunc('day', ts)
                   ORDER BY ts ASC, event_id ASC)
    )
    SELECT user_id, COUNT(*) AS n,
           {SQL_DAVG_Q4('day_close - day_open')} AS mean_day_drift
    FROM framed GROUP BY user_id
    """,
    survey_rows="W-family: first_value/last_value frames",
    description="Opening/closing value per (user, day) via first_value and "
    "an unbounded-following last_value frame; daily drift aggregated.",
)
def w13_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn("day", F.date_trunc("day", "ts"))
    w = Window.partitionBy("user_id", "day").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    framed = ev.withColumn("day_open", F.first("value").over(w)).withColumn(
        "day_close",
        F.last("value").over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)),
    )
    return framed.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        agg.decimal_avg_q4(F.col("day_close") - F.col("day_open")).alias("mean_day_drift"),
    )


@register(
    "w14_longest_streak",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id, (value < 50.0) AS is_low,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn,
             ROW_NUMBER() OVER (PARTITION BY user_id, (value < 50.0) ORDER BY ts ASC, event_id ASC) AS rn_in_state
      FROM events
    ),
    islands AS (
      SELECT user_id, COUNT(*) AS streak_len
      FROM flagged WHERE is_low
      GROUP BY user_id, rn - rn_in_state
    )
    SELECT user_id, MAX(streak_len) AS longest_low_streak, COUNT(*) AS n_streaks
    FROM islands GROUP BY user_id
    """,
    survey_rows="W-family: gaps-and-islands (consecutive-run detection)",
    description="Longest consecutive run of low readings per user via the "
    "row_number-difference gaps-and-islands technique (the shortage-streak "
    "shape over the reference's filling-rate series).",
)
def w14_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn("is_low", F.col("value") < 50.0)
    w_all = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    w_state = Window.partitionBy("user_id", "is_low").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    flagged = ev.withColumn("rn", F.row_number().over(w_all)).withColumn(
        "rn_in_state", F.row_number().over(w_state)
    )
    islands = (
        flagged.filter(F.col("is_low"))
        .groupBy("user_id", (F.col("rn") - F.col("rn_in_state")).alias("island"))
        .agg(F.count(F.lit(1)).alias("streak_len"))
    )
    return islands.groupBy("user_id").agg(
        F.max("streak_len").alias("longest_low_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


# ===========================================================================
# TPC-H Q5 shape + sub-word token counting
# ===========================================================================


@register(
    "q5_local_supplier_volume",
    f"""
    SELECT n.n_name,
           {SQL_DSUM('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           COUNT(*) AS n_items
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND c.c_nationkey = s.s_nationkey
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
    survey_rows="J1 (TPC-H Q5: 6-way join + correlated-nation predicate)",
    description="Local supplier volume: six-table join with the customer-"
    "nation = supplier-nation correlation, region filter pushed down.",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(sup, l.l_suppkey == sup.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(n, F.col("s_nationkey") == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy("n_name").agg(
        agg.decimal_sum(revenue).alias("revenue"), F.count(F.lit(1)).alias("n_items")
    )


_WT_EXPR = "len(regexp_extract_all(text, '[a-zA-Z0-9_]+|[^a-zA-Z0-9_\\s]'))"


@register(
    "t14_word_token_count",
    f"""
    SELECT lang,
           CAST(SUM({_WT_EXPR}) AS BIGINT) AS total_subword_tokens,
           {SQL_DAVG(_WT_EXPR)} AS mean_subword_tokens
    FROM documents GROUP BY lang
    """,
    survey_rows="ext:token-counting (BPE-ish regex)",
    description="Sub-word-ish token counting: word chars plus punctuation "
    "splits (the BPE-proxy regex from SURVEY's token-counting row).",
)
def t14_word_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.regexp_extract_all("text", F.lit(r"[a-zA-Z0-9_]+|[^a-zA-Z0-9_\s]"), 0))
    return (
        docs.withColumn("nt", n_tok)
        .groupBy("lang")
        .agg(
            F.sum("nt").alias("total_subword_tokens"),
            agg.decimal_avg(F.col("nt").cast("double")).alias("mean_subword_tokens"),
        )
    )


# ===========================================================================
# HAVING + boolean aggregates
# ===========================================================================


@register(
    "a17_having_filter",
    f"""
    SELECT o_custkey, COUNT(*) AS n_orders, {SQL_DSUM('o_totalprice')} AS total_spent
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 15
    """,
    survey_rows="A-family: post-aggregation HAVING (TPC-H Q18 shape)",
    description="Large-customer detection: group + HAVING threshold on the "
    "aggregate (filter above the aggregation in the plan).",
)
def a17_having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            agg.decimal_sum("o_totalprice").alias("total_spent"),
        )
        .filter(F.col("n_orders") >= 15)
    )


@register(
    "a18_bool_aggregates",
    """
    SELECT user_id,
           BOOL_OR(event_type = 'purchase') AS ever_purchased,
           BOOL_AND(value < 450.0) AS always_below_450,
           COUNT(*) AS n
    FROM events GROUP BY user_id
    """,
    survey_rows="A-family: boolean aggregates (ANY/ALL semantics)",
    description="bool_or / bool_and per group: EXISTS/FORALL folded into "
    "one aggregation pass.",
)
def a18_bool_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.bool_or(F.col("event_type") == "purchase").alias("ever_purchased"),
        F.bool_and(F.col("value") < 450.0).alias("always_below_450"),
        F.count(F.lit(1)).alias("n"),
    )


# ===========================================================================
# Grouping sets, PII masking, robust statistics
# ===========================================================================


@register(
    "a19_grouping_sets",
    f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n, {SQL_DSUM('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
    survey_rows="A-family: explicit GROUPING SETS",
    description="Explicit grouping sets (two independent marginal rollups "
    "in one pass) - distinct from rollup/cube lattices.",
)
def a19_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("corpus_lineitem_gs")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty
        FROM corpus_lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


@register(
    "t15_pii_masking",
    """
    WITH masked AS (
      SELECT doc_id,
             regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS redacted,
             len(regexp_extract_all(text, '[0-9]+')) AS n_redactions
      FROM documents
    )
    SELECT CAST(SUM(n_redactions) AS BIGINT) AS total_redactions,
           COUNT(CASE WHEN n_redactions > 0 THEN 1 END) AS docs_touched,
           CAST(SUM(length(redacted)) AS BIGINT) AS total_chars_after,
           MIN(md5(redacted)) AS min_hash
    FROM masked
    """,
    survey_rows="ext:pii-redaction (training-data cleanup)",
    description="PII-style masking pass: numeric spans redacted with a "
    "placeholder token; redaction accounting + content-hash parity.",
)
def t15_pii_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    masked = docs.select(
        F.regexp_replace("text", "[0-9]+", "<NUM>").alias("redacted"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), 0)).alias("n_redactions"),
    )
    return masked.agg(
        F.sum("n_redactions").alias("total_redactions"),
        F.count(F.when(F.col("n_redactions") > 0, 1)).alias("docs_touched"),
        F.sum(F.length("redacted")).alias("total_chars_after"),
        F.min(F.md5("redacted")).alias("min_hash"),
    )


@register(
    "m12_median_absolute_deviation",
    """
    WITH med AS (SELECT event_type, QUANTILE_CONT(value, 0.5) AS m FROM events GROUP BY event_type)
    SELECT e.event_type,
           ROUND(MIN(med.m), 6) AS median,
           ROUND(QUANTILE_CONT(ABS(e.value - med.m), 0.5), 6) AS mad
    FROM events e JOIN med ON e.event_type = med.event_type
    GROUP BY e.event_type
    """,
    survey_rows="M-family: robust dispersion (MAD)",
    description="Median absolute deviation per group: two-pass exact "
    "medians (broadcast per-group median, then median of deviations).",
)
def m12_median_absolute_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # both passes size-routed on the largest group (exact at graded scale;
    # percentile_approx sketches above the per-buffer memory bound)
    exact = agg.route_exact_percentile(
        ev, ["event_type"], agg.EXACT_PERCENTILE_MAX_GROUP_ROWS
    )
    (med_col,) = agg.quantile_cols("value", [0.5], ["m"], exact, round_to=None)
    med = ev.groupBy("event_type").agg(med_col)
    joined = ev.join(F.broadcast(med), "event_type").withColumn(
        "__absdev", F.abs(F.col("value") - F.col("m"))
    )
    (mad_col,) = agg.quantile_cols("__absdev", [0.5], ["mad"], exact)
    return joined.groupBy("event_type").agg(
        F.round(F.min("m"), 6).alias("median"), mad_col
    )


@register(
    "t16_contamination_check",
    f"""
    WITH labeled AS (
      SELECT doc_id,
             CASE WHEN ((doc_id % 2147483648) * 48271) % 2147483647 % 100 < 80 THEN 'train'
                  WHEN ((doc_id % 2147483648) * 48271) % 2147483647 % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split,
             {_SQL_WORDS} AS words
      FROM documents
    ),
    {_shingle_cte('labeled', carry=', split')},
    train_sh AS (SELECT DISTINCT s FROM shing WHERE split = 'train'),
    ev AS (
      SELECT shing.split, shing.s,
             s IN (SELECT s FROM train_sh) AS hit
      FROM shing WHERE split <> 'train'
    )
    SELECT split,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_overlapping,
           CASE WHEN COUNT(*) > 0 THEN
             FLOOR(SUM(CASE WHEN hit THEN 1 ELSE 0 END) * 1.0 / COUNT(*) * 1000000) / 1000000.0
           END AS contamination_rate
    FROM ev GROUP BY split
    """,
    survey_rows="ext:contamination-check (train/eval n-gram overlap)",
    description="Eval-set contamination audit: fraction of each held-out "
    "split's distinct word-3-grams that also occur anywhere in the train "
    "split (the standard pre-training leakage check). Deterministic "
    "Lehmer-hash split (t12); the shingle membership test is a broadcast "
    "left-semi-style join on the shingle string — equi-join, no pairs.",
)
def t16_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import shingle_index

    docs = _t(spark, sf_dir, "documents")
    idx = shingle_index(docs).withColumn("split", _split_80_10_10("doc_id"))
    train_sh = idx.filter(F.col("split") == "train").select("shingle").distinct()
    ev = idx.filter(F.col("split") != "train")
    hits = ev.join(
        train_sh.withColumn("__hit", F.lit(1)), "shingle", "left"
    )
    n_over = F.sum(F.when(F.col("__hit").isNotNull(), 1).otherwise(0))
    n_total = F.count(F.lit(1))
    return hits.groupBy("split").agg(
        n_total.alias("n_shingles"),
        n_over.alias("n_overlapping"),
        F.when(n_total > 0, q6(n_over * 1.0 / n_total)).alias("contamination_rate"),
    )


@register(
    "t17_repetition_ratio",
    f"""
    WITH w AS (SELECT doc_id, lang, {_SQL_WORDS} AS words FROM documents),
    tot AS (SELECT doc_id, lang, GREATEST(len(words) - 2, 0) AS n_total FROM w),
    {_shingle_cte('w')},
    dcnt AS (SELECT doc_id, COUNT(*) AS n_distinct FROM shing GROUP BY 1)
    SELECT lang,
           CAST(SUM(n_total) AS BIGINT) AS total_grams,
           CAST(SUM(COALESCE(n_distinct, 0)) AS BIGINT) AS distinct_grams,
           CASE WHEN SUM(n_total) > 0 THEN
             FLOOR((1 - SUM(COALESCE(n_distinct, 0)) * 1.0 / SUM(n_total)) * 1000000) / 1000000.0
           END AS repetition_ratio
    FROM tot LEFT JOIN dcnt USING (doc_id) GROUP BY lang
    """,
    survey_rows="ext:repetition-ratio (compression-proxy quality signal)",
    description="Per-language n-gram repetition ratio: 1 - distinct/total "
    "word-3-grams — the cheap compression-proxy used to flag boilerplate/"
    "spam docs before training. Pure column expressions (no shuffle beyond "
    "the final group-by): total grams from the token count, distinct grams "
    "from the deduped in-row shingle array.",
)
def t17_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import tokens, word_shingles_from_tokens

    docs = _t(spark, sf_dir, "documents").select(
        "lang", tokens(F.col("text")).alias("__toks")
    )
    per_doc = docs.select(
        "lang",
        F.greatest(F.size("__toks") - 2, F.lit(0)).alias("n_total"),
        F.size(word_shingles_from_tokens(F.col("__toks"))).alias("n_distinct"),
    )
    tg = F.sum("n_total")
    dg = F.sum("n_distinct")
    return per_doc.groupBy("lang").agg(
        tg.alias("total_grams"),
        dg.alias("distinct_grams"),
        F.when(tg > 0, q6(1 - dg * 1.0 / tg)).alias("repetition_ratio"),
    )


@register(
    "q18_large_volume_customers",
    f"""
    WITH big AS (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 150
    )
    SELECT c.c_name, o.o_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           {SQL_DSUM("l.l_quantity")} AS total_qty
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY 1, 2, 3, 4, 5
    """,
    survey_rows="A1,J1,a17 (TPC-H Q18 shape)",
    description="Large-volume customers (TPC-H Q18): HAVING-gated "
    "aggregation feeding a semi join back into the fact — Spark plans the "
    "IN-subquery as a left-semi hash join on the pre-aggregated key set, "
    "so the big fact⋈fact never materializes unfiltered.",
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(agg.decimal_sum(F.col("l_quantity")).alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    filtered = orders.join(
        big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi"
    )
    joined = filtered.join(li, filtered.o_orderkey == li.l_orderkey).join(
        cust, filtered.o_custkey == cust.c_custkey
    )
    return joined.groupBy(
        "c_name", "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    ).agg(agg.decimal_sum(F.col("l_quantity")).alias("total_qty"))


@register(
    "dq3_table_diff",
    """
    WITH a AS (SELECT o_orderkey AS k, md5(concat_ws('|', o_orderstatus, o_orderpriority,
                      CAST(o_totalprice AS VARCHAR))) AS row_hash
               FROM orders WHERE o_orderkey % 3 <> 0),
    b AS (SELECT o_orderkey AS k, md5(concat_ws('|', o_orderstatus, o_orderpriority,
                      CAST(o_totalprice + CASE WHEN o_orderkey % 7 = 0 THEN 1.0 ELSE 0.0 END AS VARCHAR))) AS row_hash
          FROM orders WHERE o_orderkey % 5 <> 0)
    SELECT 'only_in_a' AS diff_kind, COUNT(*) AS n
    FROM a WHERE k NOT IN (SELECT k FROM b)
    UNION ALL
    SELECT 'only_in_b', COUNT(*) FROM b WHERE k NOT IN (SELECT k FROM a)
    UNION ALL
    SELECT 'changed', COUNT(*)
    FROM a JOIN b USING (k) WHERE a.row_hash <> b.row_hash
    UNION ALL
    SELECT 'identical', COUNT(*)
    FROM a JOIN b USING (k) WHERE a.row_hash = b.row_hash
    """,
    survey_rows="ext:table-diff (reconciliation audit)",
    description="Snapshot reconciliation: key-level diff of two table "
    "versions via per-row md5 content hashes — added/removed/changed/"
    "identical counts. One shuffle per side on the key; the content "
    "compare rides the same join (the pattern behind CDC backfills and "
    "migration verification). Here the two 'versions' are deterministic "
    "slices of orders so the oracle is self-contained.",
)
def dq3_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    row_hash = F.md5(
        F.concat_ws(
            "|",
            F.col("o_orderstatus"),
            F.col("o_orderpriority"),
            F.col("o_totalprice").cast("string"),
        )
    )
    a = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("k"), row_hash.alias("hash_a")
    )
    # version B perturbs every 7th key's price so the diff has real
    # 'changed' rows; the hash compare is within-engine only (classification
    # outcomes, not hash bytes, are what the oracle checks)
    hash_b = F.md5(
        F.concat_ws(
            "|",
            F.col("o_orderstatus"),
            F.col("o_orderpriority"),
            (
                F.col("o_totalprice")
                + F.when(F.col("o_orderkey") % 7 == 0, 1.0).otherwise(0.0)
            ).cast("string"),
        )
    )
    b = orders.filter(F.col("o_orderkey") % 5 != 0).select(
        F.col("o_orderkey").alias("k"), hash_b.alias("hash_b")
    )
    only_a = a.join(b, "k", "left_anti").agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("only_in_a").alias("diff_kind"), "n"
    )
    only_b = b.join(a, "k", "left_anti").agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("only_in_b").alias("diff_kind"), "n"
    )
    both = a.join(b, "k")
    changed = both.filter(F.col("hash_a") != F.col("hash_b")).agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("changed").alias("diff_kind"), "n")
    identical = both.filter(F.col("hash_a") == F.col("hash_b")).agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("identical").alias("diff_kind"), "n")
    return only_a.unionByName(only_b).unionByName(changed).unionByName(identical)


@register(
    "skew_salted_agg",
    """
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value,
           COUNT(*) AS n,
           MAX(value) AS max_value
    FROM events GROUP BY event_type
    """,
    survey_rows="ext:skew-mitigation (salted two-stage aggregation)",
    description="Two-stage salted aggregation over the hot event_type keys: "
    "stage 1 aggregates per (key, salt) spreading each hot key over 16 "
    "reducers, stage 2 recombines the algebraic partials. The oracle is the "
    "PLAIN single-stage SQL — salting must be semantically invisible, which "
    "is exactly what the hash-compare proves. Decimal sums keep the "
    "recombine exact (double partials would drift with salt count).",
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_group_agg

    ev = _t(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast("decimal(27,6)")
    )
    out = salted_group_agg(
        ev,
        keys=["event_type"],
        aggs={
            "total_value": ("value_dec", "sum"),
            # count a never-null column: the oracle is COUNT(*), and
            # count(value) would under-count when value has NULLs
            "n": ("event_id", "count"),
            "max_value": ("value", "max"),
        },
        n_salts=16,
    )
    return out.select(
        "event_type",
        F.col("total_value").cast("double").alias("total_value"),
        "n",
        "max_value",
    )


@register(
    "st6_foreachbatch_upsert",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
    FROM events WHERE event_id % 10 <> 0
    GROUP BY event_type
    """,
    survey_rows="§2.8 foreachBatch upsert, S9",
    description="foreachBatch anti-join upsert run as a REAL stream: "
    "micro-batches dedup on the key and anti-join the pre-existing key set "
    "(event_id % 10 == 0 rows simulate already-loaded data), the appended "
    "remainder is aggregated. The oracle is the batch equivalent — "
    "streaming upsert semantics must equal one big anti-join.",
)
def st6_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.ingest import read_events_stream, upsert_foreach_batch

    stream = read_events_stream(spark, sf_dir).select("event_id", "event_type", "value")
    existing = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") % 10 == 0)
        .select("event_id")
    )
    sink: list = []
    upsert_foreach_batch(stream, existing, ["event_id"], sink)
    rows = [r for _, batch in sink for r in batch]
    upserted = local_frame(spark, rows, "event_id long, event_type string, value double")
    return upserted.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        agg.decimal_sum(F.col("value")).alias("total_value"),
    )


@register(
    "q13_customer_order_distribution",
    """
    WITH per_cust AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust GROUP BY c_count
    """,
    survey_rows="J-family outer join + A12 (TPC-H Q13 shape)",
    description="Customer order-count distribution (TPC-H Q13): left outer "
    "join with an ON-clause filter on the right side (customers with zero "
    "matching orders count as 0), then a second aggregation over the "
    "first's output — the double-group-by shape.",
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q20_supplier_part_chain",
    f"""
    WITH shipped AS (
      SELECT l_suppkey, l_partkey, {SQL_DSUM("l_quantity")} AS qty
      FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      GROUP BY 1, 2
    ),
    eligible AS (
      SELECT DISTINCT s.l_suppkey
      FROM shipped s JOIN part p ON s.l_partkey = p.p_partkey
      WHERE p.p_name LIKE '%red%' AND s.qty > 80
    )
    SELECT su.s_name, su.s_acctbal, n.n_name
    FROM supplier su
    JOIN nation n ON su.s_nationkey = n.n_nationkey
    WHERE su.s_suppkey IN (SELECT l_suppkey FROM eligible)
    """,
    survey_rows="semi-join chain + like filter (TPC-H Q20 shape)",
    description="Suppliers with surplus of a part family (TPC-H Q20): "
    "aggregate-then-filter feeding a DISTINCT key set consumed as a semi "
    "join — the nested-subquery chain Spark plans as two hash joins plus a "
    "left-semi, never a correlated per-row probe.",
)
def q20_supplier_part_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp")
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    shipped = li.groupBy("l_suppkey", "l_partkey").agg(
        agg.decimal_sum(F.col("l_quantity")).alias("qty")
    )
    eligible = (
        shipped.filter(F.col("qty") > 80)
        .join(part, shipped.l_partkey == part.p_partkey)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supplier.join(
            eligible.withColumnRenamed("l_suppkey", "s_suppkey"), "s_suppkey", "left_semi"
        )
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .select("s_name", "s_acctbal", "n_name")
    )


@register(
    "t18_char_entropy",
    f"""
    WITH chars AS (
      SELECT doc_id, unnest(string_split(regexp_replace(text, '[^ -~]', '', 'g'), '')) AS ch
      FROM documents WHERE length(regexp_replace(text, '[^ -~]', '', 'g')) > 0
    ),
    freq AS (
      SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY 1, 2
    ),
    tot AS (SELECT doc_id, SUM(c) AS n FROM freq GROUP BY 1),
    ent AS (
      SELECT f.doc_id,
             -SUM((f.c * 1.0 / t.n) * LN(f.c * 1.0 / t.n)) / LN(2) AS entropy
      FROM freq f JOIN tot t USING (doc_id)
      GROUP BY f.doc_id
    ),
    docs AS (SELECT doc_id, lang FROM documents)
    SELECT d.lang, COUNT(e.entropy) AS n_docs,
           {SQL_Q6(SQL_DAVG(SQL_Q6("e.entropy")))} AS mean_entropy
    FROM docs d JOIN ent e USING (doc_id)
    GROUP BY d.lang
    """,
    survey_rows="ext:char-entropy (perplexity-proxy quality signal)",
    description="Per-document character-level Shannon entropy over the "
    "printable-ASCII projection (the cheap perplexity proxy used to flag "
    "gibberish/low-information docs), averaged per language. Per-doc "
    "entropies are floor-quantized to 6 dp BEFORE the mean so the rational "
    "p·log p sums cannot tie differently across engines; explode + two "
    "hash aggregations, no Python.",
)
def t18_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    clean = F.regexp_replace(F.col("text"), "[^ -~]", "")
    chars = (
        docs.select("doc_id", "lang", clean.alias("ctext"))
        .filter(F.length("ctext") > 0)
        .select("doc_id", "lang", F.explode(F.split(F.col("ctext"), "")).alias("ch"))
    )
    freq = chars.groupBy("doc_id", "lang", "ch").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("doc_id")
    p = F.col("c") / F.sum("c").over(w)
    ent = (
        freq.withColumn("p", p)
        .groupBy("doc_id", "lang")
        .agg((-F.sum(F.col("p") * F.log(F.col("p"))) / F.log(F.lit(2.0))).alias("entropy"))
    )
    # quantize per-doc entropies to 6 dp, then an EXACT decimal mean —
    # a raw double AVG would be partition-order dependent in the low bits
    return ent.groupBy("lang").agg(
        F.count("entropy").alias("n_docs"),
        q6(agg.decimal_avg(q6(F.col("entropy")))).alias("mean_entropy"),
    )


@register(
    "t19_bigram_lm",
    f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_LOWER_WORDS} AS words
      FROM documents
    ),
    bigrams AS (
      SELECT words[i] AS w1, words[i+1] AS w2
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(words)-1)) AS i)
    ),
    pair_counts AS (SELECT w1, w2, COUNT(*) AS c12 FROM bigrams GROUP BY 1, 2),
    uni AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM pair_counts GROUP BY 1),
    ranked AS (
      SELECT p.w1, p.w2, p.c12, u.c1,
             FLOOR(p.c12 * 1.0 / u.c1 * 1000000) / 1000000.0 AS cond_p,
             ROW_NUMBER() OVER (ORDER BY p.c12 DESC, p.w1, p.w2) AS rn
      FROM pair_counts p JOIN uni u USING (w1)
    )
    SELECT w1, w2, c12, c1, cond_p FROM ranked WHERE rn <= 50
    """,
    survey_rows="ext:ngram-lm (bigram conditional probabilities)",
    description="Tiny corpus language model: bigram counts + conditional "
    "probabilities P(w2|w1)=c12/c1, top-50 by frequency with a total "
    "deterministic tie-break. The n-gram-counting shape behind LM data "
    "prep; two hash aggregations and a top-k (TakeOrderedAndProject), "
    "conditional probabilities floor-quantized.",
)
def t19_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(tokens(F.lower(F.col("text"))).alias("words"))
    n = F.size("words")
    idx = F.sequence(F.lit(0), F.greatest(n - 2, F.lit(-1)))
    bigrams = toks.filter(n >= 2).select(
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at(F.col("words"), i + 1).alias("w1"),
                    F.element_at(F.col("words"), i + 2).alias("w2"),
                ),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    pair_counts = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni = pair_counts.groupBy("w1").agg(F.sum("c12").alias("c1"))
    ranked = (
        pair_counts.join(uni, "w1")
        .withColumn("cond_p", q6(F.col("c12") * 1.0 / F.col("c1")))
        .orderBy(F.col("c12").desc(), "w1", "w2")
        .limit(50)
    )
    return ranked.select("w1", "w2", "c12", "c1", "cond_p")



# ===========================================================================
# Training-pipeline extensions: chunking, vocab, TF-IDF,
# embedding quantization, sequence packing
# ===========================================================================


@register(
    "t20_context_chunking",
    f"""
    WITH toks AS (
      SELECT doc_id, lang,
             {_TOK_EXPR} AS n_tok
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, lang, n_tok,
             CASE WHEN n_tok <= 0 THEN 0
                  ELSE CAST(CEIL(GREATEST(n_tok - 512, 0) / 448.0) AS BIGINT) + 1 END AS n_chunks
      FROM toks
    ),
    spans AS (
      SELECT doc_id, lang, n_tok, (i - 1) * 448 AS start_tok,
             LEAST((i - 1) * 448 + 512, n_tok) AS end_tok
      FROM chunks, LATERAL (SELECT unnest(generate_series(1, n_chunks)) AS i)
    )
    SELECT lang, COUNT(*) AS n_chunks,
           COUNT(DISTINCT doc_id) AS n_docs,
           CAST(SUM(end_tok - start_tok) AS BIGINT) AS total_chunk_tokens,
           CAST(MAX(end_tok - start_tok) AS BIGINT) AS max_chunk_tokens
    FROM spans GROUP BY lang
    """,
    survey_rows="ext:context-chunking (tokenize->window for pretraining)",
    description="Sliding context-window chunking (512-token windows, stride "
    "448): per-language chunk counts and token totals. sequence+posexplode "
    "fan-out, no UDF, no extra shuffle beyond the final group-by.",
)
def t20_context_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import chunk_spans

    docs = _t(spark, sf_dir, "documents")
    spans = chunk_spans(docs, window=512, stride=448).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return spans.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum(F.col("end_tok") - F.col("start_tok")).alias("total_chunk_tokens"),
        F.max(F.col("end_tok") - F.col("start_tok")).cast("long").alias("max_chunk_tokens"),
    )


@register(
    "t21_vocab_topk",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_WORDS}) AS tok
      FROM documents
    ),
    counts AS (
      SELECT tok, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
      FROM tok GROUP BY tok
    )
    SELECT tok, tf, df FROM counts ORDER BY tf DESC, tok ASC LIMIT 50
    """,
    survey_rows="ext:vocabulary building (word counts, doc freq, top-k)",
    description="Corpus vocabulary: top-50 tokens by total frequency with "
    "document frequency — explode + one hash agg (map-side partial "
    "combine bounds the shuffle at |vocab|) + TakeOrderedAndProject.",
)
def t21_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import vocab_topk

    return vocab_topk(_t(spark, sf_dir, "documents"), k=50)


@register(
    "t22_tfidf_top_terms",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_WORDS}) AS tok
      FROM documents
    ),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             ROUND(tf.tf * LN((n.n_docs + 1.0) / (dfreq.df + 1.0)), 6) AS score
      FROM tf JOIN dfreq USING (tok) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, tok AS top_term, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, tok ASC) AS rn
      FROM scored
    )
    SELECT doc_id, top_term, score FROM ranked WHERE rn = 1 AND doc_id % 7 = 0
    """,
    survey_rows="ext:tf-idf scoring (token stats -> per-doc argmax)",
    description="Per-document top TF-IDF term (graded on the doc_id%7 "
    "sample): two hash aggregations + per-doc window argmax; idf = "
    "ln((N+1)/(df+1)), scores rounded to 6 (ln last-ulp is engine-"
    "dependent, same discipline as the stddev family).",
)
def t22_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import tfidf_top_term

    docs = _t(spark, sf_dir, "documents")
    return tfidf_top_term(docs).filter(F.col("doc_id") % 7 == 0)


@register(
    "e1_embedding_quantization",
    """
    WITH q AS (
      SELECT vec_id,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS absmax,
             embedding
      FROM embeddings
    ),
    codes AS (
      SELECT vec_id, absmax / 127.0 AS scale,
             CASE WHEN absmax > 0 THEN
               list_transform(embedding,
                 x -> GREATEST(-127, LEAST(127, CAST(ROUND(CAST(x AS DOUBLE) * 127.0 / absmax) AS INTEGER))))
             ELSE list_transform(embedding, x -> 0) END AS codes
      FROM q
    )
    SELECT vec_id, ROUND(scale, 6) AS scale_r,
           CAST(list_sum(codes) AS BIGINT) AS q_sum,
           CAST(list_sum(list_transform(codes, c -> abs(c))) AS BIGINT) AS q_abs_sum
    FROM codes WHERE vec_id % 3 = 0
    """,
    survey_rows="ext:embedding quantization (int8 symmetric)",
    description="Symmetric int8 quantization of the embedding column "
    "(scale = max|x|/127, clamp round): per-vector scale + exact integer "
    "code checksums, graded on the vec_id%3 sample. Pure array exprs "
    "(transform/aggregate), no UDF, no shuffle.",
)
def e1_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import quantize_int8

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 3 == 0)
    q = quantize_int8(emb)
    return q.select(
        "vec_id",
        F.round(F.col("scale"), 6).alias("scale_r"),
        "q_sum",
        "q_abs_sum",
    )


@register(
    "t23_sequence_packing",
    f"""
    WITH docs AS (
      SELECT doc_id, lang,
             {_TOK_EXPR} AS n_tok,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM documents WHERE doc_id % 20 = 0
    ),
    packed AS (
      WITH RECURSIVE rec(lang, rn, doc_id, used, bin_idx, fill) AS (
        SELECT lang, rn, doc_id, LEAST(n_tok, 2048), 0, LEAST(n_tok, 2048)
        FROM docs WHERE rn = 1
        UNION ALL
        SELECT d.lang, d.rn, d.doc_id, LEAST(d.n_tok, 2048),
               CASE WHEN r.fill + LEAST(d.n_tok, 2048) > 2048
                    THEN r.bin_idx + 1 ELSE r.bin_idx END,
               CASE WHEN r.fill + LEAST(d.n_tok, 2048) > 2048
                    THEN LEAST(d.n_tok, 2048) ELSE r.fill + LEAST(d.n_tok, 2048) END
        FROM rec r JOIN docs d ON d.lang = r.lang AND d.rn = r.rn + 1
      )
      SELECT * FROM rec
    )
    SELECT lang, CAST(MAX(bin_idx) + 1 AS BIGINT) AS n_bins,
           COUNT(*) AS n_docs,
           CAST(SUM(used) AS BIGINT) AS total_used,
           ROUND(CAST(SUM(used) AS DOUBLE) / ((MAX(bin_idx) + 1) * 2048), 6) AS fill_rate
    FROM packed GROUP BY lang
    """,
    survey_rows="ext:sequence packing (greedy fixed-context batch packing)",
    description="Greedy sequence packing into 2048-token bins per language "
    "(docs in id order; oversize docs truncated to one bin) — "
    "applyInPandas linear pass per group, one shuffle on the group key. "
    "Graded on the doc_id%20 sample so the DuckDB recursive-CTE mirror "
    "stays shallow; full-corpus behavior covered by unit tests.",
)
def t23_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import pack_sequences, token_count

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 20 == 0)
        .select("doc_id", "lang", token_count(F.col("text")).alias("n_tok"))
    )
    packed = pack_sequences(docs)
    return packed.groupBy("lang").agg(
        (F.max("bin_idx") + 1).alias("n_bins"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("used_tok").alias("total_used"),
        F.round(
            F.sum("used_tok") / ((F.max("bin_idx") + 1) * 2048.0), 6
        ).alias("fill_rate"),
    )



@register(
    "t24_mixture_resample",
    """
    WITH cnt AS (SELECT lang, COUNT(*) AS n_grp FROM documents GROUP BY 1),
    tot AS (SELECT COUNT(*) AS n_tot FROM documents),
    w(lang, num, den) AS (
      VALUES ('en', 4, 10), ('de', 2, 10), ('fr', 2, 10), ('es', 1, 10), ('zh', 1, 10)
    ),
    th AS (
      SELECT c.lang, c.n_grp,
             LEAST(10000, (10000 * w.num * t.n_tot) // (w.den * c.n_grp)) AS thresh
      FROM cnt c JOIN w USING (lang) CROSS JOIN tot t
    )
    SELECT th.lang, CAST(th.thresh AS BIGINT) AS thresh,
           CAST(th.n_grp AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN ((d.doc_id % 2147483648) * 48271) % 2147483647 % 10000
                              < th.thresh THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM th JOIN documents d USING (lang)
    GROUP BY 1, 2, 3
    """,
    survey_rows="ext:domain-mixture resampling (deterministic downsample to target shares)",
    description="Deterministic domain-mixture resampling: per-language "
    "acceptance thresholds from rational target shares (en .4 / de .2 / "
    "fr .2 / es .1 / zh .1), docs kept by Lehmer-hash bucket — all-integer "
    "math, no RNG, reproducible across engines/partitions. One broadcast "
    "of the tiny per-group count table; groups under target keep all.",
)
def t24_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import mixture_resample

    weights = {"en": (4, 10), "de": (2, 10), "fr": (2, 10), "es": (1, 10), "zh": (1, 10)}
    docs = _t(spark, sf_dir, "documents")
    kept = mixture_resample(docs, weights)
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    return (
        kept.groupBy("lang")
        .agg(F.max("__thresh").alias("thresh"), F.count(F.lit(1)).alias("n_kept"))
        .join(counts, "lang")
        .select("lang", "thresh", "n_total", "n_kept")
    )



@register(
    "t25_canonical_selection",
    f"""
    WITH RECURSIVE {SQL_CLOSURE_CTES},
    f AS (
      SELECT doc_id, lang,
             {_TOK_EXPR} AS n_tokens,
             length(text) AS n_chars,
             len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
             len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x = 'the'))
             + len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x = 'and'))
             + len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x = 'of'))
             + len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x = 'to'))
             + len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x = 'a')) AS n_stop
      FROM documents
    ),
    q AS (
      SELECT doc_id, lang,
             ROUND((LEAST(n_tokens / 100.0, 1.0)
              + (1.0 - LEAST(COALESCE(CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars END, 0.0) * 5.0, 1.0))
              + LEAST(COALESCE(CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens END, 0.0) * 4.0, 1.0)
             ) / 3.0, 6) AS quality
      FROM f
    ),
    member AS (
      SELECT q.doc_id, q.lang, q.quality,
             COALESCE(c.component, q.doc_id) AS cluster_id
      FROM q LEFT JOIN comp c ON q.doc_id = c.node
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY cluster_id ORDER BY quality DESC, doc_id ASC
             ) AS rn
      FROM member
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
    FROM ranked GROUP BY lang
    """,
    survey_rows="ext:canonical selection (best-quality survivor per dedup cluster)",
    description="Quality-aware canonical selection: per near-dup cluster "
    "(t10's components, pair graph shared and checkpointed once per "
    "session), keep the best-quality member (quality score, doc_id "
    "tie-break) and report kept/removed per language — the 'which copy "
    "survives dedup' policy step. One window over the cluster id on top "
    "of the shared graph; oracle recomputes the exact closure + quality "
    "argmax.",
)
def t25_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dedup_clusters
    from ..operators.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    pairs = _ngram_pairs_shared(spark, sf_dir)
    clusters = dedup_clusters(docs, pairs).select("doc_id", F.col("canonical_id").alias("cluster_id"))
    q = docs.select(
        "doc_id", "lang", F.round(quality_score(F.col("text")), 6).alias("quality")
    )
    member = q.join(clusters, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.col("quality").desc(), F.col("doc_id").asc())
    ranked = member.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("rn") == 1, 0).otherwise(1)).alias("n_removed"),
    )



def _audio_sample_ctes(n_samples: int = mm.AUDIO_SAMPLES, mod: int = 5) -> str:
    """Shared oracle fragment: re-derive every PCM16 sample of the audio
    fixture (md5-digest bytes, little-endian int16 pairs) with md5
    hex-digit arithmetic — the d/hx/bytes/samples CTE chain used by mm3
    (time-domain features), mm6 (spectral band energies) and mm17 (the
    FLAC round trip over the same samples)."""
    n = n_samples * 2
    return f"""d AS (SELECT doc_id FROM documents WHERE doc_id % {mod} = 0),
    {_md5_bytes_ctes('d', 'd.doc_id', n)},
    samples AS (
      SELECT lo.doc_id, lo.idx // 2 AS si,
             CASE WHEN lo.v + 256 * hi.v >= 32768
                  THEN lo.v + 256 * hi.v - 65536
                  ELSE lo.v + 256 * hi.v END AS s
      FROM bytes lo JOIN bytes hi
        ON lo.doc_id = hi.doc_id AND hi.idx = lo.idx + 1
      WHERE lo.idx % 2 = 0
    )"""


def _pcm_features_sql(lead: str = "", channels: int = 1, full_scale: int = 0) -> str:
    """SQL twin of :func:`..operators.multimodal._pcm_stats` over a
    ``samples(doc_id, si, s)`` CTE: the ``lagged`` CTE plus the n_samples /
    peak / zero_crossings / rms select, one row per doc — per channel
    ``si % channels`` when ``channels`` > 1. ``lead`` holds the columns
    (functions of doc_id) selected before n_samples; a ``full_scale``
    divides integer samples into float PCM (peak and rms in [0, 1])."""
    part = keys = "doc_id"
    chan = ""
    cols = f"{lead},\n           " if lead else ""
    if channels > 1:
        part = f"doc_id, si % {channels}"
        chan = f" si % {channels} AS channel,"
        keys = "doc_id, channel"
        cols += "CAST(channel AS INT) AS channel,\n           "
    peak = "CAST(MAX(ABS(s)) AS BIGINT)"
    sumsq = "CAST(SUM(s * s) AS DOUBLE)"
    if full_scale:
        peak = f"MAX(ABS(s)) / {full_scale}.0"
        sumsq += f" / {full_scale * full_scale}.0"
    return f"""lagged AS (
      SELECT doc_id,{chan} si, s,
             LAG(s) OVER (PARTITION BY {part} ORDER BY si) AS prev
      FROM samples
    )
    SELECT doc_id,
           {cols}CAST(COUNT(*) AS BIGINT) AS n_samples,
           {peak} AS peak,
           CAST(SUM(CASE WHEN prev IS NOT NULL AND s * prev < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS zero_crossings,
           ROUND(SQRT({sumsq} / COUNT(*)), 6) AS rms
    FROM lagged GROUP BY {keys}
    """


def _audio_features(feats: DataFrame, *lead: "str | F.Column") -> DataFrame:
    """The graded audio columns, the Spark side of :func:`_pcm_features_sql`:
    doc_id, the ``lead`` columns, then the feature block with rms
    rounded to 6 dp as the oracle rounds it."""
    return feats.select(
        "doc_id", *lead, "n_samples", "peak", "zero_crossings",
        F.round("rms", 6).alias("rms"),
    )


def _mm3_audio_sql() -> str:
    """DuckDB mirror of the mm3 audio fixture+decode pipeline: PCM16
    samples are md5-digest bytes (little-endian int16 pairs), so the oracle
    re-derives every sample with md5 hex-digit arithmetic and recomputes
    peak / zero-crossings (exact ints) and RMS (exact-int sum, /256 is an
    exact FP division, sqrt is correctly rounded)."""
    n = mm.AUDIO_SAMPLES * 2
    header_len = 44  # RIFF(12) + fmt(24) + data header(8)
    return f"""
    WITH {_audio_sample_ctes()},
    {_pcm_features_sql(f'CAST({header_len + n} AS BIGINT) AS n_bytes')}"""


@register(
    "mm3_audio_features",
    _mm3_audio_sql(),
    survey_rows="ext:multimodal-audio (real WAV decode -> features)",
    description="REAL audio decode in Arrow-batched mapInPandas: "
    "deterministic mono PCM16 WAV payloads per doc (md5-byte samples), "
    "parsed with the pure-struct/numpy RIFF walker (no codec lib), "
    "peak / zero-crossing / RMS features out. Non-PCM formats stay "
    "codec-gated (NotImplementedError). Oracle re-derives every sample "
    "analytically — encode/decode/feature parity, the audio twin of mm2.",
)
def mm3_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_wav_payloads, decode_audio_features

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    feats = decode_audio_features(attach_wav_payloads(docs))
    return _audio_features(feats, "n_bytes")



@register(
    "q17_small_quantity_revenue",
    """
    WITH pa AS (
      SELECT l_partkey, 0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE)
                               / COUNT(l_quantity)) AS qty_bound
      FROM lineitem GROUP BY l_partkey
    )
    SELECT p.p_brand,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) / 7.0 AS avg_yearly,
           COUNT(*) AS n_small
    FROM lineitem l
    JOIN pa ON l.l_partkey = pa.l_partkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_quantity < pa.qty_bound
    GROUP BY p.p_brand
    """,
    survey_rows="TPC-H Q17 shape (correlated per-group average bound)",
    description="TPC-H Q17 shape: revenue from small-quantity lineitems "
    "(below 0.2x the part's average quantity), per brand. The correlated "
    "scalar subquery decorrelates to one aggregation + two joins; the "
    "per-part bound table is the join's small side. Decimal-exact sums.",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    bounds = li.groupBy("l_partkey").agg(
        (agg.decimal_avg(F.col("l_quantity")) * 0.2).alias("qty_bound")
    )
    small = li.join(bounds, "l_partkey").filter(F.col("l_quantity") < F.col("qty_bound"))
    return (
        small.join(part.select("p_partkey", "p_brand"), small.l_partkey == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            (agg.decimal_sum(F.col("l_extendedprice")) / 7.0).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


@register(
    "q7_volume_shipping",
    """
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,6))) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    WHERE sn.n_name <> cn.n_name
    GROUP BY 1, 2
    """,
    survey_rows="TPC-H Q7 shape (cross-nation volume)",
    description="TPC-H Q7 shape: cross-nation trade volume — the fact-fact "
    "orders x lineitem shuffle join with four broadcast dims (customer is "
    "broadcast at test scale; on a cluster it co-partitions with orders), "
    "filtered to supplier-nation != customer-nation.",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cn = nation.toDF("cn_key", "cust_nation")
    sn = nation.toDF("sn_key", "supp_nation")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cn, F.col("c_nationkey") == F.col("cn_key"))
        .join(sn, F.col("s_nationkey") == F.col("sn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return j.groupBy("supp_nation", "cust_nation").agg(
        agg.decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "q19_disjunctive_predicates",
    """
    SELECT COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,6))) AS DOUBLE)
             AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_size BETWEEN 1 AND 10 AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_size BETWEEN 11 AND 25 AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_size BETWEEN 26 AND 50 AND l.l_quantity BETWEEN 20 AND 40)
    """,
    survey_rows="TPC-H Q19 shape (disjunctive multi-table predicates)",
    description="TPC-H Q19 shape: OR-of-ANDs predicates spanning both join "
    "sides. Catalyst pushes the single-side residuals (l_quantity range "
    "union, p_size range union) below the join and keeps the cross-side "
    "disjunction as the join filter — the predicate-decomposition shape.",
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_size")
    j = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        (F.col("p_size").between(1, 10) & F.col("l_quantity").between(1, 20))
        | (F.col("p_size").between(11, 25) & F.col("l_quantity").between(10, 30))
        | (F.col("p_size").between(26, 50) & F.col("l_quantity").between(20, 40))
    )
    return j.filter(cond).agg(
        F.count(F.lit(1)).alias("n_lines"),
        agg.decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )



@register(
    "f16_date_arithmetic",
    """
    WITH d AS (
      SELECT year(o_orderdate) AS yr, quarter(o_orderdate) AS qtr,
             day(o_orderdate) AS dom,
             date_diff('day', CAST(o_orderdate AS DATE),
                       last_day(CAST(o_orderdate AS DATE))) AS days_to_eom
      FROM orders
    )
    SELECT yr, qtr, COUNT(*) AS n,
           CAST(SUM(dom) AS BIGINT) AS sum_dom,
           CAST(SUM(CASE WHEN days_to_eom = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_month_end,
           CAST(SUM(CAST(days_to_eom AS DECIMAL(27,6))) AS DOUBLE) / COUNT(days_to_eom)
             AS mean_days_to_eom
    FROM d GROUP BY 1, 2
    """,
    survey_rows="F-date (calendar arithmetic: last_day/datediff/quarter)",
    description="Date arithmetic breadth: per (year, quarter) order counts, "
    "day-of-month sums, month-end hits, and mean days-to-end-of-month via "
    "last_day + datediff — calendar functions whose engine semantics must "
    "line up exactly (both engines day-truncate before differencing).",
)
def f16_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    d = o.select(
        F.year("o_orderdate").alias("yr"),
        F.quarter("o_orderdate").alias("qtr"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.datediff(F.last_day("o_orderdate"), F.col("o_orderdate")).alias("days_to_eom"),
    )
    return d.groupBy("yr", "qtr").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dom").alias("sum_dom"),
        F.sum(F.when(F.col("days_to_eom") == 0, 1).otherwise(0)).alias("n_month_end"),
        agg.decimal_avg(F.col("days_to_eom")).alias("mean_days_to_eom"),
    )



@register(
    "w15_windowed_median",
    f"""
    WITH w AS (
      SELECT user_id,
             list_sort(list_filter(
               list(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
               x -> x IS NOT NULL)) AS vals
      FROM events
    ),
    m AS (SELECT user_id, vals[3] AS med FROM w WHERE len(vals) = 5)
    SELECT user_id, COUNT(*) AS n_windows,
           {SQL_DAVG('med')} AS mean_med,
           MAX(med) AS max_med
    FROM m GROUP BY user_id
    """,
    survey_rows="W-ext (exact order statistic over a sliding frame)",
    description="Exact trailing-5 median per user: collect the frame, sort "
    "in-row, take the middle — engine-identical selection (no "
    "interpolation semantics to disagree on), windows restricted to 5 "
    "non-null values. The small-frame exact-median shape; large frames "
    "route to percentile_approx per the a3/m10b size-routing.",
)
def w15_windowed_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-4, 0)
    )
    # collect_list skips NULLs (mirrored by the oracle's list_filter)
    vals = F.array_sort(F.collect_list("value").over(w))
    med = ev.withColumn("vals", vals).filter(F.size("vals") == 5).select(
        "user_id", F.element_at("vals", 3).alias("med")
    )
    return med.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        agg.decimal_avg(F.col("med")).alias("mean_med"),
        F.max("med").alias("max_med"),
    )



@register(
    "j10_asof_join_forward",
    _asof_checkpoint_sql(True),
    survey_rows="J2 (as-of generalization, forward direction)",
    description="Forward as-of join: each event matched to the NEXT "
    "checkpoint >= ts per group — union + partitioned first-value "
    "carry-backward, one shuffle (j7's mirror; DuckDB ASOF with <= is the "
    "oracle).",
)
def j10_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _checkpoint_asof(spark, sf_dir, True, None)



@register(
    "m13_pearson_sufficient_stats",
    """
    WITH base AS (
      SELECT event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS xc,
             epoch_us(ts) // 1000000 AS y
      FROM events WHERE value IS NOT NULL
    ),
    stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(xc AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(xc * xc AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(xc * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy
      FROM base GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           ROUND((n * sxy - sx * sy)
                 / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr_value_time
    FROM stats
    """,
    survey_rows="M-ext (Pearson correlation, exact sufficient statistics)",
    description="Pearson correlation of (value, event time) per event type "
    "computed from EXACT integer sufficient statistics (cents + epoch "
    "seconds summed in DECIMAL(38,0), so no accumulation-order drift), "
    "with the float formula applied once to identical inputs on both "
    "engines — bit-reproducible without Welford-vs-two-pass concerns. "
    "One map-side-combining aggregation; no second pass over the data.",
)
def m13_pearson_sufficient_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("xc"),
        F.col("ts").cast("long").alias("y"),
    )
    dec = lambda c: F.sum(c.cast("decimal(38,0)")).cast("double")  # noqa: E731
    stats = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec(F.col("xc")).alias("sx"),
        dec(F.col("y")).alias("sy"),
        dec(F.col("xc") * F.col("xc")).alias("sxx"),
        dec(F.col("y") * F.col("y")).alias("syy"),
        dec(F.col("xc") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    corr = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return stats.select(
        "event_type",
        n.cast("long").alias("n"),
        F.round(corr, 6).alias("corr_value_time"),
    )



# ===========================================================================
# TPC-H round-out: Q4/Q6/Q8/Q10/Q14/Q15/Q22 shapes adapted to the
# testdata's column subset (no partsupp / commitdate / receiptdate / phone —
# the adaptations substitute semantically-equivalent predicates and keep the
# plan shape the original exercises).
# ===========================================================================


@register(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(27,6))) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    survey_rows="TPC-H Q6 shape (scan-filter-aggregate)",
    description="TPC-H Q6 shape: pure scan-filter-aggregate with three "
    "range predicates, no join. The whole query is one WholeStageCodegen "
    "span over a pushed-down parquet scan — the canonical predicate-"
    "pushdown benchmark. Decimal-exact revenue sum.",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            agg.decimal_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q4_order_priority_check",
    """
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
    GROUP BY o.o_orderpriority
    """,
    survey_rows="TPC-H Q4 shape (EXISTS decorrelated to semi-join); J4b",
    description="TPC-H Q4 shape: order-priority counts for orders with at "
    "least one late-shipping lineitem (shipdate > orderdate + 30 days "
    "substitutes for the reference's commitdate/receiptdate pair, which "
    "the testdata lacks). The correlated EXISTS decorrelates to a LEFT "
    "SEMI hash join on l_orderkey with the cross-table predicate as the "
    "join condition — the semi-join-with-residual shape.",
)
def q4_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "q8_national_market_share",
    """
    WITH asia_cust AS (
      SELECT c.c_custkey FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'ASIA'
    ),
    rev AS (
      SELECT EXTRACT(YEAR FROM o.o_orderdate) AS order_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             sn.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN asia_cust ac ON o.o_custkey = ac.c_custkey
      JOIN part p ON l.l_partkey = p.p_partkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      WHERE p.p_type = 'PROMO'
    )
    SELECT order_year,
           ROUND(CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_2' THEN volume ELSE 0 END
                                AS DECIMAL(27,6))) AS DOUBLE)
                 / CAST(SUM(CAST(volume AS DECIMAL(27,6))) AS DOUBLE), 6) AS mkt_share,
           COUNT(*) AS n_lines
    FROM rev
    GROUP BY order_year
    """,
    survey_rows="TPC-H Q8 shape (market share, conditional ratio agg); A4",
    description="TPC-H Q8 shape: one nation's share of PROMO-part revenue "
    "sold into ASIA-region customers, per order year. Five broadcast dims "
    "hang off the orders x lineitem fact join; the share is a conditional-"
    "sum / total-sum ratio in one aggregation pass (no self-join). "
    "NATION_2 is an ASIA member in the synthetic nation table.",
)
def q8_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    asia_cust = (
        cust.join(nation.select("n_nationkey", "n_regionkey"),
                  cust.c_nationkey == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == region.r_regionkey)
        .select("c_custkey")
    )
    sn = nation.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(asia_cust), orders.o_custkey == F.col("c_custkey"), "left_semi")
        .join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(sn, F.col("s_nationkey") == F.col("sn_key"))
        .select(
            F.year("o_orderdate").alias("order_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            "supp_nation",
        )
    )
    national = F.when(F.col("supp_nation") == "NATION_2", F.col("volume")).otherwise(F.lit(0.0))
    return rev.groupBy("order_year").agg(
        F.round(agg.decimal_sum(national) / agg.decimal_sum(F.col("volume")), 6).alias("mkt_share"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name, n.n_name, c.c_acctbal,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,6))) AS DOUBLE)
             AS revenue_lost
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY 1, 2, 3, 4
    ORDER BY revenue_lost DESC, c.c_custkey
    LIMIT 20
    """,
    survey_rows="TPC-H Q10 shape (top-k by aggregate); W8,A5",
    description="TPC-H Q10 shape: top-20 customers by revenue lost to "
    "returned lineitems in one order year. Aggregate-then-top-k: the sort "
    "is over the (small) grouped result, TakeOrderedAndProject, with "
    "c_custkey as the deterministic tie-break.",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == F.col("n_nationkey"))
    )
    return (
        j.groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(
            agg.decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .alias("revenue_lost")
        )
        .orderBy(F.desc("revenue_lost"), "c_custkey")
        .limit(20)
    )


@register(
    "q14_promo_revenue",
    """
    SELECT EXTRACT(MONTH FROM l.l_shipdate) AS ship_month,
           ROUND(100.0 * CAST(SUM(CAST(CASE WHEN p.p_type = 'PROMO'
                                            THEN l.l_extendedprice * (1 - l.l_discount)
                                            ELSE 0 END AS DECIMAL(27,6))) AS DOUBLE)
                 / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                                 AS DECIMAL(27,6))) AS DOUBLE), 6) AS promo_pct
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY 1
    """,
    survey_rows="TPC-H Q14 shape (conditional ratio over broadcast join); A4",
    description="TPC-H Q14 shape: monthly percentage of revenue from "
    "PROMO-type parts. Broadcast part dim into the filtered fact scan, "
    "conditional-sum ratio in a single aggregation.",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(part, li.l_partkey == part.p_partkey)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return j.groupBy(F.month("l_shipdate").alias("ship_month")).agg(
        F.round(100.0 * agg.decimal_sum(promo) / agg.decimal_sum(rev), 6).alias("promo_pct")
    )


@register(
    "q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE)
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN rev r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
    survey_rows="TPC-H Q15 shape (agg view + scalar-subquery max); SQ",
    description="TPC-H Q15 shape: the supplier(s) with maximum quarterly "
    "revenue. The revenue CTE is computed once; the scalar MAX subquery "
    "becomes a one-row broadcast joined back against the same aggregate "
    "(Spark reuses the exchange). Decimal-exact sums make the equality "
    "comparison well-defined across engines.",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        agg.decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .alias("total_revenue")
    )
    top = rev.agg(F.max("total_revenue").alias("mx"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(top, rev.total_revenue == F.col("mx"))
        .join(supp, rev.supplier_no == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q22_global_sales_opportunity",
    """
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(27,6))) AS DOUBLE) / COUNT(c_acctbal)
               AS threshold
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT n.n_name, COUNT(*) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(27,6))) AS DOUBLE) AS totacctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_acctbal > (SELECT threshold FROM avg_bal)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY n.n_name
    """,
    survey_rows="TPC-H Q22 shape (scalar subquery + NOT EXISTS anti-join); J4,SQ",
    description="TPC-H Q22 shape: wealthy customers (above the positive-"
    "balance mean) with no RECENT orders, counted per nation. Two "
    "testdata adaptations: nation substitutes for the reference's "
    "phone-prefix country code (absent), and 'never ordered' becomes "
    "'no order since 2000-01-01' (every synthetic customer has at least "
    "one lifetime order, which would make the original predicate "
    "vacuously empty). Scalar-subquery broadcast filter + LEFT ANTI "
    "hash join against the date-filtered orders + broadcast nation dim.",
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    threshold = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(agg.decimal_avg(F.col("c_acctbal")).alias("threshold"))
    )
    recent = orders.filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")).select(
        "o_custkey"
    )
    rich = cust.join(threshold).filter(F.col("c_acctbal") > F.col("threshold"))
    never_ordered = rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
    return (
        never_ordered.join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            agg.decimal_sum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


@register(
    "mm4_frame_sample",
    """
    WITH docs AS (
      SELECT doc_id, hex(encode(text)) AS ph, octet_length(encode(text)) AS n
      FROM documents WHERE text IS NOT NULL AND doc_id % 10 = 0
    ),
    frames AS (
      SELECT d.doc_id, g.j AS frame_idx, substring(d.ph, g.j*128+1, 128) AS fh
      FROM docs d, generate_series(0, 7) AS g(j)
      WHERE g.j < GREATEST(1, d.n // 64)
    )
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(length(fh) // 2 AS BIGINT) AS n_bytes, fh AS frame_hex
    FROM frames
    """,
    survey_rows="multimodal video shape (frame sampling, row fan-out)",
    description="Video-pipeline plumbing: payloads (utf-8 bytes standing in "
    "for container bytes) are frame-sampled via mapInPandas — 64-byte "
    "slices, up to 8 frames per payload, rows-out > rows-in through the "
    "Arrow iterator (operators/multimodal.py::sample_frames; a real "
    "keyframe decoder replaces the slicing, the distributed contract is "
    "identical). The oracle mirrors the byte math on DuckDB's hex-string "
    "side since its substring() does not accept BLOBs; frames are compared "
    "as hex so the check is byte-exact. Reference parity: the reference "
    "has no video path — this is the LLM-pipeline extension brief's "
    "frame-sample op.",
)
def mm4_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_media_columns, sample_frames

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.col("doc_id") % 10 == 0))
    )
    media = attach_media_columns(docs)
    frames = sample_frames(media)
    return frames.select(
        "doc_id",
        "frame_idx",
        F.octet_length("frame_bytes").cast("long").alias("n_bytes"),
        F.hex("frame_bytes").alias("frame_hex"),
    )


@register(
    "ev1_funnel_conversion",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
      JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
      JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY e.user_id
    )
    SELECT 'step1_view' AS step, (SELECT COUNT(*) FROM v) AS n_users
    UNION ALL SELECT 'step2_click', (SELECT COUNT(*) FROM c)
    UNION ALL SELECT 'step3_purchase', (SELECT COUNT(*) FROM p)
    """,
    survey_rows="event analytics ext (ordered funnel); A12,W1",
    description="Ordered funnel conversion view→click→purchase: users "
    "counted at each step only if the step's FIRST occurrence follows the "
    "previous step's first occurrence (strict event-order funnel, not "
    "set-membership). Three user-keyed aggregations chained by joins — "
    "all shuffles are on user_id, so on a cluster the three stages reuse "
    "one hash partitioning; no window sort needed.",
)
def ev1_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    def step(df: DataFrame, label: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(label).alias("step"), "n_users"
        )

    return (
        step(v, "step1_view")
        .unionByName(step(c, "step2_click"))
        .unionByName(step(p, "step3_purchase"))
    )


@register(
    "ev2_cohort_retention",
    """
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week FROM events
    )
    SELECT f.cohort_week,
           CAST(datediff('day', f.cohort_week, a.act_week) // 7 AS INT)
             AS week_offset,
           COUNT(DISTINCT a.user_id) AS n_active
    FROM first_seen f
    JOIN activity a ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
    survey_rows="event analytics ext (cohort retention); A12,W4",
    description="Weekly cohort retention: users cohorted by the ISO week "
    "of their first event; n_active = distinct cohort members active k "
    "weeks later. Both date_trunc('week') implementations are Monday-"
    "aligned so the day-difference is always a multiple of 7 and the "
    "integer division is exact. Two user-keyed aggregations + one "
    "user-keyed join — single partitioning reused; output is bounded by "
    "weeks² regardless of input size.",
)
def ev2_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("act_week")
    ).distinct()
    return (
        first_seen.join(activity, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("act_week"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


# ===========================================================================
# TPC-H completion: Q2/Q9/Q11/Q12/Q16/Q21 shapes — the last six
# of the 22. The testdata has no partsupp table and no commit/receipt dates,
# so the partsupp-driven predicates are re-derived from lineitem (unit price
# = l_extendedprice / l_quantity as the supply-cost proxy; supplier-per-part
# relationships from shipped lineitems) and "late" = shipped more than N
# days after o_orderdate. Each adaptation preserves the plan shape the
# original exercises (groupwise-min join-back, multi-way star join,
# scalar-subquery HAVING, conditional counts, double-correlated EXISTS).
# ===========================================================================


@register(
    "q2_min_cost_supplier",
    """
    WITH cost AS (
      SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY 1, 2
    ),
    mc AS (SELECT l_partkey, MIN(unit_cost) AS min_cost FROM cost GROUP BY 1)
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, c.unit_cost AS min_cost
    FROM cost c
    JOIN mc ON c.l_partkey = mc.l_partkey AND c.unit_cost = mc.min_cost
    JOIN part p ON p.p_partkey = c.l_partkey
    JOIN supplier s ON s.s_suppkey = c.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_type = 'STANDARD' AND p.p_size <= 10
    """,
    survey_rows="TPC-H Q2 shape (groupwise-min + join-back); A5,J1",
    description="TPC-H Q2 shape: for each STANDARD small part, the "
    "supplier(s) offering the minimum unit price (supply-cost proxy "
    "derived from lineitem — no partsupp in the testdata). The correlated "
    "MIN subquery becomes an aggregate-then-join-back on (partkey, "
    "min_cost); the equality join on the float min is engine-exact because "
    "MIN selects an existing division result, no re-arithmetic. Dims "
    "broadcast; the only shuffle is the (partkey, suppkey) aggregation.",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    mc = (
        cost.groupBy("l_partkey")
        .agg(F.min("unit_cost").alias("min_cost"))
        .withColumnRenamed("l_partkey", "mc_partkey")  # break self-join lineage
    )
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10)
    ).select("p_partkey")
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        cost.join(
            mc,
            (cost.l_partkey == mc.mc_partkey) & (cost.unit_cost == mc.min_cost),
        )
        .drop("mc_partkey")
        .join(part, cost.l_partkey == part.p_partkey)
        .join(supplier, cost.l_suppkey == supplier.s_suppkey)
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey",
            F.col("unit_cost").alias("min_cost"),
        )
    )


@register(
    "q9_product_type_profit",
    f"""
    SELECT n.n_name AS nation, EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
           {SQL_DSUM("l.l_extendedprice * (1 - l.l_discount) - 0.5 * p.p_retailprice * l.l_quantity")}
             AS profit
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%bolt%'
    GROUP BY 1, 2
    """,
    survey_rows="TPC-H Q9 shape (5-way star join + profit expr); J1,A1",
    description="TPC-H Q9 shape: profit on the 'bolt' product family per "
    "supplier nation per order year. Supply cost proxied as half retail "
    "price times quantity (no partsupp). The part filter broadcasts into "
    "the fact scan first (smallest selectivity), then orders joins on the "
    "shuffle key; supplier and nation broadcast. Decimal-exact sum keeps "
    "the profit expression engine-identical.",
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%")).select(
        "p_partkey", "p_retailprice"
    )
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    profit_expr = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(agg.decimal_sum(profit_expr).alias("profit"))
    )


@register(
    "q11_important_part_value",
    """
    WITH v AS (
      SELECT l.l_partkey,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS part_value
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      WHERE s.s_nationkey IN (3, 8, 12)
      GROUP BY 1
    )
    SELECT l_partkey, part_value FROM v
    WHERE part_value > (SELECT SUM(part_value) * 0.001 FROM v)
    """,
    survey_rows="TPC-H Q11 shape (agg + scalar-subquery HAVING); SQ,A1",
    description="TPC-H Q11 shape: parts whose shipped value through a "
    "nation group's suppliers exceeds 0.1% of that group's total (value "
    "proxied from lineitem extendedprice — no partsupp availqty). The "
    "scalar threshold is a one-row broadcast joined back against the same "
    "aggregate, so the per-part frame is computed once and the exchange "
    "reused; nothing is collected to the driver.",
)
def q11_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice")
    supp = _t(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey").isin(3, 8, 12)
    ).select("s_suppkey")
    v = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(agg.decimal_sum(F.col("l_extendedprice")).alias("part_value"))
    )
    threshold = v.agg((F.sum("part_value") * 0.001).alias("thr"))
    return v.join(threshold, v.part_value > F.col("thr")).select("l_partkey", "part_value")


@register(
    "q12_late_shipment_priority",
    """
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY
    GROUP BY 1
    """,
    survey_rows="TPC-H Q12 shape (join + conditional counts); A4,J2",
    description="TPC-H Q12 shape: among lineitems shipped 60+ days after "
    "the order date (lateness stands in for the absent receipt/commit "
    "dates, linestatus for shipmode), how many belong to high- vs "
    "low-priority orders. One shuffle join on orderkey, the date "
    "comparison evaluated post-join (it references both sides), "
    "conditional sums in a single aggregation.",
)
def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linestatus", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q16_supplier_part_count",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#13' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 14, 21, 28, 36, 45)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                              WHERE s_acctbal < 1000.0)
    GROUP BY 1, 2, 3
    """,
    survey_rows="TPC-H Q16 shape (anti-subquery + count-distinct); J4,A12",
    description="TPC-H Q16 shape: how many distinct suppliers ship each "
    "surviving (brand, type, size) part class, excluding a brand, a type, "
    "and blacklisted suppliers (low account balance stands in for the "
    "absent comment-complaints predicate; supplier-per-part derived from "
    "lineitem — no partsupp). The NOT IN compiles to a broadcast anti "
    "join (keys are non-null), then one shuffle on partkey and a "
    "count-distinct over the class.",
)
def q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 21, 28, 36, 45)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad_suppliers = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 1000.0
    ).select(F.col("s_suppkey").alias("l_suppkey"))
    return (
        li.join(bad_suppliers, "l_suppkey", "left_anti")
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q21_suppliers_kept_waiting",
    """
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
    GROUP BY 1
    """,
    survey_rows="TPC-H Q21 shape (correlated EXISTS + NOT EXISTS); J4,SQ",
    description="TPC-H Q21 shape: suppliers who were the SOLE late shipper "
    "on finished multi-supplier orders (late = shipped 90+ days after the "
    "order date, standing in for receipt-past-commit). The correlated "
    "EXISTS becomes a left-semi hash join on orderkey with the "
    "suppkey-inequality as join condition, NOT EXISTS a left-anti on the "
    "pre-filtered late set — both equi-joins on orderkey, no per-row "
    "probes, no cartesian.",
)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderstatus")
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    # Spill guard (100× probe: three sort-merge passes over lineitem spill
    # at the session's fixed shuffle-partition count — 25.3× wall-clock at
    # 100×). Pre-partition the fact on the join key, sized to its footer
    # row count; every downstream orderkey join (li⋈orders, the semi, the
    # anti) then REUSES this partitioning and pulls its other side to the
    # same width, so no extra exchange is added. No-op at graded scales.
    li = osk.repartition_for_rows(
        li, osk.parquet_row_count(os.path.join(sf_dir, "lineitem.parquet")),
        "l_orderkey",
    )
    # late lineitems on finished orders, computed ONCE and reused by both
    # the driving set (l1) and the NOT EXISTS probe (l3)
    late = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            (F.col("o_orderstatus") == "F")
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        )
        .select("l_orderkey", "l_suppkey")
    )
    l1 = late
    l2 = li.select(
        F.col("l_orderkey").alias("o2_orderkey"), F.col("l_suppkey").alias("o2_suppkey")
    )
    l3 = late.select(
        F.col("l_orderkey").alias("o3_orderkey"), F.col("l_suppkey").alias("o3_suppkey")
    )
    waiting = (
        l1.join(
            l2,
            (l1.l_orderkey == l2.o2_orderkey) & (l1.l_suppkey != l2.o2_suppkey),
            "left_semi",
        )
        .join(
            l3,
            (l1.l_orderkey == l3.o3_orderkey) & (l1.l_suppkey != l3.o3_suppkey),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(supplier), waiting.l_suppkey == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ===========================================================================
# Training-pipeline extensions: sequence construction, negative
# sampling, and group-relative quality filtering — the remaining data-prep
# shapes a large-scale training pipeline runs that the corpus didn't yet
# cover. All three are bounded-output aggregations (no unbounded collect).
# ===========================================================================


@register(
    "t27_user_event_sequences",
    """
    SELECT user_id,
           array_to_string(list_slice(list(event_type ORDER BY ts, event_id), 1, 50), ' ')
             AS seq,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """,
    survey_rows="ext:training sequence construction; A14,W3",
    description="Per-user ordered behavior sequences for sequential-model "
    "training: events sorted by (ts, event_id) within each user, truncated "
    "to the first 50, emitted as a joined string (the driver's pandas "
    "canonicalizer cannot hash list cells). One shuffle on user_id; the "
    "sort happens inside each group's collected array, not as a global "
    "sort. At 100 TB the per-user array is bounded by the truncation "
    "window, so state stays O(users x 50), and heavy users cost sort-of-"
    "their-own-events, not a repartition.",
)
def t27_user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    # 1000× probe: 12.5× and NOT the spill class — the repartition guard
    # was tried and changed nothing (11.5×); the constant is array_sort +
    # struct shuffle, linear in events with a per-user-bounded sort.
    ordered = F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type")))
    return ev.groupBy("user_id").agg(
        F.array_join(
            F.slice(F.transform(ordered, lambda x: x["event_type"]), 1, 50), " "
        ).alias("seq"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "t28_negative_sampling",
    """
    WITH pool AS (
      SELECT p_partkey FROM part
      ORDER BY md5(CAST(p_partkey AS VARCHAR)), p_partkey LIMIT 16
    ),
    positives AS (
      SELECT DISTINCT o.o_custkey, l.l_partkey
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    cand AS (
      SELECT c.c_custkey, p.p_partkey
      FROM customer c CROSS JOIN pool p
      WHERE NOT EXISTS (SELECT 1 FROM positives x
                        WHERE x.o_custkey = c.c_custkey
                          AND x.l_partkey = p.p_partkey)
    ),
    ranked AS (
      SELECT c_custkey, p_partkey,
             ROW_NUMBER() OVER (
               PARTITION BY c_custkey
               ORDER BY md5(CAST(c_custkey AS VARCHAR) || '-'
                            || CAST(p_partkey AS VARCHAR)), p_partkey) AS rnk
      FROM cand
    )
    SELECT c_custkey, p_partkey AS neg_partkey, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 5
    """,
    survey_rows="ext:negative sampling (shared candidate pool); J4,W6",
    description="Deterministic negative sampling for contrastive training "
    "WITHOUT a users-by-items cross join: a shared 16-item candidate pool "
    "(pseudo-randomly chosen by md5 hex order — portable across engines), "
    "broadcast-crossed with users (linear in users, bounded by the pool), "
    "anti-joined against observed (customer, part) interactions, then 5 "
    "negatives per user by md5-ranked pseudo-random order. The full "
    "user-by-item candidate matrix never materializes — the 100 TB cost "
    "is |users| x pool, not |users| x |items|.",
)
def t28_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    pool = (
        part.select("p_partkey")
        .orderBy(F.md5(F.col("p_partkey").cast("string")), "p_partkey")
        .limit(16)
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # only pool-member parts can ever match the anti-join, so prune the
    # interaction scan against the broadcast pool BEFORE the orders join —
    # at 100 TB this turns "distinct over every interaction" into "distinct
    # over interactions with 16 parts" (pool/|items| of the fact table)
    positives = (
        li.join(
            pool.withColumnRenamed("p_partkey", "l_partkey"),
            "l_partkey",
            "left_semi",
        )
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.col("l_partkey").alias("p_partkey"),
        )
        .distinct()
    )
    cand = _t(spark, sf_dir, "customer").select("c_custkey").crossJoin(pool)
    rnd = F.md5(
        F.concat_ws(
            "-", F.col("c_custkey").cast("string"), F.col("p_partkey").cast("string")
        )
    )
    w = Window.partitionBy("c_custkey").orderBy(rnd, "p_partkey")
    return (
        cand.join(positives, ["c_custkey", "p_partkey"], "left_anti")
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
        .select("c_custkey", F.col("p_partkey").alias("neg_partkey"), "rnk")
    )


@register(
    "t29_adaptive_quality_filter",
    r"""
    WITH scored AS (
      SELECT doc_id, source,
             len(list_distinct(regexp_extract_all(text, '\S+'))) * 1.0
               / len(regexp_extract_all(text, '\S+')) AS score
      FROM documents
      WHERE len(regexp_extract_all(text, '\S+')) > 0
    ),
    ranked AS (
      SELECT source, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY score DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n_total
      FROM scored
    )
    SELECT source, CAST(MAX(n_total) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN rn * 2 <= n_total THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           ROUND(MIN(CASE WHEN rn * 2 <= n_total THEN score END), 6)
             AS threshold_score
    FROM ranked GROUP BY source
    """,
    survey_rows="ext:group-relative quality filter; W6,A4",
    description="Source-adaptive quality filtering: keep each source's "
    "best half by type-token ratio (distinct-token fraction). The cut is "
    "RANK-based (row_number x 2 <= group size with a doc_id tie-break), "
    "not a float threshold compare, so the kept set is deterministic even "
    "when scores tie or the group median interpolates between values. One "
    "shuffle on source for the window, then a group-sized aggregation.",
)
def t29_adaptive_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = F.regexp_extract_all("text", F.lit(r"\S+"), 0)
    scored = (
        docs.withColumn("toks", toks)
        .filter(F.size("toks") > 0)
        .select(
            "doc_id",
            "source",
            (F.size(F.array_distinct("toks")) * F.lit(1.0) / F.size("toks")).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("source")
    ranked = scored.withColumn(
        "rn", F.row_number().over(w.orderBy(F.desc("score"), "doc_id"))
    ).withColumn("n_total", F.count(F.lit(1)).over(w))
    kept = F.col("rn") * 2 <= F.col("n_total")
    return ranked.groupBy("source").agg(
        F.max("n_total").alias("n_total"),
        F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
        F.round(F.min(F.when(kept, F.col("score"))), 6).alias("threshold_score"),
    )


@register(
    "w16_user_acquisition_curve",
    """
    WITH first_seen AS (
      SELECT user_id, MIN(date_trunc('hour', ts)) AS first_hour
      FROM events GROUP BY user_id
    ),
    per_hour AS (
      SELECT first_hour, COUNT(*) AS new_users FROM first_seen GROUP BY first_hour
    )
    SELECT first_hour, CAST(new_users AS BIGINT) AS new_users,
           CAST(SUM(new_users) OVER (ORDER BY first_hour
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cumulative_users
    FROM per_hour
    """,
    survey_rows="W-family ext: first-seen + cumulative set growth; W4,A12",
    description="User-acquisition curve: each user's first-seen hour, new "
    "users per hour, and the cumulative distinct-user count — the corpus-"
    "growth tracking shape (windowed cumulative count-distinct done as "
    "first-seen + running sum, which distributes; a naive per-window "
    "COUNT(DISTINCT) would not). The global ordered window runs over the "
    "per-hour aggregate whose size is bounded by the time range, not the "
    "input (same posture as m11's ECDF windows).",
)
def w16_user_acquisition_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("first_hour")
    )
    per_hour = first_seen.groupBy("first_hour").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = (
        Window.orderBy("first_hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_hour.select(
        "first_hour",
        "new_users",
        F.sum("new_users").over(w).alias("cumulative_users"),
    )


@register(
    "dq4_volume_anomalies",
    f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, {SQL_DAVG("n")} AS mu,
             ROUND(STDDEV_SAMP(n), 6) AS sigma
      FROM daily GROUP BY event_type
    )
    SELECT d.event_type, d.day, CAST(d.n AS BIGINT) AS n,
           ROUND(ABS(d.n - s.mu) / s.sigma, 4) AS z
    FROM daily d JOIN stats s ON d.event_type = s.event_type
    WHERE ABS(d.n - s.mu) / s.sigma > 2.0
    """,
    survey_rows="DQ ext: volume anomaly detection; M9,A4",
    description="Ingest-volume anomaly detection: daily per-type event "
    "counts more than 2 sigma from that type's mean. The mean is decimal-"
    "exact and sigma is rounded to 6 decimals BEFORE the z comparison, so "
    "the anomaly set is engine-deterministic (an unrounded stddev's last-"
    "ulp drift could flip the threshold). Two hash aggregations plus a "
    "broadcast of the per-type stats — nothing scales with raw input.",
)
def dq4_volume_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = daily.groupBy("event_type").agg(
        agg.decimal_avg(F.col("n").cast("double")).alias("mu"),
        F.round(F.stddev_samp("n"), 6).alias("sigma"),
    )
    z = F.abs(F.col("n") - F.col("mu")) / F.col("sigma")
    return (
        daily.join(F.broadcast(stats), "event_type")
        .filter(z > 2.0)
        .select("event_type", "day", "n", F.round(z, 4).alias("z"))
    )


@register(
    "ev3_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
    FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
    """,
    survey_rows="event analytics ext (behavior transitions); W1,A12",
    description="User-behavior transition matrix: consecutive-event pairs "
    "per user via LEAD over (ts, event_id), counted into the from->to "
    "matrix — the Markov-chain input for behavior modeling. One shuffle "
    "on user_id for the window, then a bounded |types|^2 aggregation.",
)
def ev3_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "cdc2_incremental_rollup",
    f"""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           {SQL_DSUM("value")} AS sum_value,
           {SQL_DAVG("value")} AS mean_value
    FROM events GROUP BY event_type
    """,
    survey_rows="CDC ext: incremental aggregate maintenance; A1,S9",
    description="Incremental rollup maintenance: the gold aggregate is "
    "REBUILT by merging a base partial (event_id % 10 != 0) with a delta "
    "partial (event_id % 10 == 0) via full-outer join + exact DECIMAL "
    "partial-sum addition — the foreachBatch incremental-gold pattern in "
    "batch form. The oracle is the full recompute, so a hash match PROVES "
    "merge == recompute. Partials stay DECIMAL until after the merge "
    "(double partial sums would drift a ulp vs the one-shot sum); only "
    "the final projection casts to double.",
)
def cdc2_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dec = F.col("value").cast(T.DecimalType(27, 6))

    def partial(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias(f"n_{tag}"),
            F.count("value").alias(f"nv_{tag}"),  # non-null count (mean's divisor)
            F.sum(dec).alias(f"s_{tag}"),  # stays DECIMAL — exact merge
        )

    base = partial(ev.filter(F.pmod("event_id", F.lit(10)) != 0), "base")
    delta = partial(ev.filter(F.pmod("event_id", F.lit(10)) == 0), "delta")
    zero = F.lit(0).cast(T.DecimalType(27, 6))
    merged = base.join(delta, "event_type", "full_outer").select(
        "event_type",
        (F.coalesce("n_base", F.lit(0)) + F.coalesce("n_delta", F.lit(0))).alias("n"),
        (F.coalesce("nv_base", F.lit(0)) + F.coalesce("nv_delta", F.lit(0))).alias("nv"),
        (F.coalesce("s_base", zero) + F.coalesce("s_delta", zero)).alias("s"),
    )
    return merged.select(
        "event_type",
        "n",
        F.col("s").cast("double").alias("sum_value"),
        (F.col("s").cast("double") / F.col("nv")).alias("mean_value"),
    )


def _copresence_sql(max_bucket_occupancy: int | None) -> str:
    """SQL twin of :func:`_copresence`: the 30-minute-gap session
    ``intervals`` of every user, then the brute-force overlap self-join —
    or, with ``max_bucket_occupancy``, the hour-bucket explode, the
    per-bucket cap under the (start, user, session) order and the
    bucket-mate join that interval_overlap_pairs runs."""
    intervals = f"""
    WITH {_sessions_cte('', 'sid')},
    intervals AS (
      SELECT user_id, sid, MIN(ts) AS s, MAX(ts) AS e
      FROM sess GROUP BY 1, 2
    )"""
    if max_bucket_occupancy is None:
        return intervals + """
    SELECT a.user_id AS user_a, b.user_id AS user_b, COUNT(*) AS n_copresent
    FROM intervals a JOIN intervals b
      ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
    GROUP BY 1, 2
    """
    return intervals + f""",
    bucketed AS (
      SELECT i.user_id, i.sid, i.s, i.e, b AS bucket
      FROM intervals i,
           LATERAL (SELECT unnest(generate_series(
             date_trunc('hour', i.s), date_trunc('hour', i.e),
             INTERVAL 1 HOUR)) AS b)
    ),
    capped AS (
      SELECT * FROM (
        SELECT user_id, sid, s, e, bucket,
               ROW_NUMBER() OVER (PARTITION BY bucket
                 ORDER BY s ASC, user_id ASC, sid ASC) AS occ
        FROM bucketed
      ) WHERE occ <= {max_bucket_occupancy}
    ),
    pairs AS (
      SELECT DISTINCT a.user_id AS user_a, a.sid AS sid_a,
                      b.user_id AS user_b, b.sid AS sid_b
      FROM capped a JOIN capped b
        ON a.bucket = b.bucket AND a.user_id < b.user_id
       AND a.s <= b.e AND b.s <= a.e
    )
    SELECT user_a, user_b, COUNT(*) AS n_copresent
    FROM pairs GROUP BY 1, 2
    """


def _copresence(
    spark: SparkSession, sf_dir: str, max_bucket_occupancy: int | None
) -> DataFrame:
    """j11/j11b: pairs of users whose 30-minute-gap sessions overlap, with
    the count of overlapping session pairs, through
    interval_overlap_pairs (capped per hour bucket when
    ``max_bucket_occupancy`` is set)."""
    ev = _t(spark, sf_dir, "events")
    sess = ow.sessionize(ev, key="user_id", ts="ts", tiebreak=["event_id"])
    intervals = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    out = oj.interval_overlap_pairs(intervals, max_bucket_occupancy=max_bucket_occupancy)
    return out.select(
        F.col("user_id_a").alias("user_a"),
        F.col("user_id_b").alias("user_b"),
        "n_copresent",
    )


@register(
    "j11_interval_overlap_join",
    _copresence_sql(None),
    survey_rows="J-family ext: interval overlap self-join (co-presence); J5,W9",
    description="Co-presence: pairs of users whose activity sessions (30-min "
    "gap sessionization) overlap in time, with the count of overlapping "
    "session pairs. The oracle brute-forces the interval self-join; the "
    "Spark plan NEVER does — sessions explode onto an hour grid, the "
    "self-join is an equi-join on the hour bucket (candidate pairs share a "
    "covered hour by construction), pairs dedup on session ids, and the "
    "exact overlap predicate filters bucket-mates that do not truly "
    "overlap. Cost is sessions x bucket occupancy, not sessions^2; a hot "
    "hour (everyone online) is a skew key AQE's skew-join splits. Scale "
    "caveat (100x probe): TRUE co-present pairs are quadratic in "
    "concurrent users by definition — when bucket occupancy itself grows "
    "with scale the join shape cannot beat the output size, so the "
    "operator (interval_overlap_pairs) takes max_bucket_occupancy=N: a "
    "deterministic per-bucket top-N before pairing that bounds work and "
    "output at sum-over-buckets N^2/2 (capped = deterministic subset, "
    "probed at 100x in SCALING.md; this graded query runs uncapped).",
)
def j11_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact (uncapped) mode — the 100×-scale routing for occupancy growth
    # is j11b's cap, probed in SCALING.md's 100× table
    return _copresence(spark, sf_dir, None)


@register(
    "dq5_referential_integrity",
    """
    SELECT 'orders.custkey->customer' AS relation,
           CAST(COUNT(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT) AS n_orphans
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'lineitem.orderkey->orders',
           CAST(COUNT(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT)
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'lineitem.partkey->part',
           CAST(COUNT(*) FILTER (WHERE p.p_partkey IS NULL) AS BIGINT)
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    UNION ALL
    SELECT 'lineitem.suppkey->supplier',
           CAST(COUNT(*) FILTER (WHERE s.s_suppkey IS NULL) AS BIGINT)
    FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    UNION ALL
    SELECT 'customer.nationkey->nation',
           CAST(COUNT(*) FILTER (WHERE n.n_nationkey IS NULL) AS BIGINT)
    FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    UNION ALL
    SELECT 'supplier.nationkey->nation',
           CAST(COUNT(*) FILTER (WHERE n.n_nationkey IS NULL) AS BIGINT)
    FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
    UNION ALL
    SELECT 'nation.regionkey->region',
           CAST(COUNT(*) FILTER (WHERE r.r_regionkey IS NULL) AS BIGINT)
    FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
    survey_rows="DQ ext: referential-integrity audit; J4,F15",
    description="Star-schema referential-integrity audit: orphan counts for "
    "every foreign-key relation in one result set. Each relation is a "
    "LEFT ANTI join counted (the planner broadcasts each dim side small "
    "enough; the lineitem->orders relation shuffles on the fact key) — the whole audit "
    "is one pass per fact table and proves zero orphans deterministically.",
)
def dq5_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    relations = [  # (fact, foreign key, dim, primary key)
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation", "n_regionkey", "region", "r_regionkey"),
    ]
    out = None
    for fact, fk, dim, pk in relations:
        dim_keys = _t(spark, sf_dir, dim).select(F.col(pk).alias(fk))
        orphans = _t(spark, sf_dir, fact).select(fk).join(dim_keys, fk, "left_anti")
        row = orphans.agg(F.count(F.lit(1)).alias("n_orphans")).select(
            F.lit(f"{fact}.{fk[2:]}->{dim}").alias("relation"), "n_orphans"
        )
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "w17_regular_grid_resample",
    """
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             COUNT(value) AS nv,
             SUM(CAST(value AS DECIMAL(27,6))) AS s
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT user_id, MIN(h) AS mn, MAX(h) AS mx FROM hourly GROUP BY 1),
    scaffold AS (
      SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
      FROM span
    ),
    joined AS (
      SELECT sc.user_id, sc.h, hv.s
      FROM scaffold sc LEFT JOIN hourly hv
        ON sc.user_id = hv.user_id AND sc.h = hv.h
    ),
    filled AS (
      SELECT user_id, h, s,
             LAST_VALUE(s IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY h ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sf
      FROM joined
    )
    SELECT user_id, CAST(h AS DATE) AS day,
           CAST(COUNT(*) - COUNT(s) AS BIGINT) AS n_gap_hours,
           CAST(SUM(sf) AS DOUBLE) AS sum_filled
    FROM filled GROUP BY 1, 2
    """,
    survey_rows="TS ext: regular-grid resample + gap fill; P10,W4",
    description="Resampling to a regular hourly grid: each user's series "
    "gets a complete hour scaffold between its first and last active hour "
    "(sequence + explode — generated distributed, never a driver-side "
    "calendar), missing hours join as null and forward-fill from the last "
    "observed hour; the per-day rollup counts gap hours and sums the "
    "filled series. This is the regular-grid input the reference's LSTM "
    "pipeline resamples to. Fill values stay DECIMAL end-to-end (the "
    "hourly exact sum), so the filled-series sum is engine-exact with no "
    "double->decimal rounding hazard. One user_id shuffle reused by the "
    "aggregate, the scaffold join, the fill window, and the rollup.",
)
def w17_regular_grid_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    dec = F.col("value").cast(T.DecimalType(27, 6))
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.sum(dec).alias("s"))
    # hourly feeds BOTH the bounds subtree (materialized below for the size
    # estimate) and the scaffold join's right side — materialize it once so
    # the events scan + decimal aggregate executes a single time
    hourly = osk.materialize(hourly)
    # Per-user bounds are one row per user — materialize the small frame so
    # the scaffold explode AND the size estimate below read it without
    # recomputing the hourly aggregate a third time.
    bounds = osk.materialize(
        hourly.groupBy("user_id").agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    )
    scaffold = bounds.select(
        "user_id",
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    joined = scaffold.join(hourly, ["user_id", "h"], "left")
    # The scaffold is users × active-span — it can dwarf the raw events
    # (the 100× probe measured an 8× blow-up and a spilling fill window at
    # the session's fixed shuffle-partition count, which AQE coalesces
    # DOWN but never splits UP). Size the window's partitioning to the
    # SCAFFOLD row count, estimated for free from the checkpointed bounds
    # (the first application of the now-shared repartition_for_rows guard:
    # 16.7× → 7.5× at the 100× probe).
    total_hours = (
        bounds.agg(
            F.sum(
                F.floor(
                    (F.unix_timestamp("mx") - F.unix_timestamp("mn")) / 3600
                )
                + 1
            )
        ).first()[0]
        or 0
    )
    joined = osk.repartition_for_rows(joined, int(total_hours), "user_id")
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = joined.withColumn("sf", F.last("s", ignorenulls=True).over(w))
    return filled.groupBy("user_id", F.col("h").cast("date").alias("day")).agg(
        (F.count(F.lit(1)) - F.count("s")).alias("n_gap_hours"),
        F.sum("sf").cast("double").alias("sum_filled"),
    )


@register(
    "f17_variant_extract",
    """
    SELECT event_type,
           CAST(COUNT(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS n_k,
           CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k
    FROM events GROUP BY event_type
    """,
    survey_rows="F-family ext: semi-structured VARIANT extraction; F11,§2.9",
    description="Schema-flexible semi-structured analytics via Spark 4's "
    "VARIANT type: try_parse_json(props) -> try_variant_get('$.k') "
    "extracts without declaring a struct schema up front (f_json_struct "
    "is the schema-declared twin). try_* variants make malformed or "
    "null JSON yield null instead of failing the batch — the oracle's "
    "json_extract has the same null semantics. Single hash aggregation; "
    "the variant decode runs JVM-side inside codegen, not in Python.",
)
def f17_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.try_variant_get(F.try_parse_json("props"), "$.k", "int")
    return ev.groupBy("event_type").agg(
        F.count(k).alias("n_k"),
        F.sum(k).alias("sum_k"),
    )


@register(
    "a21_pareto_concentration",
    """
    WITH rev AS (
      SELECT n.n_name, o.o_custkey,
             SUM(CAST(o.o_totalprice AS DECIMAL(27,6))) AS r
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT n_name, r,
             SUM(r) OVER (PARTITION BY n_name ORDER BY r DESC, o_custkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_r,
             SUM(r) OVER (PARTITION BY n_name) AS tot_r,
             ROW_NUMBER() OVER (PARTITION BY n_name
                                ORDER BY r DESC, o_custkey) AS rn,
             COUNT(*) OVER (PARTITION BY n_name) AS n_cust
      FROM rev
    )
    SELECT n_name, CAST(MAX(n_cust) AS BIGINT) AS n_customers,
           CAST(MIN(CASE WHEN CAST(cum_r AS DOUBLE) / CAST(tot_r AS DOUBLE)
                              >= 0.8 THEN rn END) AS BIGINT) AS n_top80
    FROM ranked GROUP BY 1
    """,
    survey_rows="A-family ext: Pareto concentration (cumulative share); W6,A1",
    description="Revenue concentration (the 80/20 curve): per nation, how "
    "many of its customers account for 80% of revenue. Per-customer "
    "revenue stays DECIMAL through the cumulative and total windows, so "
    "the share division is an exact-over-exact double compare in both "
    "engines. One shuffle on (nation, customer) for the aggregate, one on "
    "nation for the windows; the windowed frame is customers-per-nation "
    "sized, never raw orders.",
)
def a21_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast(T.DecimalType(27, 6))).alias("r"))
    )
    by_nation = Window.partitionBy("n_name")
    ordered = by_nation.orderBy(F.desc("r"), "o_custkey")
    ranked = rev.select(
        "n_name",
        F.sum("r").over(
            ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum_r"),
        F.sum("r").over(by_nation).alias("tot_r"),
        F.row_number().over(ordered).alias("rn"),
        F.count(F.lit(1)).over(by_nation).alias("n_cust"),
    )
    share = F.col("cum_r").cast("double") / F.col("tot_r").cast("double")
    return ranked.groupBy("n_name").agg(
        F.max("n_cust").alias("n_customers"),
        F.min(F.when(share >= 0.8, F.col("rn"))).alias("n_top80"),
    )


@register(
    "m14_benford_first_digit",
    """
    WITH digits AS (
      SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1.0
    ),
    counts AS (SELECT digit, COUNT(*) AS n FROM digits GROUP BY 1)
    SELECT digit, CAST(n AS BIGINT) AS n,
           ROUND(n * 1.0 / SUM(n) OVER (), 6) AS observed_freq,
           ROUND(LN(1.0 + 1.0 / digit) / LN(10.0), 6) AS benford_freq
    FROM counts
    """,
    survey_rows="DQ ext: Benford first-digit audit; M10,F8",
    description="Benford's-law first-digit audit on order totals (the "
    "classic fabricated-numbers screen): observed vs expected "
    "log10(1+1/d) frequency per leading digit. The digit comes from the "
    "INTEGER part rendered as a string (bigint-to-string is identical "
    "across engines — float log10 binning is not); the only windows run "
    "over the 9-row digit frame.",
)
def m14_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1.0)
    digit = F.substring(
        F.floor("o_totalprice").cast("long").cast("string"), 1, 1
    ).cast("int")
    counts = orders.groupBy(digit.alias("digit")).agg(F.count(F.lit(1)).alias("n"))
    tot = F.sum("n").over(Window.partitionBy())
    return counts.select(
        "digit",
        "n",
        F.round(F.col("n") * 1.0 / tot, 6).alias("observed_freq"),
        F.round(F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0)), 6).alias(
            "benford_freq"
        ),
    )


# ===========================================================================
# Training-pipeline extensions: corpus-level boilerplate-segment
# detection, trained-LM perplexity filtering, content-addressed sharding
# ===========================================================================


@register(
    "t30_boilerplate_segments",
    f"""
    WITH toks AS (
      SELECT doc_id, source,
             {_SQL_WORDS} AS words
      FROM documents
    ),
    segs AS (
      SELECT doc_id, source,
             array_to_string(list_slice(words, (i - 1) * 4 + 1, (i - 1) * 4 + 4), ' ') AS seg
      FROM toks, LATERAL (
        SELECT unnest(generate_series(1, CAST(FLOOR(len(words) / 4.0) AS BIGINT))) AS i
      )
      WHERE len(words) >= 4
    ),
    seg_df AS (SELECT seg, COUNT(DISTINCT doc_id) AS dfreq FROM segs GROUP BY 1),
    per_doc AS (
      SELECT s.doc_id, s.source, COUNT(*) AS n_segs,
             SUM(CASE WHEN d.dfreq >= 2 THEN 1 ELSE 0 END) AS n_boiler
      FROM segs s JOIN seg_df d USING (seg) GROUP BY 1, 2
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_segs) AS BIGINT) AS total_segs,
           CAST(SUM(n_boiler) AS BIGINT) AS boiler_segs,
           CAST(SUM(CASE WHEN n_boiler = 0 THEN 1 ELSE 0 END) AS BIGINT) AS clean_docs,
           FLOOR(SUM(n_boiler) * 1.0 / SUM(n_segs) * 1000000) / 1000000.0 AS boiler_frac
    FROM per_doc GROUP BY 1
    """,
    survey_rows="ext:dedup-segment (sub-document boilerplate removal); P4,A12",
    description="Sub-document (segment-level) duplication audit — the "
    "RefinedWeb/CCNet 'repeated boilerplate' screen that document-level "
    "dedup (t1/t7) cannot see: each doc is cut into fixed 4-token "
    "segments, a segment appearing in >=2 distinct docs is boilerplate, "
    "and per-source stats report how much of the corpus is repeated "
    "chrome. Two hash aggregations plus one equi-join on the segment "
    "string — no pair enumeration, so unlike t2 the cost is linear in "
    "corpus size and survives 100 TB; the dfreq table is the only "
    "intermediate and it shrinks with distinct-segment count.",
)
def t30_boilerplate_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import tokens

    docs = _t(spark, sf_dir, "documents")
    segs = (
        docs.select("doc_id", "source", tokens(F.col("text")).alias("words"))
        .withColumn("n_seg", F.floor(F.size("words") / F.lit(4)).cast("int"))
        .filter(F.col("n_seg") >= 1)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("n_seg")),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("words"), (i - 1) * 4 + 1, 4)
                    ),
                )
            ).alias("seg"),
        )
    )
    seg_df = segs.groupBy("seg").agg(F.count_distinct("doc_id").alias("dfreq"))
    per_doc = (
        segs.join(seg_df, "seg")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum(F.when(F.col("dfreq") >= 2, 1).otherwise(0)).alias("n_boiler"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_segs").alias("total_segs"),
        F.sum("n_boiler").alias("boiler_segs"),
        F.sum(F.when(F.col("n_boiler") == 0, 1).otherwise(0)).alias("clean_docs"),
        q6(F.sum("n_boiler") * 1.0 / F.sum("n_segs")).alias("boiler_frac"),
    )


#: t31 oracle fragments, composed outside the f-string for readability.
#: The per-doc cross-entropy is a COUNT-WEIGHTED mean: bigram instances are
#: pre-aggregated to per-doc (bigram, count) rows before the model join
#: (dedup-before-join — the join input shrinks by the mean bigram
#: multiplicity and the corpus is exploded once, not twice), so the mean is
#: Σ(count·logp)/Σcount with the product taken in exact decimal (logp is
#: already 6-dp-floored, so the decimal cast is exact within budget).
#: The trailing ``+ 0.0`` canonicalizes IEEE negative zero: a doc whose
#: every bigram is deterministic has weighted-avg(logp) = 0, and DuckDB's
#: double-valued FLOOR preserves the sign bit of ``-(0.0)`` (→ '-0.0')
#: where Spark's long-valued floor does not (→ '0.0'); (-0.0) + 0.0 is
#: +0.0 in IEEE 754, on any engine. Found by the reseed probe.
_T31_DOC_CE = (
    "("
    + SQL_Q6(
        "-(CAST(SUM(CAST(m.logp AS DECIMAL(27,6)) * b.cnt) AS DOUBLE)"
        " / SUM(b.cnt))"
    )
    + ") + 0.0"
)


@register(
    "t31_lm_perplexity_filter",
    f"""
    WITH toks AS (
      SELECT doc_id, lang,
             {_SQL_LOWER_WORDS} AS words
      FROM documents
    ),
    bi AS (
      SELECT doc_id, lang, words[i] AS w1, words[i + 1] AS w2
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(words) - 1)) AS i)
      WHERE len(words) >= 2
    ),
    bc AS (
      SELECT doc_id, lang, w1, w2, COUNT(*) AS cnt
      FROM bi GROUP BY 1, 2, 3, 4
    ),
    pc AS (SELECT w1, w2, CAST(SUM(cnt) AS BIGINT) AS c12 FROM bc GROUP BY 1, 2),
    uni AS (SELECT w1, SUM(c12) AS c1 FROM pc GROUP BY 1),
    model AS (
      SELECT p.w1, p.w2,
             FLOOR(LN(p.c12 * 1.0 / u.c1) * 1000000) / 1000000.0 AS logp
      FROM pc p JOIN uni u USING (w1)
    ),
    doc_ce AS (
      SELECT b.doc_id, b.lang, {_T31_DOC_CE} AS ce
      FROM bc b JOIN model m USING (w1, w2)
      GROUP BY 1, 2
    ),
    mu AS (SELECT {SQL_DAVG('ce')} AS mu FROM doc_ce)
    SELECT lang, COUNT(*) AS n_docs,
           {SQL_Q6(SQL_DAVG('ce'))} AS mean_ce,
           MIN(ce) AS min_ce, MAX(ce) AS max_ce,
           CAST(SUM(CASE WHEN ce > (SELECT mu FROM mu) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged
    FROM doc_ce GROUP BY 1
    """,
    survey_rows="ext:quality-filter (LM cross-entropy); A1,J1 train-then-score",
    description="Perplexity-style quality filter: train the t19 word-bigram "
    "LM on the corpus itself, then score every document by its mean "
    "negative log-probability under that model and count docs above the "
    "corpus mean (the CCNet 'LM filter' loop: train -> score -> cut). "
    "Per-bigram log-probs and per-doc cross-entropies are floor-quantized "
    "at 6 dp with exact decimal means between, so the transcendental LN "
    "never meets an engine tie. Shape: bigram instances are pre-aggregated "
    "to per-doc (bigram, count) rows (dedup-before-join — one explode, not "
    "two, and the scoring join shrinks by the mean bigram multiplicity), "
    "the model derives from those partials, the (w1,w2) equi-join scores a "
    "count-weighted exact-decimal mean, and the corpus mean is a scalar "
    "broadcast, not a second pass.",
)
def t31_lm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import widen_narrow_scan
    from ..operators.text import tokens

    docs = _t(spark, sf_dir, "documents")
    # widen before the bigram explode (single-row-group input = one core
    # for the whole tokenize+explode otherwise; see skew.widen_narrow_scan)
    toks = widen_narrow_scan(docs.select("doc_id", "lang", "text")).select(
        "doc_id", "lang", tokens(F.lower(F.col("text"))).alias("words")
    )
    n = F.size("words")
    bi = (
        toks.filter(n >= 2)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n - 2),
                    lambda i: F.struct(
                        F.element_at(F.col("words"), i + 1).alias("w1"),
                        F.element_at(F.col("words"), i + 2).alias("w2"),
                    ),
                )
            ).alias("bg"),
        )
        .select("doc_id", "lang", "bg.w1", "bg.w2")
    )
    bc = bi.groupBy("doc_id", "lang", "w1", "w2").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # bc feeds BOTH the model derivation (pc -> uni -> model) and the
    # scoring join's left side; runtime exchange reuse collapses the two
    # identical bc aggregations, so the bigram explode executes once — no
    # materialization barrier needed (verified: a localCheckpoint here was
    # time-neutral at bench scale and only added a job).
    pc = bc.groupBy("w1", "w2").agg(F.sum("cnt").alias("c12"))
    uni = pc.groupBy("w1").agg(F.sum("c12").alias("c1"))
    model = pc.join(uni, "w1").select(
        "w1", "w2", q6(F.log(F.col("c12") * 1.0 / F.col("c1"))).alias("logp")
    )
    wsum = F.sum(F.col("logp").cast("decimal(27,6)") * F.col("cnt")).cast("double")
    doc_ce = (
        bc.join(model, ["w1", "w2"])
        .groupBy("doc_id", "lang")
        .agg(q6(-(wsum / F.sum("cnt"))).alias("ce"))
    )
    mu = doc_ce.agg(agg.decimal_avg(F.col("ce")).alias("mu"))
    return (
        doc_ce.crossJoin(mu)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            q6(agg.decimal_avg(F.col("ce"))).alias("mean_ce"),
            F.min("ce").alias("min_ce"),
            F.max("ce").alias("max_ce"),
            F.sum(F.when(F.col("ce") > F.col("mu"), 1).otherwise(0)).alias(
                "n_flagged"
            ),
        )
    )


@register(
    "t33_bpe_pair_merge",
    f"""
    WITH w AS (
      SELECT unnest({_SQL_LOWER_WORDS}) AS w
      FROM documents
    ),
    ch AS (
      SELECT w, string_split(w, '') AS cs
      FROM w WHERE length(w) >= 2 AND regexp_matches(w, '^[ -~]+$')
    ),
    pairs AS (
      SELECT cs[i] AS c1, cs[i + 1] AS c2
      FROM ch, LATERAL (SELECT unnest(generate_series(1, len(cs) - 1)) AS i)
    ),
    counts AS (SELECT c1, c2, COUNT(*) AS n FROM pairs GROUP BY 1, 2),
    ranked AS (
      SELECT c1, c2, n, ROW_NUMBER() OVER (ORDER BY n DESC, c1, c2) AS rn
      FROM counts
    )
    SELECT c1, c2, n FROM ranked WHERE rn <= 30
    """,
    survey_rows="ext:tokenizer-training (BPE merge statistics); A12,W8",
    description="The first BPE merge iteration — the statistic a tokenizer "
    "trainer computes once per merge over the whole corpus: within-word "
    "adjacent character-pair counts, top-30 with a total (count desc, "
    "pair) tie-break. Restricted to all-printable-ASCII words so both "
    "engines split characters identically (same projection rationale as "
    "t18). Shape: explode to pairs -> one hash aggregation with map-side "
    "combine -> TakeOrderedAndProject; the aggregate is alphabet-squared "
    "sized, so per-merge cost at 100 TB is one linear pass regardless of "
    "corpus size.",
)
def t33_bpe_pair_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import tokens

    from ..operators.skew import widen_narrow_scan

    docs = _t(spark, sf_dir, "documents")
    # widen before the word→char-pair double explode: a profile
    # measured the whole 949 k-pair build + partial aggregate on ONE real
    # task (1.2 s single-task aggregation build) — per-footer-row cost
    # ≈ 0.28 ms, so rows_per_task=512 sizes ~0.15 s tasks (guide §2.5)
    w = (
        widen_narrow_scan(docs.select("text"), rows_per_task=512)
        .select(F.explode(tokens(F.lower(F.col("text")))).alias("w"))
        .filter((F.length("w") >= 2) & F.col("w").rlike("^[ -~]+$"))
    )
    cs = F.split(F.col("w"), "")
    n = F.size(cs)
    pairs = w.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n - 2),
                lambda i: F.struct(
                    F.element_at(cs, i + 1).alias("c1"),
                    F.element_at(cs, i + 2).alias("c2"),
                ),
            )
        ).alias("p")
    ).select("p.c1", "p.c2")
    counts = pairs.groupBy("c1", "c2").agg(F.count(F.lit(1)).alias("n"))
    return counts.orderBy(F.desc("n"), "c1", "c2").limit(30)


@register(
    "t32_content_shard_assignment",
    """
    WITH hashed AS (
      SELECT doc_id, lang, n_chars, md5_number_lower(text) AS h
      FROM documents
    )
    SELECT CAST(h % 16 AS BIGINT) AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(h % 1048576) AS BIGINT) AS checksum
    FROM hashed GROUP BY 1
    """,
    survey_rows="ext:train-shard (content-addressed); S8,A12",
    description="Content-addressed shard assignment for training-data "
    "layout: shard = low 4 bits of a 64-bit content hash, so re-ingesting "
    "the same corpus with different doc_ids lands every document on the "
    "same shard (id-hash sharding, t12/t13, cannot promise that), plus a "
    "per-shard balance/checksum audit. The graded query uses the "
    "md5-derived portable hash (bit-identical to DuckDB md5_number_lower; "
    "operators.dedup.md5_token_hash64) — xxhash64 is the production fast "
    "path. Signed & 15 == unsigned % 16 on the shared bit pattern, so the "
    "two engines bucket identically. Pure map + one hash aggregation: no "
    "global sort, no skew (md5 is uniform), 100 TB-safe by construction.",
)
def t32_content_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import md5_token_hash64

    docs = _t(spark, sf_dir, "documents")
    h = md5_token_hash64(F.col("text"))
    hashed = docs.select(
        "lang",
        "n_chars",
        h.bitwiseAND(F.lit(15)).cast("long").alias("shard"),
        h.bitwiseAND(F.lit(1048575)).alias("low20"),
    )
    return hashed.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum("low20").alias("checksum"),
    )


# ===========================================================================
# Training-pipeline extensions: lexical retrieval (BM25),
# hashed-feature quality classifier, n-gram novelty, time-decay features
# ===========================================================================

#: BM25 query terms (fixed retrieval query over the synthetic corpus).
_BM25_TERMS = ("spark", "join", "window", "stream")
#: SQL twin of :func:`_bm25_scores`: ``bm(doc_id, bm25)`` (s7, s8).
_SQL_BM25_CTES = f"""toks AS (
      SELECT doc_id,
             {_SQL_LOWER_WORDS} AS words
      FROM documents
      WHERE text IS NOT NULL
    ),
    dl AS (SELECT doc_id, len(words) AS dl FROM toks),
    stats AS (
      SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS tot FROM dl
    ),
    tf AS (
      SELECT doc_id, w, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(words) AS w FROM toks)
      WHERE w IN {str(tuple(_BM25_TERMS))}
      GROUP BY 1, 2
    ),
    idf AS (
      SELECT w,
             FLOOR(LN((s.n_docs - dfreq + 0.5) / (dfreq + 0.5) + 1.0) * 1000000)
               / 1000000.0 AS idf6
      FROM (SELECT w, COUNT(*) AS dfreq FROM tf GROUP BY 1) d, stats s
    ),
    sc AS (
      SELECT t.doc_id,
             FLOOR(
               (i.idf6 * (t.tf * 2.2))
               / (t.tf + 1.2 * (0.25 + (0.75 * d.dl) / (CAST(s.tot AS DOUBLE) / s.n_docs)))
               * 1000000
             ) / 1000000.0 AS sterm
      FROM tf t JOIN idf i USING (w) JOIN dl d USING (doc_id), stats s
    ),
    bm AS (
      SELECT doc_id, CAST(SUM(CAST(sterm AS DECIMAL(27,6))) AS DOUBLE) AS bm25
      FROM sc GROUP BY 1
    )"""


@register(
    "s7_bm25_retrieval",
    f"""
    WITH {_SQL_BM25_CTES}
    SELECT doc_id, bm25 FROM bm
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """,
    survey_rows="ext:retrieval (BM25 top-k); A12,J1,W8",
    description="Lexical retrieval for data curation: Okapi BM25 "
    "(k1=1.2, b=0.75) of every document against a fixed query-term set, "
    "top-20 by score — the retrieval-based selection step (e.g. picking "
    "corpus slices relevant to a target domain) that complements the "
    "embedding routes s1/s5. Scale shape: the posting list (doc_id, term, "
    "tf) is filtered to the query terms BEFORE any join, so its size is "
    "O(matching docs × |query|), never O(corpus vocab); df/idf (≤|query| "
    "rows) and the corpus length stats (1 row) broadcast; the only "
    "per-corpus-size work is the tokenize+explode scan and one equi-join "
    "back to doc lengths, then TakeOrderedAndProject for the top-k. "
    "Float discipline: IDF's transcendental LN is 6-dp floor-bracketed, "
    "every other factor is IEEE-exact arithmetic on integers written with "
    "identical association on both engines, and per-doc term scores are "
    "6-dp floored then decimal-summed so addition order cannot drift.",
)
def s7_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bm25_scores(spark, sf_dir).orderBy(F.desc("bm25"), "doc_id").limit(20)


def _bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, bm25) scoring frame shared by s7 (top-20 lexical
    retrieval) and s8 (hybrid RRF fusion) — see s7's description for the
    plan shape and float discipline."""
    from ..operators.text import tokens

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("words")
    )
    dl = toks.select("doc_id", F.size("words").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("tot")
    )
    tf = (
        toks.select("doc_id", F.explode("words").alias("w"))
        .filter(F.col("w").isin(*_BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = (
        tf.groupBy("w")
        .agg(F.count(F.lit(1)).alias("dfreq"))
        .crossJoin(stats)
        .select(
            "w",
            q6(
                F.log(
                    (F.col("n_docs") - F.col("dfreq") + F.lit(0.5))
                    / (F.col("dfreq") + F.lit(0.5))
                    + F.lit(1.0)
                )
            ).alias("idf6"),
        )
    )
    avgdl = F.col("tot").cast("double") / F.col("n_docs")
    sterm = q6(
        (F.col("idf6") * (F.col("tf") * F.lit(2.2)))
        / (
            F.col("tf")
            + F.lit(1.2)
            * (F.lit(0.25) + (F.lit(0.75) * F.col("dl")) / avgdl)
        )
    )
    scores = (
        tf.join(F.broadcast(idf), "w")
        .join(dl, "doc_id")
        .crossJoin(stats)
        .select("doc_id", sterm.alias("sterm"))
    )
    from ..operators.aggregations import decimal_sum

    return scores.groupBy("doc_id").agg(decimal_sum(F.col("sterm")).alias("bm25"))


#: SQL twin of :func:`_hashed_doc_scores`: t34's hashed-classifier
#: ``doc_scores(doc_id, source, n_chars, score)`` (t34, ml4, ml5, m22,
#: m23, f20, a24).
_HASHED_SCORES_SQL = f"""toks AS (
      SELECT doc_id, source, n_chars,
             unnest({_SQL_LOWER_WORDS}) AS w
      FROM documents
    ),
    feats AS (
      SELECT doc_id, source, n_chars,
             CAST(md5_number_lower(w) % 1048576 AS BIGINT) - 524288 AS f
      FROM toks
    ),
    doc_scores AS (
      SELECT doc_id, source, n_chars,
             CAST(SUM(f) AS DOUBLE) / (COUNT(*) * 524288.0) AS score
      FROM feats GROUP BY 1, 2, 3
    )"""
#: t34's score in one of ten fixed bins over [-1, 1] (ml4, m23).
_SQL_SCORE_BIN = "LEAST(GREATEST(CAST(FLOOR((score + 1.0) * 5) AS BIGINT), 0), 9)"


@register(
    "t34_hashed_quality_classifier",
    f"""
    WITH {_HASHED_SCORES_SQL}
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           {SQL_Q6(SQL_DAVG(SQL_Q6('score')))} AS mean_score
    FROM doc_scores GROUP BY 1
    """,
    survey_rows="ext:quality-filter (hashed linear model); A1,F12",
    description="fastText-shaped quality classifier over hashed token "
    "features: every token hashes into a 2^20 feature space whose weight "
    "is a deterministic function of the bucket (here (h mod 2^20) - 2^19, "
    "a stand-in for trained weights — the container has no fastText, so "
    "the model is an explicit deterministic fake; the PIPELINE — hash, "
    "look up, mean-pool, threshold — is the real Dolma/CCNet shape), a "
    "document scores the mean of its token weights, and score > 0 keeps "
    "the doc. Pure map + two hash aggregations, no joins at all: the "
    "weight lookup is arithmetic on the hash rather than a join against "
    "a 2^20-row weight table, which is exactly how a broadcast weight "
    "vector behaves at 100 TB (the table never shuffles). Uses the "
    "md5-portable 64-bit hash (bit-identical to DuckDB md5_number_lower; "
    "xxhash64 is the production path). Integer feature sums are exact on "
    "both engines; the single division per doc is IEEE-exact; doc scores "
    "are 6-dp floored then decimal-averaged.",
)
def t34_hashed_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregations import decimal_avg

    doc_scores = _hashed_doc_scores(spark, sf_dir)
    return doc_scores.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("score") > 0, 1).otherwise(0)).alias("n_keep"),
        q6(decimal_avg(q6(F.col("score")))).alias("mean_score"),
    )


def _score_bin() -> Column:
    """Spark twin of ``_SQL_SCORE_BIN``."""
    return F.least(
        F.greatest(
            F.floor((F.col("score") + F.lit(1.0)) * F.lit(5)).cast("long"),
            F.lit(0),
        ),
        F.lit(9),
    )


def _hashed_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, source, n_chars, score) frame of t34's hashed linear
    classifier, shared with ml4's calibration audit — see t34's
    description for the hashing scheme, plan shape, and float
    discipline."""
    from ..operators.dedup import md5_token_hash64
    from ..operators.skew import widen_narrow_scan
    from ..operators.text import tokens

    docs = _t(spark, sf_dir, "documents")
    # widen before the tokenize + per-token md5 (hex-decode) map — a
    # profile measured this stage ~1 s on one real task for t34/f20/ml4
    # (all three share this frame); per-footer-row ≈ 0.2 ms → 512-row tasks
    docs = widen_narrow_scan(
        docs.select("doc_id", "source", "n_chars", "text"), rows_per_task=512
    )
    feats = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.explode(tokens(F.lower(F.col("text")))).alias("w"),
    ).select(
        "doc_id",
        "source",
        "n_chars",
        (
            md5_token_hash64(F.col("w")).bitwiseAND(F.lit(1048575))
            - F.lit(524288)
        ).alias("f"),
    )
    return feats.groupBy("doc_id", "source", "n_chars").agg(
        (
            F.sum("f").cast("double")
            / (F.count(F.lit(1)) * F.lit(524288.0))
        ).alias("score")
    )


def _lower_shingle_ctes(keys: str) -> str:
    """SQL twin of :func:`_lower_shingles`: ``sh(<keys>, shingle)``."""
    return f"""toks AS (
      SELECT doc_id, source,
             {_SQL_LOWER_WORDS} AS words
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT {keys},
             array_to_string(list_slice(words, i, i + 2), ' ') AS shingle
      FROM toks, LATERAL (
        SELECT unnest(generate_series(1, len(words) - 2)) AS i
      )
      WHERE len(words) >= 3
    )"""


def _lower_shingles(spark: SparkSession, sf_dir: str, keys: list[str]) -> DataFrame:
    """t35/t36: the distinct lowercased word-3-grams ``shingle`` of every
    document, per document columns ``keys``."""
    from ..operators.skew import widen_narrow_scan
    from ..operators.text import tokens

    docs = _t(spark, sf_dir, "documents")
    return (
        widen_narrow_scan(docs.select(*keys, "text"))
        .select(*keys, tokens(F.lower(F.col("text"))).alias("words"))
        .filter(F.size("words") >= 3)
        .select(
            *keys,
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("words") - F.lit(2)),
                    lambda i: F.concat_ws(" ", F.slice(F.col("words"), i, 3)),
                )
            ).alias("shingle"),
        )
        .distinct()
    )


@register(
    "t35_ngram_novelty",
    f"""
    WITH {_lower_shingle_ctes('doc_id, source')},
    first_seen AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY 1),
    per_doc AS (
      SELECT s.doc_id, s.source,
             COUNT(*) AS n_shingles,
             SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS n_novel
      FROM sh s JOIN first_seen f USING (shingle)
      GROUP BY 1, 2
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_shingles) AS BIGINT) AS total_shingles,
           CAST(SUM(n_novel) AS BIGINT) AS novel_shingles,
           FLOOR(SUM(n_novel) * 1.0 / SUM(n_shingles) * 1000000) / 1000000.0
             AS novelty_frac
    FROM per_doc GROUP BY 1
    """,
    survey_rows="ext:novelty scoring (first-occurrence n-grams); P4,A12",
    description="N-gram novelty audit — the 'how much of this source is "
    "new text vs re-crawled/echoed content' curation signal: each "
    "document's distinct 3-token shingles, a shingle's first appearance "
    "is the minimum doc_id carrying it (ingestion order), and a doc's "
    "novelty is the fraction of its shingles it introduced. Linear in "
    "corpus size: one explode+distinct, one hash aggregation to "
    "first-seen, one equi-join back on the shingle string, two more "
    "aggregations — no pair enumeration (contrast t2), so the same plan "
    "survives 100 TB where the shingle→min(doc_id) map is the only large "
    "intermediate and it shrinks with distinct-shingle count. Integer "
    "counts throughout; the one ratio is FLOOR-quantized on both engines.",
)
def t35_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _lower_shingles(spark, sf_dir, ["doc_id", "source"])
    first_seen = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(first_seen, "shingle")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_shingles").alias("total_shingles"),
        F.sum("n_novel").alias("novel_shingles"),
        q6(F.sum("n_novel") * 1.0 / F.sum("n_shingles")).alias("novelty_frac"),
    )


@register(
    "w18_time_decay_features",
    f"""
    WITH anchor AS (SELECT MAX(ts) AS mx FROM events),
    weighted AS (
      SELECT e.event_type,
             FLOOR(
               EXP(-(CAST(epoch(a.mx) - epoch(e.ts) AS DOUBLE) * 0.693147 / 86400.0))
               * 1000000
             ) / 1000000.0 AS w,
             e.value
      FROM events e, anchor a
      WHERE e.ts IS NOT NULL
    )
    SELECT event_type,
           CAST(SUM(CAST(w AS DECIMAL(27,6))) AS DOUBLE) AS decayed_count,
           CAST(SUM(CAST(FLOOR(w * value * 1000000) / 1000000.0 AS DECIMAL(27,6))) AS DOUBLE)
             AS decayed_value
    FROM weighted GROUP BY 1
    """,
    survey_rows="ext:feature-engineering (recency decay); A1,W4,F3",
    description="Exponentially time-decayed aggregates — the recency-"
    "weighted user/type features a training pipeline derives from an "
    "event log (half-life 24h anchored at the corpus max timestamp): "
    "decayed event count = Σ w and decayed value = Σ w·value with "
    "w = exp(-age·ln2/24h). One scan + a 1-row broadcast anchor + one "
    "hash aggregation — the decay is a map-side expression, so unlike a "
    "window-per-user formulation there is exactly one shuffle and it is "
    "the final group-by; at 100 TB the anchor comes from table stats or "
    "the batch watermark instead of a MAX pre-pass. Float discipline: "
    "age is micros-exact epoch seconds on both engines (Spark "
    "cast-to-double == DuckDB epoch(), the w9/w12 pattern), the decay "
    "constant is a shared 6-dp literal (not LN(2), "
    "which engines round differently), the transcendental EXP is 6-dp "
    "floor-bracketed per row, w·value is IEEE-exact then floored again, "
    "and both sums run in exact decimal so addition order cannot drift.",
)
def w18_time_decay_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregations import decimal_sum

    events = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    anchor = events.agg(F.max("ts").alias("mx"))
    age = F.col("mx").cast("double") - F.col("ts").cast("double")
    w = q6(F.exp(-(age * F.lit(0.693147) / F.lit(86400.0))))
    weighted = events.crossJoin(anchor).select("event_type", w.alias("w"), "value")
    return weighted.groupBy("event_type").agg(
        decimal_sum(F.col("w")).alias("decayed_count"),
        decimal_sum(q6(F.col("w") * F.col("value"))).alias("decayed_value"),
    )


@register(
    "m15_mann_whitney_u",
    """
    WITH base AS (
      SELECT value AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
    ),
    pv AS (
      SELECT v, CAST(SUM(ia) AS BIGINT) AS ca,
             CAST(COUNT(*) - SUM(ia) AS BIGINT) AS cb
      FROM base GROUP BY 1
    ),
    cum AS (
      SELECT v, ca, cb,
             COALESCE(SUM(cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb_before
      FROM pv
    ),
    s AS (
      SELECT CAST(SUM(CAST(ca AS DECIMAL(38,0))) AS BIGINT) AS n_a,
             CAST(SUM(CAST(cb AS DECIMAL(38,0))) AS BIGINT) AS n_b,
             CAST(SUM(CAST(ca * (2 * cb_before + cb) AS DECIMAL(38,0))) AS BIGINT) AS u2,
             CAST(SUM(CAST((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb)
               AS DECIMAL(38,0))) AS BIGINT) AS tie
      FROM cum
    ),
    f AS (
      SELECT n_a, n_b, u2, tie, n_a + n_b AS n,
             n_a * n_b / 12.0
               * ((n_a + n_b + 1) - tie / ((n_a + n_b) * (n_a + n_b - 1.0))) AS var
      FROM s
    )
    SELECT n_a, n_b, u2 / 2.0 AS u,
           CASE WHEN var > 0
                THEN ROUND((u2 / 2.0 - n_a * n_b / 2.0) / SQRT(var), 6) END AS z
    FROM f
    """,
    survey_rows="M-ext (Mann-Whitney U rank-sum, tie-corrected)",
    description="Two-sample Mann-Whitney U (click vs purchase event "
    "values) with normal approximation and full tie correction — the "
    "nonparametric complement to M2's Welch t-test. Exact-integer "
    "sufficient statistics: per distinct value, 2·U accumulates "
    "ca·(2·cumB(<v) + cb) and the tie term t³−t, summed in DECIMAL(38,0); "
    "the float formula (mean, tie-corrected variance, one sqrt) applies "
    "once to identical integers on both engines, zero-variance guarded to "
    "NULL. The prefix count over ordered distinct values runs "
    "range-bucketed exactly like m11's KS ECDF (quantile bucket "
    "boundaries, intra-bucket window, per-bucket offsets from the tiny "
    "totals frame) — no single-partition sort over the value domain at "
    "any scale (stats/inference.py::mann_whitney_u).",
)
def m15_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..stats.inference import mann_whitney_u

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return mann_whitney_u(ev, "event_type", "value", "click", "purchase")


@register(
    "m16_spearman_rank_corr",
    """
    WITH base AS (
      SELECT event_type AS g, value AS x, ts AS y
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    ),
    ranked AS (
      SELECT g,
             2 * RANK() OVER (PARTITION BY g ORDER BY x)
               + COUNT(*) OVER (PARTITION BY g, x) - 1 AS rx,
             2 * RANK() OVER (PARTITION BY g ORDER BY y)
               + COUNT(*) OVER (PARTITION BY g, y) - 1 AS ry
      FROM base
    ),
    stats AS (
      SELECT g AS event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(rx AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(ry AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(rx * rx AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(ry * ry AS DECIMAL(38,0))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(rx * ry AS DECIMAL(38,0))) AS DOUBLE) AS sxy
      FROM ranked GROUP BY 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
                THEN ROUND((n * sxy - sx * sy)
                     / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
           END AS spearman_rho
    FROM stats
    """,
    survey_rows="M-ext (Spearman rank correlation); W6,M13",
    description="Spearman rank correlation of (value, event time) per "
    "event type: both variables rank-transformed with average ranks for "
    "ties (2·avg_rank = 2·RANK + tie_count − 1 stays integer), then m13's "
    "exact-integer Pearson sufficient statistics applied to the doubled "
    "ranks — Pearson is affine-invariant, so rho on 2r equals rho on r, "
    "and every sum is DECIMAL(38,0)-exact with the float formula applied "
    "once to identical integers (zero-variance guarded to NULL). The rank "
    "windows partition by event type (a13's accepted pattern); at 100 TB "
    "the rank maps route through m11's range-bucketed prefix sum instead "
    "of per-group sorts.",
)
def m16_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select(F.col("event_type").alias("g"), F.col("value").alias("x"), F.col("ts").alias("y"))
    )
    rank2 = lambda c: (  # noqa: E731 — 2·avg_rank as an exact integer
        2 * F.rank().over(Window.partitionBy("g").orderBy(c))
        + F.count(F.lit(1)).over(Window.partitionBy("g", c))
        - 1
    ).cast("long")
    ranked = ev.select(
        "g", rank2(F.col("x")).alias("rx"), rank2(F.col("y")).alias("ry")
    )
    dec = lambda c: F.sum(c.cast("decimal(38,0)")).cast("double")  # noqa: E731
    stats = ranked.groupBy(F.col("g").alias("event_type")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec(F.col("rx")).alias("sx"),
        dec(F.col("ry")).alias("sy"),
        dec(F.col("rx") * F.col("rx")).alias("sxx"),
        dec(F.col("ry") * F.col("ry")).alias("syy"),
        dec(F.col("rx") * F.col("ry")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    denom = (n * sxx - sx * sx) * (n * syy - sy * sy)
    rho = (n * sxy - sx * sy) / F.sqrt(denom)
    return stats.select(
        "event_type",
        n.cast("long").alias("n"),
        F.when(denom > 0, F.round(rho, 6)).alias("spearman_rho"),
    )


@register(
    "ev4_conversion_latency",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
      JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND e.ts > v.t1
      GROUP BY e.user_id
    ),
    lat AS (
      SELECT epoch(p.t3) - epoch(v.t1) AS lat_s
      FROM p JOIN v ON p.user_id = v.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_viewers,
           COUNT(*) AS n_converted,
           ROUND(QUANTILE_CONT(lat_s, 0.5), 6) AS median_latency_s,
           ROUND(QUANTILE_CONT(lat_s, 0.9), 6) AS p90_latency_s
    FROM lat
    """,
    survey_rows="event analytics ext (funnel latency percentiles); A12,M10",
    description="Time-to-conversion distribution: for every user whose "
    "first purchase follows their first view (ev1's strict-order "
    "semantics), the latency between the two, summarized as exact "
    "median/p90 seconds plus funnel counts. Two user-keyed min-ts "
    "aggregations chained by a join (both shuffles on user_id, reusing "
    "one partitioning), then the size-routed percentile block "
    "(aggregations.group_quantiles — exact at graded scale, "
    "percentile_approx above the per-group memory bound). Latency is a "
    "micros-exact epoch difference (Spark cast-to-double == DuckDB "
    "epoch(), the w9/w12 pattern).",
)
def ev4_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    lat = p.join(v, "user_id").select(
        (F.col("t3").cast("double") - F.col("t1").cast("double")).alias("lat_s")
    )
    quants = agg.group_quantiles(
        lat, [], "lat_s", [0.5, 0.9], ["median_latency_s", "p90_latency_s"]
    )
    counts = v.agg(F.count(F.lit(1)).alias("n_viewers")).crossJoin(
        lat.agg(F.count(F.lit(1)).alias("n_converted"))
    )
    return counts.crossJoin(F.broadcast(quants)).select(
        "n_viewers", "n_converted", "median_latency_s", "p90_latency_s"
    )


@register(
    "t36_cross_source_overlap",
    f"""
    WITH {_lower_shingle_ctes('source')},
    totals AS (SELECT source, COUNT(*) AS n_sh FROM sh GROUP BY 1),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT p.src_a, p.src_b, p.n_shared, ta.n_sh AS n_a, tb.n_sh AS n_b,
           FLOOR(p.n_shared * 1.0 / LEAST(ta.n_sh, tb.n_sh) * 1000000)
             / 1000000.0 AS overlap_coef
    FROM pairs p
    JOIN totals ta ON p.src_a = ta.source
    JOIN totals tb ON p.src_b = tb.source
    ORDER BY n_shared DESC, src_a, src_b
    LIMIT 20
    """,
    survey_rows="ext:cross-source contamination matrix; A12,J1,W8",
    description="Cross-source overlap matrix — the 'which sources echo "
    "each other' curation diagnostic (mirror sites, syndicated feeds, "
    "scraped re-posts): distinct 3-token shingles per source, self-joined "
    "on the shingle string to count shared shingles per source pair, with "
    "the overlap coefficient shared/min(|A|,|B|); top-20 pairs. The pair "
    "fan-out per shingle is bounded by source-count² (sources are "
    "thousands at most, not corpus-sized), and the (source, shingle) "
    "distinct table is linear in corpus size — for extreme source counts "
    "a shingle source-frequency cap composes exactly like t2's doc-freq "
    "cap. TakeOrderedAndProject for the top-k.",
)
def t36_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _lower_shingles(spark, sf_dir, ["source"])
    totals = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    pairs = (
        sh.toDF("src_a", "shingle")
        .join(sh.toDF("src_b", "shingle"), "shingle")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        pairs.join(totals.toDF("src_a", "n_a"), "src_a")
        .join(totals.toDF("src_b", "n_b"), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            "n_a",
            "n_b",
            q6(
                F.col("n_shared") * 1.0 / F.least(F.col("n_a"), F.col("n_b"))
            ).alias("overlap_coef"),
        )
        .orderBy(F.desc("n_shared"), "src_a", "src_b")
        .limit(20)
    )


@register(
    "ev5_rfm_segmentation",
    """
    WITH anchor AS (SELECT MAX(ts) AS mx FROM events),
    rfm AS (
      SELECT e.user_id,
             (epoch(a.mx) - epoch(MAX(e.ts))) / 86400.0 AS recency_d,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(e.value AS DECIMAL(27,6))) AS DOUBLE) AS monetary
      FROM events e, anchor a
      WHERE e.ts IS NOT NULL AND e.value IS NOT NULL
      GROUP BY e.user_id, a.mx
    ),
    th AS (
      SELECT QUANTILE_CONT(recency_d, 0.25) AS r1, QUANTILE_CONT(recency_d, 0.5) AS r2,
             QUANTILE_CONT(recency_d, 0.75) AS r3,
             QUANTILE_CONT(frequency, 0.25) AS f1, QUANTILE_CONT(frequency, 0.5) AS f2,
             QUANTILE_CONT(frequency, 0.75) AS f3,
             QUANTILE_CONT(monetary, 0.25) AS m1, QUANTILE_CONT(monetary, 0.5) AS m2,
             QUANTILE_CONT(monetary, 0.75) AS m3
      FROM rfm
    ),
    seg AS (
      SELECT r.user_id, r.monetary,
             1 + CASE WHEN r.recency_d > t.r1 THEN 1 ELSE 0 END
               + CASE WHEN r.recency_d > t.r2 THEN 1 ELSE 0 END
               + CASE WHEN r.recency_d > t.r3 THEN 1 ELSE 0 END AS r_bucket,
             1 + CASE WHEN r.frequency > t.f1 THEN 1 ELSE 0 END
               + CASE WHEN r.frequency > t.f2 THEN 1 ELSE 0 END
               + CASE WHEN r.frequency > t.f3 THEN 1 ELSE 0 END AS f_bucket,
             1 + CASE WHEN r.monetary > t.m1 THEN 1 ELSE 0 END
               + CASE WHEN r.monetary > t.m2 THEN 1 ELSE 0 END
               + CASE WHEN r.monetary > t.m3 THEN 1 ELSE 0 END AS m_bucket
      FROM rfm r, th t
    )
    SELECT r_bucket, f_bucket, m_bucket,
           COUNT(*) AS n_users,
           CAST(SUM(CAST(monetary AS DECIMAL(27,6))) AS DOUBLE) AS total_value
    FROM seg GROUP BY 1, 2, 3
    ORDER BY n_users DESC, r_bucket, f_bucket, m_bucket
    LIMIT 20
    """,
    survey_rows="event analytics ext (RFM quartile segmentation); A1,M10,F5",
    description="RFM (recency/frequency/monetary) user segmentation — the "
    "classic behavioral-feature block: per-user recency in days vs the "
    "corpus max timestamp, event count, and decimal-exact value sum; each "
    "metric quartile-bucketed against EXACT percentile boundaries computed "
    "once and broadcast (1 + count of thresholds exceeded), then cell "
    "counts/value over the 4³ segment grid, top-20. Deliberately NOT an "
    "ntile window over all users: a global sort single-partitions at "
    "100 TB, whereas the boundary broadcast + comparison bucketing is one "
    "user-keyed aggregation, one 1-row quantile frame (size-routed exact/"
    "approx), and one small group-by — every shuffle is on user_id or the "
    "tiny grid. Quartile values interpolate identically (QUANTILE_CONT == "
    "Spark exact percentile) and comparisons of identical doubles cannot "
    "drift; monetary sums are decimal-exact; recency is the micros-exact "
    "epoch pattern.",
)
def ev5_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregations import decimal_sum

    ev = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    anchor = ev.agg(F.max("ts").alias("mx"))
    rfm = (
        ev.crossJoin(anchor)
        .groupBy("user_id", "mx")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("frequency"),
            decimal_sum(F.col("value")).alias("monetary"),
        )
        .select(
            "user_id",
            (
                (F.col("mx").cast("double") - F.col("last_ts").cast("double"))
                / F.lit(86400.0)
            ).alias("recency_d"),
            "frequency",
            "monetary",
        )
    )
    # one routing probe + ONE aggregation for all nine thresholds instead
    # of three group_quantiles calls (3 probe counts + 3 agg passes + 2
    # crossJoins — 30 jobs for a 1.4 s query): per-column
    # percentiles are independent aggregates, so computing them in a single
    # agg over the same frame is answer-identical.
    exact = agg.route_exact_percentile(rfm, [], agg.EXACT_PERCENTILE_MAX_GROUP_ROWS)
    th = rfm.agg(
        *agg.quantile_cols("recency_d", [0.25, 0.5, 0.75], ["r1", "r2", "r3"], exact, round_to=None),
        *agg.quantile_cols("frequency", [0.25, 0.5, 0.75], ["f1", "f2", "f3"], exact, round_to=None),
        *agg.quantile_cols("monetary", [0.25, 0.5, 0.75], ["m1", "m2", "m3"], exact, round_to=None),
    )

    def bucket(metric: str, t1: str, t2: str, t3: str) -> F.Column:
        return (
            F.lit(1)
            + F.when(F.col(metric) > F.col(t1), 1).otherwise(0)
            + F.when(F.col(metric) > F.col(t2), 1).otherwise(0)
            + F.when(F.col(metric) > F.col(t3), 1).otherwise(0)
        )

    seg = rfm.crossJoin(F.broadcast(th)).select(
        "user_id",
        "monetary",
        bucket("recency_d", "r1", "r2", "r3").alias("r_bucket"),
        bucket("frequency", "f1", "f2", "f3").alias("f_bucket"),
        bucket("monetary", "m1", "m2", "m3").alias("m_bucket"),
    )
    return (
        seg.groupBy("r_bucket", "f_bucket", "m_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            decimal_sum(F.col("monetary")).alias("total_value"),
        )
        .orderBy(F.desc("n_users"), "r_bucket", "f_bucket", "m_bucket")
        .limit(20)
    )


@register(
    "w19_rolling_distinct_users",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events WHERE ts IS NOT NULL
    ),
    assigned AS (
      SELECT user_id, d + CAST(i AS INT) AS win_end
      FROM ud, LATERAL (SELECT unnest(generate_series(0, 6)) AS i)
    ),
    bounds AS (SELECT MAX(d) AS mx FROM ud)
    SELECT a.win_end, COUNT(DISTINCT a.user_id) AS n_active_7d
    FROM assigned a, bounds b
    WHERE a.win_end <= b.mx
    GROUP BY 1
    ORDER BY 1
    """,
    survey_rows="W-ext (sliding distinct aggregation); W4,W10,A12",
    description="Rolling 7-day distinct active users per day — the "
    "sliding-window DISTINCT aggregate that Spark's window() expansion "
    "gives for free on counts but not on distincts: each (user, day) pair "
    "is assigned to the 7 window-end days it participates in (the same "
    "multi-assignment trick as w10's hop expansion, factor bounded by the "
    "window/slide ratio), then one count-distinct per window end. Two "
    "shuffles total — the (user, day) distinct and the per-window "
    "count-distinct — both hash-partitioned, no sort, no per-user window "
    "frames; at 100 TB the ×7 fan-out happens AFTER the (user, day) "
    "dedup, so it multiplies the already-collapsed daily-active table, "
    "not the raw event log. Trailing partial windows past the last "
    "observed day are dropped on both engines.",
)
def w19_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    ud = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    ).distinct()
    bounds = ud.agg(F.max("d").alias("mx"))
    assigned = ud.select(
        "user_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(6)),
                lambda i: F.date_add(F.col("d"), i),
            )
        ).alias("win_end"),
    )
    return (
        assigned.crossJoin(bounds)
        .filter(F.col("win_end") <= F.col("mx"))
        .groupBy("win_end")
        .agg(F.count_distinct("user_id").alias("n_active_7d"))
        .orderBy("win_end")
    )


@register(
    "ev6_linear_attribution",
    """
    WITH purchases AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase' AND ts IS NOT NULL AND value IS NOT NULL
    ),
    touches AS (
      SELECT user_id, ts, event_type FROM events
      WHERE event_type IN ('view', 'click') AND ts IS NOT NULL
    ),
    matched AS (
      SELECT p.event_id, p.value, t.event_type
      FROM purchases p JOIN touches t
        ON p.user_id = t.user_id
       AND t.ts < p.ts
       AND t.ts >= p.ts - INTERVAL 24 HOURS
    ),
    counted AS (
      SELECT event_id, value, event_type,
             COUNT(*) OVER (PARTITION BY event_id) AS n_touch
      FROM matched
    ),
    attributed AS (
      SELECT event_type,
             FLOOR(value / n_touch * 1000000) / 1000000.0 AS share
      FROM counted
      UNION ALL
      SELECT 'unattributed' AS event_type,
             FLOOR(value * 1000000) / 1000000.0 AS share
      FROM purchases p
      WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.event_id = p.event_id)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_shares,
           CAST(SUM(CAST(share AS DECIMAL(27,6))) AS DOUBLE) AS attributed_revenue
    FROM attributed GROUP BY 1
    """,
    survey_rows="event analytics ext (multi-touch attribution); J2,J8,W1",
    description="Linear multi-touch attribution: every purchase's value is "
    "split equally across the user's view/click touchpoints in the "
    "preceding 24 h; purchases with no touchpoint report as "
    "'unattributed'. The touch match is an equi-join on user_id with a "
    "time-band residual filter (j8's range-join shape — never a cross "
    "product; per-user event counts bound the join fan-out), the per-"
    "purchase touch count is a window keyed by the purchase id (shuffle "
    "already on that key from the join), and the no-touch remainder is a "
    "left-anti join. Each share value/n is one IEEE-exact division, 6-dp "
    "floored, decimal-summed.",
)
def ev6_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregations import decimal_sum

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(
        (F.col("event_type") == "purchase")
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    ).select("event_id", "user_id", F.col("ts").alias("p_ts"), "value")
    touches = ev.filter(
        F.col("event_type").isin("view", "click") & F.col("ts").isNotNull()
    ).select("user_id", F.col("ts").alias("t_ts"), F.col("event_type").alias("touch_type"))
    matched = (
        purchases.join(touches, "user_id")
        .filter(
            (F.col("t_ts") < F.col("p_ts"))
            & (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS"))
        )
        .select("event_id", "value", "touch_type")
    )
    counted = matched.withColumn(
        "n_touch", F.count(F.lit(1)).over(Window.partitionBy("event_id"))
    )
    shares = counted.select(
        F.col("touch_type").alias("event_type"),
        q6(F.col("value") / F.col("n_touch")).alias("share"),
    )
    unattributed = (
        purchases.join(
            matched.select("event_id").distinct(), "event_id", "left_anti"
        )
        .select(
            F.lit("unattributed").alias("event_type"),
            q6(F.col("value")).alias("share"),
        )
    )
    return (
        shares.unionByName(unattributed)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_shares"),
            decimal_sum(F.col("share")).alias("attributed_revenue"),
        )
    )


@register(
    "t37_jaccard_threshold_sweep",
    f"""
    WITH {_ngram_jaccard_ctes()},
    pairs AS (
      SELECT id_a, id_b,
             n_common / (ca.n + cb.n - n_common) AS jaccard{_SQL_JACCARD_VERIFIED}
    ),
    banded AS (
      SELECT LEAST(CAST(FLOOR(jaccard * 10) AS INT), 9) AS band,
             id_a, id_b
      FROM pairs
    ),
    pc AS (
      SELECT band, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM banded GROUP BY 1
    ),
    docs AS (
      SELECT band, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM (
        SELECT band, id_a AS doc_id FROM banded
        UNION ALL SELECT band, id_b FROM banded
      ) GROUP BY 1
    )
    SELECT pc.band, pc.n_pairs, docs.n_docs
    FROM pc JOIN docs USING (band)
    ORDER BY band
    """,
    survey_rows="ext:dedup threshold sensitivity; A12,F5",
    description="Near-dup threshold sensitivity sweep — the 'how many "
    "pairs/docs does each Jaccard cut remove' ablation a curation run "
    "does before committing to a threshold: t2's exact pair graph (>=0.5, "
    "doc-freq-capped) banded by FLOOR(jaccard·10) with pair and "
    "distinct-document counts per band. Reuses the session-shared "
    "localCheckpointed pair graph (same materialization as t2/t10 — the "
    "sweep itself adds one explode and two small aggregations, NOT a "
    "second shingle self-join). The band edge is a FLOOR of an identical "
    "IEEE division on both engines, so banding cannot straddle.",
)
def t37_jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _ngram_pairs_shared(spark, sf_dir)
    banded = pairs.select(
        F.least(F.floor(F.col("jaccard") * 10).cast("int"), F.lit(9)).alias(
            "band"
        ),
        "id_a",
        "id_b",
    )
    pair_counts = banded.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    docs_per_band = (
        banded.select("band", F.col("id_a").alias("doc_id"))
        .unionByName(banded.select("band", F.col("id_b").alias("doc_id")))
        .groupBy("band")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
    )
    return (
        pair_counts.join(docs_per_band, "band")
        .select("band", "n_pairs", "n_docs")
        .orderBy("band")
    )


#: The item id an event carries in ``props.k`` (NULL when it has none).
_SQL_ITEM = "CAST(json_extract(props, '$.k') AS INT) AS item"

#: The distinct (user, item) pairs of the item-carrying events: the
#: co-visitation graph r1, r2 and g1–g7 build on.
_SQL_UI_CTE = f"""ui AS (
      SELECT DISTINCT user_id, {_SQL_ITEM}
      FROM events WHERE json_extract(props, '$.k') IS NOT NULL
    )"""


@register(
    "r1_item_covisitation",
    f"""
    WITH {_SQL_UI_CTE},
    nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM ui),
    cnt AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n FROM ui GROUP BY 1),
    pairs AS (
      SELECT a.item AS item_a, b.item AS item_b, CAST(COUNT(*) AS BIGINT) AS n_co
      FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
      GROUP BY 1, 2
    )
    SELECT p.item_a, p.item_b, p.n_co, ca.n AS n_a, cb.n AS n_b,
           FLOOR(p.n_co * u.n_users / (ca.n * cb.n) * 1000000) / 1000000.0
             AS lift,
           FLOOR(p.n_co / SQRT(ca.n * cb.n) * 1000000) / 1000000.0 AS cosine
    FROM pairs p
    JOIN cnt ca ON p.item_a = ca.item
    JOIN cnt cb ON p.item_b = cb.item
    CROSS JOIN nu u
    ORDER BY n_co DESC, item_a, item_b
    LIMIT 20
    """,
    survey_rows="ext:recommender co-occurrence (market basket); J1,A12,W8",
    description="Item co-visitation — the 'users who touched X also "
    "touched Y' market-basket/recommender-data shape: items from the "
    "semi-structured props payload (f17's VARIANT extraction), distinct "
    "(user, item) pairs self-joined per user for co-occurrence counts, "
    "scored with lift (co·N / n_a·n_b) and co-occurrence cosine "
    "(co/√(n_a·n_b)), top-20 pairs. Scale shape: the self-join is keyed "
    "on user_id, so the pair fan-out is Σ per-user-items² — bounded by "
    "the per-user basket size, never corpus²; at 100 TB heavy users get "
    "a basket cap (top-k items per user by recency) exactly like t2's "
    "doc-freq cap. Item counts broadcast; the user-count anchor is a "
    "1-row broadcast; TakeOrderedAndProject top-k. All metrics are "
    "single IEEE divisions/sqrt of exact integers, 6-dp floored.",
)
def r1_item_covisitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ui, co = _covis_shared(spark, sf_dir)
    nu = ui.agg(F.count_distinct("user_id").alias("n_users"))
    cnt = ui.groupBy("item").agg(F.count(F.lit(1)).alias("n"))
    pairs = co.toDF("item_a", "item_b", "n_co")
    return (
        pairs.join(cnt.toDF("item_a", "n_a"), "item_a")
        .join(cnt.toDF("item_b", "n_b"), "item_b")
        .crossJoin(nu)
        .select(
            "item_a",
            "item_b",
            "n_co",
            "n_a",
            "n_b",
            q6(
                F.col("n_co") * F.col("n_users") / (F.col("n_a") * F.col("n_b"))
            ).alias("lift"),
            q6(F.col("n_co") / F.sqrt(F.col("n_a") * F.col("n_b"))).alias(
                "cosine"
            ),
        )
        .orderBy(F.desc("n_co"), "item_a", "item_b")
        .limit(20)
    )


@register(
    "f18_winsorized_stats",
    f"""
    WITH vals AS (
      SELECT event_type, value FROM events WHERE value IS NOT NULL
    ),
    th AS (
      SELECT QUANTILE_CONT(value, 0.05) AS lo, QUANTILE_CONT(value, 0.95) AS hi
      FROM vals
    ),
    wins AS (
      SELECT v.event_type,
             CASE WHEN v.value < t.lo THEN t.lo
                  WHEN v.value > t.hi THEN t.hi
                  ELSE v.value END AS w
      FROM vals v, th t
    )
    SELECT event_type,
           COUNT(*) AS n,
           {SQL_Q6(SQL_DAVG('w'))} AS wins_mean,
           MIN(w) AS wins_min, MAX(w) AS wins_max
    FROM wins GROUP BY 1
    """,
    survey_rows="F-ext (winsorization / robust normalization); F12,M10",
    description="Winsorized statistics — the robust-normalization step "
    "(clip at the corpus p5/p95 before aggregating, so a handful of "
    "outliers can't own the mean): exact percentile bounds computed once "
    "and broadcast (size-routed exact/approx, ev5's pattern), the clamp "
    "is a pure projection, and the stats are one hash aggregation. "
    "Unlike f12's fixed-constant clamp, the bounds are data-derived. "
    "Clamped values are either original doubles or the broadcast "
    "boundary — both bit-identical across engines — and the mean is "
    "decimal-exact.",
)
def f18_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregations import decimal_avg

    vals = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    th = agg.group_quantiles(
        vals, [], "value", [0.05, 0.95], ["lo", "hi"], round_to=None
    )
    w = (
        F.when(F.col("value") < F.col("lo"), F.col("lo"))
        .when(F.col("value") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("value"))
    )
    wins = vals.crossJoin(F.broadcast(th)).select("event_type", w.alias("w"))
    return wins.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        q6(decimal_avg(F.col("w"))).alias("wins_mean"),
        F.min("w").alias("wins_min"),
        F.max("w").alias("wins_max"),
    )


@register(
    "f19_target_encoding",
    """
    WITH base AS (
      SELECT c.c_mktsegment AS cat,
             CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    g AS (
      SELECT CAST(SUM(y) AS BIGINT) AS gy, CAST(COUNT(*) AS BIGINT) AS gn
      FROM base
    ),
    per_cat AS (
      SELECT cat, CAST(SUM(y) AS BIGINT) AS cy, CAST(COUNT(*) AS BIGINT) AS cn
      FROM base GROUP BY 1
    )
    SELECT p.cat,
           p.cn AS n,
           FLOOR(p.cy * 1.0 / p.cn * 1000000) / 1000000.0 AS raw_rate,
           FLOOR((p.cy + 20.0 * (g.gy * 1.0 / g.gn)) / (p.cn + 20.0)
                 * 1000000) / 1000000.0 AS encoded
    FROM per_cat p, g
    ORDER BY cat
    """,
    survey_rows="F-ext (smoothed target encoding); A4,J1,§2.9",
    description="Smoothed target encoding — the categorical-feature "
    "transform (encode a category by its shrunk target rate, "
    "(Σy + m·global_rate)/(n + m), m=20) used to feed categorical "
    "columns into numeric models without one-hot blow-up: one fact⋈dim "
    "broadcast join, one per-category aggregation, a 1-row global-rate "
    "broadcast. All counts are exact integers; each rate is one IEEE "
    "division of identical integers on both engines, 6-dp floored. At "
    "100 TB the encoding table (category-cardinality rows) broadcasts "
    "back for the actual feature join — the same shape as the lookup "
    "join j6.",
)
def f19_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    base = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("cat"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    g = base.agg(
        F.sum("y").alias("gy"), F.count(F.lit(1)).alias("gn")
    )
    per_cat = base.groupBy("cat").agg(
        F.sum("y").alias("cy"), F.count(F.lit(1)).alias("cn")
    )
    return (
        per_cat.crossJoin(g)
        .select(
            "cat",
            F.col("cn").alias("n"),
            q6(F.col("cy") * 1.0 / F.col("cn")).alias("raw_rate"),
            q6(
                (F.col("cy") + F.lit(20.0) * (F.col("gy") * 1.0 / F.col("gn")))
                / (F.col("cn") + F.lit(20.0))
            ).alias("encoded"),
        )
        .orderBy("cat")
    )


@register(
    "dq6_join_key_skew",
    """
    WITH kc AS (
      SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(MAX(c) AS BIGINT) AS max_rows_per_key,
           ROUND(QUANTILE_CONT(c, 0.99), 6) AS p99_rows_per_key,
           FLOOR(MAX(c) * COUNT(*) * 1.0 / SUM(c) * 1000000) / 1000000.0
             AS skew_ratio
    FROM kc
    """,
    survey_rows="DQ-ext (join-key skew audit); A12,M10",
    description="Join-key skew audit — the pre-flight diagnostic a "
    "100 TB join needs before choosing salting/AQE-skew handling: key "
    "cardinality, max and p99 rows-per-key, and the max/mean skew ratio "
    "for the lineitem⋈orders key. One hash aggregation to key counts "
    "(map-side combining — the scan never shuffles raw rows) and a "
    "second tiny aggregation over the key-count frame with the "
    "size-routed percentile. The output tells you whether "
    "operators/skew.py's salting is needed (ratio ≈ 1 means no).",
)
def dq6_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    kc = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    )
    exact = agg.route_exact_percentile(kc, [], agg.EXACT_PERCENTILE_MAX_GROUP_ROWS)
    return kc.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("n_rows"),
        F.max("c").alias("max_rows_per_key"),
        *agg.quantile_cols("c", [0.99], ["p99_rows_per_key"], exact),
    ).select(
        "n_keys",
        "n_rows",
        "max_rows_per_key",
        "p99_rows_per_key",
        q6(
            F.col("max_rows_per_key") * F.col("n_keys") * 1.0 / F.col("n_rows")
        ).alias("skew_ratio"),
    )


def _mm6_dft_sql() -> str:
    """Generated oracle for mm6: the sample re-derivation CTEs plus the
    SAME integer-quantized DFT basis the Spark decoder uses
    (``multimodal.dft_quantized_basis`` — computed once in Python,
    embedded as VALUES literals here), correlation sums in exact decimal,
    final squaring in double with identical association."""
    from ..operators.multimodal import dft_quantized_basis

    def values_rows(period: int) -> str:
        cq, sq = dft_quantized_basis(period)
        return ", ".join(f"({r}, {c}, {s})" for r, (c, s) in enumerate(zip(cq, sq)))

    m4, m8 = 64, 32
    return f"""
    WITH {_audio_sample_ctes()},
    c4(r, c, s) AS (VALUES {values_rows(m4)}),
    c8(r, c, s) AS (VALUES {values_rows(m8)}),
    sums AS (
      SELECT smp.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_samples,
             CAST(SUM(CAST(smp.s * t4.c AS DECIMAL(38,0))) AS BIGINT) AS sc4,
             CAST(SUM(CAST(smp.s * t4.s AS DECIMAL(38,0))) AS BIGINT) AS ss4,
             CAST(SUM(CAST(smp.s * t8.c AS DECIMAL(38,0))) AS BIGINT) AS sc8,
             CAST(SUM(CAST(smp.s * t8.s AS DECIMAL(38,0))) AS BIGINT) AS ss8
      FROM samples smp
      JOIN c4 t4 ON smp.si % {m4} = t4.r
      JOIN c8 t8 ON smp.si % {m8} = t8.r
      GROUP BY 1
    )
    SELECT doc_id, n_samples,
           (CAST(sc4 AS DOUBLE) * CAST(sc4 AS DOUBLE))
             + (CAST(ss4 AS DOUBLE) * CAST(ss4 AS DOUBLE)) AS e_band4,
           (CAST(sc8 AS DOUBLE) * CAST(sc8 AS DOUBLE))
             + (CAST(ss8 AS DOUBLE) * CAST(ss8 AS DOUBLE)) AS e_band8
    FROM sums
    """


@register(
    "mm6_audio_dft_bands",
    _mm6_dft_sql(),
    survey_rows="ext:multimodal-audio (spectral band energy, DFT); §2.9",
    description="REAL spectral analysis on binary audio: decode the mono "
    "PCM16 WAV payload (mm3's RIFF walker) and compute two DFT bin "
    "energies (k=4 and k=8 of the 256-sample window) in Arrow-batched "
    "mapInPandas — the feature a speech/audio curation pipeline uses for "
    "band-energy screening. Cross-engine exactness WITHOUT trusting any "
    "engine's cos/sin: the DFT basis is integer-quantized ONCE in Python "
    "(multimodal.dft_quantized_basis) and embedded on both sides (the s3 "
    "hyperplane-constants trick), the correlation sums are exact int64/"
    "decimal, and only the final squaring runs in float64 — identically "
    "associated, hence bit-identical. Partition-local decode, no "
    "shuffle; the fixture payloads are SQL-rederivable md5 bytes, so the "
    "oracle proves encode → RIFF parse → spectral feature end-to-end.",
)
def mm6_audio_dft_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_wav_payloads, decode_audio_dft_bands

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return decode_audio_dft_bands(attach_wav_payloads(docs)).select(
        "doc_id", "n_samples", "e_band4", "e_band8"
    )


@register(
    "m17_levene_brown_forsythe",
    f"""
    WITH vals AS (
      SELECT event_type, value FROM events WHERE value IS NOT NULL
    ),
    med AS (
      SELECT event_type, QUANTILE_CONT(value, 0.5) AS med FROM vals GROUP BY 1
    ),
    z AS (
      SELECT v.event_type,
             FLOOR(ABS(v.value - m.med) * 1000000) / 1000000.0 AS z
      FROM vals v JOIN med m USING (event_type)
    ),
    s AS (
      SELECT event_type AS grp, COUNT(z) AS n,
             CAST(SUM(CAST(z AS DECIMAL(27,6))) AS DOUBLE) AS sx,
             CAST(FLOOR(SUM(CAST(z AS DECIMAL(19,6)) * CAST(z AS DECIMAL(19,6)))) AS DOUBLE) AS sxx
      FROM z GROUP BY 1
    ),
    {_SQL_ANOVA_TOTALS}
    SELECT k, "N",
           {SQL_Q6(_SQL_ANOVA_F)} AS w_stat,
           k - 1 AS df_between,
           "N" - k AS df_within
    FROM t
    """,
    survey_rows="M-ext (Brown-Forsythe/Levene variance homogeneity); M4,M10",
    description="Brown-Forsythe test (Levene with median centering) for "
    "homogeneity of variances across event types — the assumption check "
    "that decides whether M4's ANOVA or M2's Welch route applies: "
    "z = |x − group median| (exact percentile medians, size-routed), "
    "6-dp floor-quantized so every downstream decimal cast is exact, "
    "then the one-way ANOVA F machinery on z (stats/inference.py:: "
    "anova_oneway — exact decimal sufficient sums re-aggregated over the "
    "tiny per-group frame). Two hash aggregations + one broadcast median "
    "join; the float formula applies once to identical sums.",
)
def m17_levene_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..stats.inference import anova_oneway

    vals = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    med = agg.group_quantiles(
        vals, ["event_type"], "value", [0.5], ["med"], round_to=None
    )
    z = vals.join(F.broadcast(med), "event_type").select(
        "event_type", q6(F.abs(F.col("value") - F.col("med"))).alias("z")
    )
    out = anova_oneway(z, "event_type", "z")
    return out.select(
        "k",
        "N",
        q6(F.col("f_stat")).alias("w_stat"),
        "df_between",
        "df_within",
    )


@register(
    "dq7_data_gaps",
    """
    WITH e AS (
      SELECT event_type, event_id, ts FROM events WHERE ts IS NOT NULL
    ),
    lagged AS (
      SELECT event_type, ts,
             LAG(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev
      FROM e
    )
    SELECT event_type, prev AS gap_start, ts AS gap_end,
           epoch(ts) - epoch(prev) AS gap_s
    FROM lagged
    WHERE prev IS NOT NULL AND epoch(ts) - epoch(prev) > 1800
    ORDER BY gap_s DESC, event_type, gap_start
    LIMIT 20
    """,
    survey_rows="DQ-ext (ingestion outage detection); W1,W9",
    description="Data-gap audit — the 'when did ingestion go dark' "
    "diagnostic (the reference's cron feed showed exactly this failure "
    "mode: its uptime claims in BASELINE.md imply gap monitoring): per "
    "event type, the top-20 longest silences, i.e. consecutive-event "
    "spans over 30 minutes. One lag window partitioned by type with a "
    "unique tie-break (w1's single-shuffle shape) and a "
    "TakeOrderedAndProject — at scale this runs per partition-pruned "
    "day-slice, not over all history. Gap seconds are the micros-exact "
    "epoch pattern, so the filter and ordering cannot drift.",
)
def dq7_data_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    lagged = ev.select(
        "event_type", "ts", F.lag("ts").over(w).alias("prev")
    )
    gap_s = F.col("ts").cast("double") - F.col("prev").cast("double")
    return (
        lagged.filter(F.col("prev").isNotNull() & (gap_s > 1800))
        .select(
            "event_type",
            F.col("prev").alias("gap_start"),
            F.col("ts").alias("gap_end"),
            gap_s.alias("gap_s"),
        )
        .orderBy(F.desc("gap_s"), "event_type", "gap_start")
        .limit(20)
    )


@register(
    "m18_two_proportion_ztest",
    f"""
    WITH s AS (
      SELECT
        CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN event_type = 'click' AND value > 250 THEN 1 ELSE 0 END) AS BIGINT) AS x1,
        CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        CAST(SUM(CASE WHEN event_type = 'purchase' AND value > 250 THEN 1 ELSE 0 END) AS BIGINT) AS x2
      FROM events WHERE value IS NOT NULL
    ),
    f AS (
      SELECT n1, x1, n2, x2,
             (x1 + x2) * 1.0 / (n1 + n2) AS p
      FROM s
    )
    SELECT n1, x1, n2, x2,
           CASE WHEN p > 0 AND p < 1 AND n1 > 0 AND n2 > 0 THEN
             {SQL_Q6('''(x1 * 1.0 / n1 - x2 * 1.0 / n2)
               / SQRT(p * (1.0 - p) * (1.0 / n1 + 1.0 / n2))''')}
           END AS z
    FROM f
    """,
    survey_rows="M-ext (two-proportion z-test); A4,M2",
    description="Two-proportion z-test — the A/B-test primitive (is the "
    "high-value rate different between click and purchase events?): "
    "pooled-proportion z from four exact integer counts in ONE scan "
    "(conditional aggregation, no join, no second pass), the float "
    "formula applied once to identical integers on both engines, "
    "degenerate pools (p∈{{0,1}} or an empty arm) guarded to NULL.",
)
def m18_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = ev.agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("n1"),
        F.sum(
            F.when((F.col("event_type") == "click") & (F.col("value") > 250), 1).otherwise(0)
        ).alias("x1"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n2"),
        F.sum(
            F.when((F.col("event_type") == "purchase") & (F.col("value") > 250), 1).otherwise(0)
        ).alias("x2"),
    )
    p = (F.col("x1") + F.col("x2")) * F.lit(1.0) / (F.col("n1") + F.col("n2"))
    withp = s.select("n1", "x1", "n2", "x2", p.alias("p"))
    z = (
        F.col("x1") * F.lit(1.0) / F.col("n1")
        - F.col("x2") * F.lit(1.0) / F.col("n2")
    ) / F.sqrt(
        F.col("p")
        * (F.lit(1.0) - F.col("p"))
        * (F.lit(1.0) / F.col("n1") + F.lit(1.0) / F.col("n2"))
    )
    guard = (
        (F.col("p") > 0)
        & (F.col("p") < 1)
        & (F.col("n1") > 0)
        & (F.col("n2") > 0)
    )
    return withp.select(
        "n1", "x1", "n2", "x2", F.when(guard, q6(z)).alias("z")
    )


def _drift_report(dims: DataFrame) -> DataFrame:
    """e2/st10's drift summary over per-dimension half means ``(d, m0,
    m1)``, from the batch or the stream: the L2 norm of the centroid
    shift, the largest per-dimension shift and its lowest dimension."""
    diff = F.col("m1") - F.col("m0")
    diffs = dims.select(
        "d",
        q6(diff * diff).alias("d2"),
        q6(F.abs(diff)).alias("ad"),
    )
    mx = diffs.agg(F.max("ad").alias("mx"))
    return (
        diffs.crossJoin(mx)
        .agg(
            F.count(F.lit(1)).alias("n_dims"),
            q6(
                F.sqrt(F.sum(F.col("d2").cast("decimal(27,6)")).cast("double"))
            ).alias("drift_l2"),
            F.max("ad").alias("max_dim_shift"),
            F.min(
                F.when(F.col("ad") == F.col("mx"), F.col("d"))
            ).cast("long").alias("top_dim"),
        )
    )


@register(
    "e2_embedding_drift",
    """
    WITH elems AS (
      SELECT e.vec_id % 2 AS half, d.d,
             FLOOR(CAST(e.embedding[d.d] AS DOUBLE) * 1000000) / 1000000.0 AS x
      FROM embeddings e, LATERAL (
        SELECT unnest(generate_series(1, 64)) AS d
      ) d
      WHERE e.embedding IS NOT NULL
    ),
    dims AS (
      SELECT d,
             CAST(SUM(CASE WHEN half = 0 THEN CAST(x AS DECIMAL(27,6)) END) AS DOUBLE)
               / SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS m0,
             CAST(SUM(CASE WHEN half = 1 THEN CAST(x AS DECIMAL(27,6)) END) AS DOUBLE)
               / SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS m1
      FROM elems GROUP BY 1
    ),
    diffs AS (
      SELECT d, FLOOR((m1 - m0) * (m1 - m0) * 1000000) / 1000000.0 AS d2,
             FLOOR(ABS(m1 - m0) * 1000000) / 1000000.0 AS ad
      FROM dims
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_dims,
           FLOOR(SQRT(CAST(SUM(CAST(d2 AS DECIMAL(27,6))) AS DOUBLE)) * 1000000)
             / 1000000.0 AS drift_l2,
           MAX(ad) AS max_dim_shift,
           CAST(MIN(CASE WHEN ad = (SELECT MAX(ad) FROM diffs) THEN d END) AS BIGINT)
             AS top_dim
    FROM diffs
    """,
    survey_rows="ext:embedding drift monitoring; A1,similarity family",
    description="Embedding drift detection — the ML-ops check that a "
    "re-embedded or newly-ingested corpus still lives in the same space "
    "(centroid shift between the two vec_id-parity halves standing in "
    "for old/new snapshots): per-dimension exact-decimal means on the "
    "6-dp-floored float32 values (so every decimal cast is exact), the "
    "L2 norm of the 64-dim centroid difference, the worst-shifted "
    "dimension, and its magnitude. One explode + one 64-group hash "
    "aggregation + a 64-row reduction — the per-dim mean frame is "
    "dimension-sized, never corpus-sized, so the same plan holds at "
    "100 TB. Every product is floored before the decimal sum and the "
    "final sqrt runs on identical doubles.",
)
def e2_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    elems = emb.select(
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("p", "xf"),
    ).select(
        "half",
        (F.col("p") + 1).alias("d"),
        q6(F.col("xf").cast("double")).alias("x"),
    )
    halfsum = lambda h: (  # noqa: E731
        F.sum(F.when(F.col("half") == h, F.col("x").cast("decimal(27,6)"))).cast(
            "double"
        )
        / F.sum(F.when(F.col("half") == h, 1).otherwise(0))
    )
    return _drift_report(
        elems.groupBy("d").agg(halfsum(0).alias("m0"), halfsum(1).alias("m1"))
    )


@register(
    "m19_lag1_autocorrelation",
    """
    WITH base AS (
      SELECT event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS xc,
             event_id, ts
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    ),
    lagged AS (
      SELECT event_type, xc AS y,
             LAG(xc) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS x
      FROM base
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy
      FROM lagged WHERE x IS NOT NULL
      GROUP BY 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
           CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
                THEN ROUND((n * sxy - sx * sy)
                     / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
           END AS acf1
    FROM s
    """,
    survey_rows="M-ext (lag-1 autocorrelation); M13,W1",
    description="Lag-1 autocorrelation of event values per type — the "
    "time-series diagnostic (is the value stream i.i.d. or sticky?) that "
    "complements m13's cross-correlation: consecutive (prev, curr) pairs "
    "from w1's single-shuffle lag window with a unique tie-break, then "
    "Pearson on the pair stream from exact integer sufficient statistics "
    "(cents in DECIMAL(38,0), the m13 discipline) — one window + one "
    "aggregation, the float formula applied once to identical integers, "
    "zero-variance series guarded to NULL.",
)
def m19_lag1_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    base = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("xc"),
        "event_id",
        "ts",
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    lagged = base.select(
        "event_type",
        F.col("xc").alias("y"),
        F.lag("xc").over(w).alias("x"),
    ).filter(F.col("x").isNotNull())
    dec = lambda c: F.sum(c.cast("decimal(38,0)")).cast("double")  # noqa: E731
    s = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec(F.col("x")).alias("sx"),
        dec(F.col("y")).alias("sy"),
        dec(F.col("x") * F.col("x")).alias("sxx"),
        dec(F.col("y") * F.col("y")).alias("syy"),
        dec(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    denom = (n * sxx - sx * sx) * (n * syy - sy * sy)
    acf1 = (n * sxy - sx * sy) / F.sqrt(denom)
    return s.select(
        "event_type",
        n.cast("long").alias("n_pairs"),
        F.when(denom > 0, F.round(acf1, 6)).alias("acf1"),
    )


def _g1_pagerank_sql() -> str:
    """Generated oracle for g1: the co-visitation edge CTEs plus 3
    chained PageRank steps (no recursive CTE — the iteration count is a
    plan-construction constant on BOTH engines, exactly like the Spark
    loop). Every rank and every per-edge share is 6-dp floor-quantized
    before the exact decimal sum, so float drift cannot accumulate across
    iterations."""
    step_tpl = """
    it{next} AS (
      SELECT e.dst AS item,
             FLOOR(({base} / nn.n + {damping} *
               CAST(SUM(CAST(FLOOR(p.pr / d.deg * 1000000) / 1000000.0
                    AS DECIMAL(27,6))) AS DOUBLE)) * 1000000) / 1000000.0 AS pr
      FROM edges e
      JOIN it{cur} p ON p.item = e.src
      JOIN deg d ON d.src = e.src
      CROSS JOIN nn
      GROUP BY e.dst, nn.n
    )"""
    steps = ",".join(
        step_tpl.format(next=i + 1, cur=i, base="0.15", damping="0.85")
        for i in range(3)
    )
    return f"""
    WITH {_SQL_UI_CTE},
    pairs AS (
      SELECT a.item AS i, b.item AS j, COUNT(*) AS c
      FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
      GROUP BY 1, 2 HAVING COUNT(*) >= 5
    ),
    edges AS (
      SELECT i AS src, j AS dst FROM pairs
      UNION ALL SELECT j AS src, i AS dst FROM pairs
    ),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
    nodes AS (SELECT DISTINCT src AS item FROM edges),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    it0 AS (
      SELECT item, FLOOR(1000000 / nn.n) / 1000000.0 AS pr
      FROM nodes, nn
    ),{steps}
    SELECT p.item, d.deg, p.pr
    FROM it3 p JOIN deg d ON d.src = p.item
    ORDER BY p.pr DESC, p.item
    LIMIT 20
    """


@register(
    "g1_item_pagerank",
    _g1_pagerank_sql(),
    survey_rows="ext:graph-iterative (PageRank); J1,A12,W8",
    description="PageRank over the item co-visitation graph (r1's edges, "
    "co >= 5, symmetrized) — the iterative-graph-algorithm shape done the "
    "DataFrame way: a Python-side loop builds 3 chained join+aggregate "
    "steps (pr/deg shares along edges, damping 0.85), each step one "
    "equi-join on the edge key + one hash aggregation; for deep "
    "iteration counts the loop inserts localCheckpoint to truncate "
    "lineage (the t2/t10 pattern). Cross-engine determinism without a "
    "recursive CTE: the iteration count is a plan constant on both "
    "engines, every rank and per-edge share is 6-dp floor-quantized "
    "before an exact decimal sum, so drift cannot accumulate across "
    "iterations. The only rows-only iterative op before this was KMeans; "
    "PageRank is the fully-oracled proof the engine's iterative shape is "
    "correct.",
)
def g1_item_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, co = _covis_shared(spark, sf_dir)
    pairs = co.filter(F.col("c") >= 5)
    edges = pairs.select(F.col("i").alias("src"), F.col("j").alias("dst")).unionByName(
        pairs.select(F.col("j").alias("src"), F.col("i").alias("dst"))
    )
    # Materialize the edge list ONCE: edges feeds deg, nodes, nn and every
    # loop iteration, and without lineage truncation each of the 3 chained
    # pr steps re-plans and re-executes the whole events->ui->pairs subtree
    # (measured without it: 96 parquet scans / 244 Exchanges in the plan,
    # 3638 plan lines -> planning time alone dominated the query). The
    # checkpoint is one extra job; every consumer after it reads the
    # edge-sized cached partitions. Same fix a billion-edge run needs.
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # deg rides along on the edge row so the loop's per-iteration join count
    # drops from 3 (edges ⋈ pr ⋈ deg ⋈ nn) to 1 (edges_deg ⋈ pr): deg was
    # being re-aggregated from edges inside EVERY iteration, and nn (the
    # node count) re-counted — both are loop constants. n becomes a driver
    # scalar (one count job over the checkpointed frame, constant-size
    # result) spliced in as a literal, arithmetic unchanged.
    edges = osk.materialize(edges.join(deg, "src"))
    nodes = edges.select(F.col("src").alias("item")).distinct()
    n = float(nodes.count())
    pr = nodes.select(
        "item", (F.floor(F.lit(1000000) / F.lit(n)) / F.lit(1000000.0)).alias("pr")
    )
    share = F.floor(F.col("pr") / F.col("deg") * 1000000) / F.lit(1000000.0)
    for _ in range(3):
        pr = (
            edges.join(pr, edges.src == pr.item)
            .select(F.col("dst"), share.alias("share"))
            .groupBy("dst")
            .agg(F.sum(F.col("share").cast("decimal(27,6)")).cast("double").alias("mass"))
            .select(
                F.col("dst").alias("item"),
                q6(F.lit(0.15) / F.lit(n) + F.lit(0.85) * F.col("mass")).alias("pr"),
            )
        )
    return (
        pr.join(edges.select("src", "deg").distinct(), pr.item == F.col("src"))
        .select("item", "deg", "pr")
        .orderBy(F.desc("pr"), "item")
        .limit(20)
    )


@register(
    "g2_triangle_clustering",
    f"""
    WITH {_SQL_UI_CTE},
    e AS (
      SELECT a.item AS i, b.item AS j
      FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
      GROUP BY 1, 2 HAVING COUNT(*) >= 5
    ),
    deg AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        SELECT i AS v FROM e UNION ALL SELECT j AS v FROM e
      ) GROUP BY 1
    ),
    tri AS (
      SELECT e1.i AS a, e1.j AS b, e2.j AS c
      FROM e e1
      JOIN e e2 ON e2.i = e1.j
      JOIN e e3 ON e3.i = e1.i AND e3.j = e2.j
    ),
    pernode AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
        SELECT a AS v FROM tri UNION ALL SELECT b AS v FROM tri
        UNION ALL SELECT c AS v FROM tri
      ) GROUP BY 1
    )
    SELECT d.v AS item, d.deg,
           COALESCE(p.n_tri, 0) AS n_triangles,
           CASE WHEN d.deg >= 2 THEN
             FLOOR(2.0 * COALESCE(p.n_tri, 0) / (d.deg * (d.deg - 1)) * 1000000)
               / 1000000.0
           END AS clustering_coef
    FROM deg d LEFT JOIN pernode p ON p.v = d.v
    ORDER BY n_triangles DESC, item
    LIMIT 20
    """,
    survey_rows="ext:graph-triangles (clustering coefficient); J1,A12",
    description="Triangle counting + local clustering coefficients on the "
    "co-visitation item graph — the graph-density diagnostic that "
    "complements g1's PageRank and t10's connected components: each "
    "triangle is found ONCE via the ordered-edge join (i<j<k — e(i,j) ⋈ "
    "e(j,k) ⋈ closing e(i,k), the standard distributed-triangle "
    "enumeration; at scale edges are oriented low-degree→high-degree "
    "first, which bounds the wedge fan-out by the degeneracy), then each "
    "vertex's triangle count feeds C_v = 2T_v/(deg_v·(deg_v−1)). All "
    "joins are equi-joins on vertex ids; counts are exact integers and "
    "the one coefficient division is floor-quantized.",
)
def g2_triangle_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, co = _covis_shared(spark, sf_dir)
    e = co.filter(F.col("c") >= 5).select("i", "j")
    deg = (
        e.select(F.col("i").alias("v"))
        .unionByName(e.select(F.col("j").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    tri = (
        e.toDF("a", "b")
        .join(e.toDF("b", "c"), "b")
        .join(e.toDF("a", "c"), ["a", "c"])
        .select("a", "b", "c")
    )
    pernode = (
        tri.select(F.col("a").alias("v"))
        .unionByName(tri.select(F.col("b").alias("v")))
        .unionByName(tri.select(F.col("c").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    coef = F.when(
        F.col("deg") >= 2,
        q6(
            F.lit(2.0)
            * F.col("n_triangles")
            / (F.col("deg") * (F.col("deg") - 1))
        ),
    )
    return (
        deg.join(pernode, deg.v == pernode.v, "left")
        .select(
            deg.v.alias("item"),
            "deg",
            F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_triangles"),
        )
        .select("item", "deg", "n_triangles", coef.alias("clustering_coef"))
        .orderBy(F.desc("n_triangles"), "item")
        .limit(20)
    )


@register(
    "w20_cusum_change_point",
    f"""
    WITH vals AS (
      SELECT event_type, event_id, ts, value FROM events
      WHERE value IS NOT NULL AND ts IS NOT NULL
    ),
    mu AS (
      SELECT event_type, {SQL_DAVG('value')} AS mu FROM vals GROUP BY 1
    ),
    dev AS (
      SELECT v.event_type, v.event_id, v.ts,
             FLOOR((v.value - m.mu) * 1000000) / 1000000.0 AS d
      FROM vals v JOIN mu m USING (event_type)
    ),
    cum AS (
      SELECT event_type, event_id, ts,
             CAST(SUM(CAST(d AS DECIMAL(27,6))) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS DOUBLE) AS s
      FROM dev
    ),
    ranked AS (
      SELECT event_type, ts, s,
             ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY ABS(s) DESC, ts, event_id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM cum
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           FLOOR(ABS(s) * 1000000) / 1000000.0 AS max_cusum_abs,
           ts AS change_point_ts
    FROM ranked WHERE rn = 1
    """,
    survey_rows="W-ext (CUSUM change-point detection); W1,M9",
    description="CUSUM change-point detection per event type — the "
    "'did the value distribution shift, and when' monitor: cumulative "
    "sum of mean-centered deviations along event order, with the "
    "maximum-|CUSUM| position reported as the candidate change point. "
    "Deviations are 6-dp floored so the running window SUM is exact "
    "decimal (order-independent within the frame), the cumulative "
    "window and the argmax ranking both partition by type with unique "
    "tie-breaks (w1's shape — at 100 TB the prefix sum routes through "
    "m11's range-bucketed two-phase form), and the type means are "
    "decimal-exact.",
)
def w20_cusum_change_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregations import decimal_avg

    vals = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    mu = vals.groupBy("event_type").agg(decimal_avg(F.col("value")).alias("mu"))
    dev = vals.join(mu, "event_type").select(
        "event_type",
        "event_id",
        "ts",
        q6(F.col("value") - F.col("mu")).alias("d"),
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = dev.select(
        "event_type",
        "event_id",
        "ts",
        F.sum(F.col("d").cast("decimal(27,6)")).over(w_cum).cast("double").alias("s"),
    )
    w_rank = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("s")).desc(), F.col("ts").asc(), F.col("event_id").asc()
    )
    ranked = cum.select(
        "event_type",
        "ts",
        "s",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        q6(F.abs(F.col("s"))).alias("max_cusum_abs"),
        F.col("ts").alias("change_point_ts"),
    )


@register(
    "m20_kaplan_meier",
    """
    WITH u AS (
      SELECT user_id, MIN(ts) AS f FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    err AS (
      SELECT user_id, MIN(ts) AS e FROM events
      WHERE event_type = 'error' AND ts IS NOT NULL GROUP BY 1
    ),
    subj AS (
      SELECT u.user_id,
             CASE WHEN err.e IS NOT NULL
                       AND datediff('day', CAST(u.f AS DATE), CAST(err.e AS DATE)) < 3
                  THEN datediff('day', CAST(u.f AS DATE), CAST(err.e AS DATE))
                  ELSE 3 END AS tau,
             CASE WHEN err.e IS NOT NULL
                       AND datediff('day', CAST(u.f AS DATE), CAST(err.e AS DATE)) < 3
                  THEN 1 ELSE 0 END AS died
      FROM u LEFT JOIN err ON u.user_id = err.user_id
    ),
    byday AS (
      SELECT tau AS day, CAST(COUNT(*) AS BIGINT) AS n_total,
             CAST(SUM(died) AS BIGINT) AS n_events
      FROM subj GROUP BY 1
    ),
    risk AS (
      SELECT day, n_events,
             CAST((SELECT COUNT(*) FROM subj)
               - COALESCE(SUM(n_total) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_risk
      FROM byday
    ),
    terms AS (
      SELECT day, n_risk, n_events,
             CASE WHEN n_events < n_risk
                  THEN FLOOR(LN((n_risk - n_events) * 1.0 / n_risk) * 1000000)
                       / 1000000.0
                  ELSE NULL END AS lnterm,
             CASE WHEN n_events >= n_risk THEN 1 ELSE 0 END AS wiped
      FROM risk
    ),
    curve AS (
      SELECT day, n_risk, n_events,
             CAST(SUM(CAST(COALESCE(lnterm, 0) AS DECIMAL(27,6))) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS DOUBLE) AS cumln,
             SUM(wiped) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_wiped
      FROM terms
    )
    SELECT day, n_risk, n_events,
           CASE WHEN n_wiped > 0 THEN 0.0
                ELSE FLOOR(EXP(cumln) * 1000000) / 1000000.0 END AS survival
    FROM curve
    ORDER BY day
    """,
    survey_rows="M-ext (Kaplan-Meier survival, right-censored); M1,W4",
    description="Kaplan-Meier survival curve for time-to-first-error with "
    "administrative right-censoring at a 3-day observation window — the "
    "survival-analysis member of the inference family (churn/failure "
    "curves are this exact shape): per-user duration from first event, "
    "at-risk counts via a reverse cumulative over the tiny per-day frame, "
    "and the product-limit estimator computed in log space — each "
    "ln(1 − d/n) factor is 6-dp floor-bracketed (t31's LN discipline), "
    "the cumulative sum is exact decimal, and the final EXP is bracketed "
    "again, so the product cannot drift across engines; a stratum that "
    "dies out entirely (d = n) pins survival to exactly 0 from there on. "
    "Two user-keyed aggregations + day-frame windows (day-cardinality "
    "sized, never corpus-sized).",
)
def m20_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    u = ev.groupBy("user_id").agg(F.min("ts").alias("f"))
    err = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.min("ts").alias("e"))
    )
    dd = F.datediff(F.col("e").cast("date"), F.col("f").cast("date"))
    in_window = F.col("e").isNotNull() & (dd < 3)
    subj = u.join(err, "user_id", "left").select(
        "user_id",
        F.when(in_window, dd).otherwise(F.lit(3)).alias("tau"),
        F.when(in_window, 1).otherwise(0).alias("died"),
    )
    byday = subj.groupBy(F.col("tau").alias("day")).agg(
        F.count(F.lit(1)).alias("n_total"), F.sum("died").alias("n_events")
    )
    n_all = subj.agg(F.count(F.lit(1)).alias("n_all"))
    w_prior = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    risk = (
        byday.crossJoin(n_all)
        .select(
            "day",
            "n_events",
            (
                F.col("n_all")
                - F.coalesce(F.sum("n_total").over(w_prior), F.lit(0))
            ).alias("n_risk"),
        )
    )
    lnterm = F.when(
        F.col("n_events") < F.col("n_risk"),
        q6(
            F.log(
                (F.col("n_risk") - F.col("n_events"))
                * F.lit(1.0)
                / F.col("n_risk")
            )
        ),
    )
    wiped = F.when(F.col("n_events") >= F.col("n_risk"), 1).otherwise(0)
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    curve = risk.select(
        "day",
        "n_risk",
        "n_events",
        F.sum(F.coalesce(lnterm, F.lit(0.0)).cast("decimal(27,6)"))
        .over(w_cum)
        .cast("double")
        .alias("cumln"),
        F.sum(wiped).over(w_cum).alias("n_wiped"),
    )
    return curve.select(
        "day",
        "n_risk",
        "n_events",
        F.when(F.col("n_wiped") > 0, F.lit(0.0))
        .otherwise(q6(F.exp(F.col("cumln"))))
        .alias("survival"),
    ).orderBy("day")


@register(
    "st10_streaming_drift_monitor",
    CORPUS["e2_embedding_drift"].oracle,
    survey_rows="§2.8 streaming ext (incremental drift monitor); ext:e2 twin",
    description="Streaming twin of e2's embedding-drift monitor — the "
    "shape a production pipeline actually runs (score each incoming "
    "embedding batch against the frozen baseline): the 'new' corpus half "
    "streams through foreachBatch, each micro-batch reduces to "
    "per-dimension MERGEABLE integer partials (dim, count, Σ floor(x·10⁶)) "
    "— 64 rows per batch, state never grows — and the merged partials "
    "reproduce e2's per-dim means BIT-FOR-BIT (integer partials merge "
    "exactly under any micro-batch split; double(Σxi)/10⁶ equals the "
    "decimal-sum-to-double cast because both are correctly-rounded images "
    "of the same rational). The oracle IS e2's oracle — streaming and "
    "batch must agree exactly, which is the strongest split-invariance "
    "statement the gate can express.",
)
def st10_streaming_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.ingest import _table_stream, drift_partials_foreach_batch

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    elems0 = emb.filter(F.col("vec_id") % 2 == 0).select(
        F.posexplode("embedding").alias("p", "xf")
    ).select(
        (F.col("p") + 1).alias("d"), q6(F.col("xf").cast("double")).alias("x")
    )
    m0 = elems0.groupBy("d").agg(
        (
            F.sum(F.col("x").cast("decimal(27,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m0")
    )
    stream = _table_stream(spark, sf_dir, "embeddings.parquet").filter(
        F.col("vec_id") % 2 == 1
    )
    sink: list = []
    drift_partials_foreach_batch(stream, sink)
    rows = [r for _, batch in sink for r in batch]
    partials = local_frame(spark, rows, "d long, cnt long, sxi long")
    m1 = partials.groupBy("d").agg(
        (
            F.sum("sxi").cast("double") / F.lit(1000000.0) / F.sum("cnt")
        ).alias("m1")
    )
    return _drift_report(m0.join(m1, "d"))


def _t38_sketch_audit_sql(dedup_first: bool = False) -> str:
    """Generated oracle for t38: t7's portable MinHash pipeline, but instead
    of dropping the signatures after banding, the candidate pairs are scored
    BOTH ways — MinHash match-fraction estimate AND exact Jaccard — and the
    estimator's error distribution is reported.

    ``dedup_first=True`` mirrors the operator's ``exact_dedup_first``
    routing: the audit runs on one representative (lowest doc_id) per
    verbatim md5(text) group — the representative-level candidate
    distribution, NOT the raw one (see sketch_accuracy_audit's docstring)."""
    docs_src = (
        """(SELECT d.doc_id, d.text FROM documents d
          JOIN (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)) r
          USING (doc_id))"""
        if dedup_first
        else "documents"
    )

    match_sum = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(32)
    )
    return _minhash_verify_ctes(docs_src, "a.doc_id < b.doc_id") + f""",
    est AS (
      SELECT c.id_a, c.id_b,
             ({match_sum}) * 1.0 / 32 AS est_j
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.id_a
      JOIN sig sb ON sb.doc_id = c.id_b
    ),
    scored AS (
      SELECT e.id_a, e.id_b, e.est_j,
             COALESCE(i.n_common, 0) / (ca.n + cb.n - COALESCE(i.n_common, 0))
               AS exact_j
      FROM est e
      LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
      JOIN cnt ca ON e.id_a = ca.doc_id
      JOIN cnt cb ON e.id_b = cb.doc_id
    ),
    errs AS (
      SELECT FLOOR(ABS(est_j - exact_j) * 1000000) / 1000000.0 AS err,
             est_j, exact_j
      FROM scored
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           COALESCE(FLOOR(CAST(SUM(CAST(err AS DECIMAL(27,6))) AS DOUBLE)
                 / COUNT(err) * 1000000) / 1000000.0, 0.0) AS mean_abs_err,
           COALESCE(MAX(err), 0.0) AS max_abs_err,
           CAST(COALESCE(SUM(CASE WHEN est_j >= 0.5 AND exact_j < 0.5
                         THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_false_pos,
           CAST(COALESCE(SUM(CASE WHEN est_j < 0.5 AND exact_j >= 0.5
                         THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_missed
    FROM errs
    """


@register(
    "t38_sketch_accuracy_audit",
    _t38_sketch_audit_sql(),
    survey_rows="ext:sketch-quality audit (MinHash estimator error); approx family",
    description="Sketch-accuracy audit — the 'is 32 hashes enough' "
    "calibration a pipeline runs before trusting MinHash at scale: over "
    "the LSH candidate pairs, the MinHash match-fraction estimate of "
    "Jaccard is compared against the EXACT Jaccard on the shared "
    "shingle-hash sets, reporting mean/max absolute error and the "
    "threshold-crossing disagreements (est>=0.5 vs exact<0.5 and the "
    "reverse) — i.e., a fully-oracled measurement of the estimator the "
    "rows-only approx_sketches family can only smoke-test. Reuses t7's "
    "portable signature pipeline (same generated universal-hash "
    "constants on both engines); the audit adds one signature self-join "
    "on the candidate set (candidate-sized, not corpus-sized) and one "
    "aggregation. Errors are 6-dp floored then decimal-averaged.",
)
def t38_sketch_accuracy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import sketch_accuracy_audit

    docs = _t(spark, sf_dir, "documents")
    # exact_dedup_first=False: the graded audit measures the RAW candidate
    # distribution, byte-identical to the oracle; the duplicate-heavy-corpus
    # routing (collapse first) is the operator's opt-in parameter — see the
    # operator docstring and SCALING.md's 100× probe.
    return sketch_accuracy_audit(
        docs, bands=8, exact_dedup_first=False
    )

@register(
    "m21_kruskal_wallis",
    """
    WITH base AS (
      SELECT value AS v, event_type AS g FROM events WHERE value IS NOT NULL
    ),
    pvg AS (
      SELECT v, g, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY 1, 2
    ),
    pv AS (
      SELECT v, CAST(SUM(c) AS BIGINT) AS t,
             COALESCE(SUM(SUM(c)) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM pvg GROUP BY v
    ),
    r AS (
      SELECT pvg.g, pvg.c, 2 * pv.cb + pv.t + 1 AS r2
      FROM pvg JOIN pv ON pvg.v = pv.v
    ),
    grp AS (
      SELECT g, CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(CAST(c * r2 AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(c * r2 * r2 AS DECIMAL(38,0))) AS DOUBLE) AS sxx
      FROM r GROUP BY g
    ),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS nn,
             CAST(SUM(CAST(sx AS DECIMAL(27,0))) AS DOUBLE) AS sx_tot,
             CAST(SUM(CAST(sxx AS DECIMAL(27,0))) AS DOUBLE) AS sxx_tot,
             CAST(SUM(CAST(FLOOR(sx * sx / n) AS DECIMAL(27,0))) AS DOUBLE) AS sg
      FROM grp
    )
    SELECT k, nn AS n, k - 1 AS df,
           CASE WHEN (sxx_tot - sx_tot * sx_tot / nn) > 0 THEN
             FLOOR((nn - 1) * (sg - sx_tot * sx_tot / nn)
               / (sxx_tot - sx_tot * sx_tot / nn) * 1000000) / 1000000.0
           END AS h_stat,
           CASE WHEN (sxx_tot - sx_tot * sx_tot / nn) > 0 AND nn > k THEN
             FLOOR(((nn - 1) * (sg - sx_tot * sx_tot / nn)
               / (sxx_tot - sx_tot * sx_tot / nn) - k + 1)
               / (nn - k) * 1000000) / 1000000.0
           END AS epsilon_sq
    FROM t
    """,
    survey_rows="M-ext (Kruskal-Wallis k-sample rank test); M4,M-ext(m15)",
    description="Kruskal-Wallis H across all event types (k-sample "
    "nonparametric ANOVA, full tie correction) + the epsilon-squared rank "
    "effect size — completes the rank family (m15 two-sample, m16 "
    "correlation, m21 k-sample). Computed as ANOVA on integer doubled "
    "midranks (2·r̄ = 2·cnt_less + t + 1; H = (N−1)·SSB/SST is "
    "scale-invariant so the doubling cancels and the tie correction is "
    "implicit in SST): per-(value,type) counts, one range-bucketed prefix "
    "sum over distinct values (m11/m15's two-phase pattern — no single-"
    "partition sort at any scale), then m4's floor+decimal re-aggregation "
    "over the k-row frame so the k-term float sum is order-insensitive "
    "(stats/inference.py::kruskal_wallis).",
)
def m21_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..stats.inference import kruskal_wallis

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    out = kruskal_wallis(ev, "event_type", "value")
    return out.select(
        "k", "n", "df", q6(F.col("h_stat")).alias("h_stat"),
        q6(F.col("epsilon_sq")).alias("epsilon_sq"),
    )


@register(
    "t39_zipf_law_fit",
    f"""
    WITH tok AS (
      SELECT unnest({_SQL_WORDS}) AS tok
      FROM documents
    ),
    counts AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY tok
    ),
    topn AS (
      SELECT tf, tok FROM counts ORDER BY tf DESC, tok ASC LIMIT 200
    ),
    pts AS (
      SELECT CAST(FLOOR(LN(ROW_NUMBER() OVER (ORDER BY tf DESC, tok ASC))
                        * 1000000) AS BIGINT) AS xi,
             CAST(FLOOR(LN(tf) * 1000000) AS BIGINT) AS yi
      FROM topn
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(xi) AS DOUBLE) AS sx, CAST(SUM(yi) AS DOUBLE) AS sy,
             CAST(SUM(xi * xi) AS DOUBLE) AS sxx,
             CAST(SUM(xi * yi) AS DOUBLE) AS sxy,
             CAST(SUM(yi * yi) AS DOUBLE) AS syy
      FROM pts
    )
    SELECT n AS n_terms,
           CASE WHEN n * sxx - sx * sx > 0 THEN
             FLOOR((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1000000)
               / 1000000.0
           END AS zipf_slope,
           CASE WHEN n * sxx - sx * sx > 0 THEN
             FLOOR((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
               / 1000000.0 * 1000000) / 1000000.0
           END AS intercept_ln,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
             FLOOR((n * sxy - sx * sy) * (n * sxy - sx * sy)
               / ((n * sxx - sx * sx) * (n * syy - sy * sy)) * 1000000)
               / 1000000.0
           END AS r2
    FROM s
    """,
    survey_rows="ext:corpus-health diagnostics (Zipf rank-frequency fit); "
    "ext:vocabulary building (t21), M7",
    description="Zipf's-law fit: OLS of ln(term frequency) on ln(rank) "
    "over the top-200 vocabulary — the 'does this corpus have a natural "
    "frequency distribution' pre-training health check (template-heavy or "
    "machine-generated corpora flatten the slope and degrade R²). t21's "
    "word count (explode + one hash agg, shuffle bounded at |vocab|) + "
    "TakeOrderedAndProject; the rank window and OLS sufficient sums run "
    "on the 200-row frame only (m14's tiny-frame single-partition "
    "pattern). Both LNs are 6-dp floor-quantized into integers so every "
    "sum is exact; slope/intercept/R² apply once to identical integers "
    "(operators/text.py::zipf_fit).",
)
def t39_zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import zipf_fit

    out = zipf_fit(_t(spark, sf_dir, "documents"))
    return out.select(
        "n_terms",
        q6(F.col("zipf_slope")).alias("zipf_slope"),
        q6(F.col("intercept_ln")).alias("intercept_ln"),
        q6(F.col("r2")).alias("r2"),
    )


def _mm7_ahash_sql() -> str:
    """DuckDB mirror of the perceptual-hash pipeline: re-derive the
    near-dup fixture's md5 pixels (base image keyed on doc_id % 40
    + the one-byte perturbation), then replay aHash in integer SQL —
    nearest-neighbor 8×8 downsample indices, r+g+b cell brightness, strict
    mean threshold via ``br·64 > Σbr`` (no division), 64-bit hash as two
    32-bit halves. Bit-exact end-to-end, no floats anywhere."""
    n = mm.IMAGE_WIDTH * mm.IMAGE_HEIGHT * 3
    return f"""
    WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
    {_md5_bytes_ctes('d', 'd.doc_id % 40', n)},
    perturbed AS (
      SELECT doc_id, idx,
             CASE WHEN idx = (doc_id * 7) % {n}
                  THEN (v + (doc_id // 40) % 7) % 256 ELSE v END AS v
      FROM bytes
    ),
    cells_idx AS (
      SELECT gr.gr * 8 + gc.gc AS gi,
             CAST(FLOOR(gr.gr * {mm.IMAGE_HEIGHT} / 8.0) AS BIGINT) * {mm.IMAGE_WIDTH}
             + CAST(FLOOR(gc.gc * {mm.IMAGE_WIDTH} / 8.0) AS BIGINT) AS pix
      FROM (SELECT unnest(generate_series(0, 7)) AS gr) gr,
           (SELECT unnest(generate_series(0, 7)) AS gc) gc
    ),
    cell AS (
      SELECT b.doc_id, g.gi, SUM(b.v) AS br
      FROM perturbed b JOIN cells_idx g ON b.idx // 3 = g.pix
      GROUP BY 1, 2
    ),
    tot AS (SELECT doc_id, SUM(br) AS total FROM cell GROUP BY 1),
    bits AS (
      SELECT c.doc_id, c.gi,
             CASE WHEN c.br * 64 > t.total THEN 1 ELSE 0 END AS bit
      FROM cell c JOIN tot t ON c.doc_id = t.doc_id
    ),
    hashes AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN gi >= 32
               THEN CAST(bit AS BIGINT) << (gi - 32) ELSE 0 END) AS BIGINT)
               AS hash_hi,
             CAST(SUM(CASE WHEN gi < 32
               THEN CAST(bit AS BIGINT) << gi ELSE 0 END) AS BIGINT)
               AS hash_lo
      FROM bits GROUP BY 1
    )
    SELECT hash_hi, hash_lo, CAST(COUNT(*) AS BIGINT) AS n_members,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc
    FROM hashes GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    """


@register(
    "mm7_image_ahash_neardup",
    _mm7_ahash_sql(),
    survey_rows="ext:multimodal near-dup (perceptual average-hash); "
    "ext:dedup (t8 SimHash analog for binary media)",
    description="Image near-duplicate detection via 64-bit perceptual "
    "average-hash — the multimodal member of the dedup family (t8's "
    "SimHash for binary payloads): REAL PPM decode in Arrow-batched "
    "mapInPandas, integer aHash (8×8 nearest-neighbor downsample, r+g+b "
    "brightness, strict mean threshold — no grayscale division, no "
    "floats), then a hash-bucket group-by reporting every bucket with ≥2 "
    "members. The fixture gives rows sharing doc_id%40 the same base "
    "image plus a one-byte per-row perturbation, so payloads differ "
    "byte-wise while aHash must still bucket them — robustness and "
    "bit-exactness proven together (the oracle re-derives pixels, "
    "perturbation, and the full hash in SQL). Hash split into two int32 "
    "halves so neither engine needs unsigned 64-bit math. Scale: "
    "partition-local hashing, one |buckets|-bounded shuffle — the image "
    "analog of LSH banding, never pairwise pixel comparison "
    "(operators/multimodal.py::image_ahash).",
)
def mm7_image_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_ppm_payloads_neardup, image_ahash

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    hashes = image_ahash(attach_ppm_payloads_neardup(docs))
    return (
        hashes.filter(F.col("hash_hi").isNotNull())
        .groupBy("hash_hi", "hash_lo")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.sum("doc_id").alias("sum_doc"),
        )
        .filter(F.col("n_members") >= 2)
    )


@register(
    "s8_rrf_hybrid_retrieval",
    f"""
    WITH {_SQL_BM25_CTES},
    lex AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r
      FROM bm ORDER BY bm25 DESC, doc_id LIMIT 50
    ),
    {_EMB_DOTS},
    sem AS (
      SELECT vec_id AS doc_id,
             ROW_NUMBER() OVER (ORDER BY dot / (SQRT(aa) * SQRT(qq)) DESC, vec_id) AS r
      FROM dots, qn WHERE aa > 0 AND qq > 0
      ORDER BY dot / (SQRT(aa) * SQRT(qq)) DESC, vec_id LIMIT 50
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
             CAST(l.r AS BIGINT) AS lex_rank, CAST(s.r AS BIGINT) AS sem_rank,
             COALESCE(CAST(FLOOR(1000000.0 / (60 + l.r)) AS BIGINT), 0)
             + COALESCE(CAST(FLOOR(1000000.0 / (60 + s.r)) AS BIGINT), 0) AS rrf_i
      FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
    )
    SELECT doc_id, lex_rank, sem_rank,
           CAST(rrf_i AS DOUBLE) / 1000000.0 AS rrf_score
    FROM fused
    ORDER BY rrf_i DESC, doc_id LIMIT 20
    """,
    survey_rows="ext:retrieval (hybrid lexical+semantic fusion); "
    "ext:retrieval (s7 BM25), ext:similarity-topk (s1)",
    description="Hybrid retrieval via reciprocal-rank fusion (k=60): s7's "
    "BM25 lexical ranking and s1's embedding-cosine ranking (vec_id is "
    "the embedding of doc_id — the standard hybrid-search layout) each "
    "produce a deterministic top-50 (score desc, id tie-break), and every "
    "doc scores Σ 1/(60+rank) over the lists it appears in — the "
    "standard way lexical recall and semantic recall are combined for "
    "retrieval-based data curation. Each 1/(60+r) term is floored in "
    "integer micro-units so the fused score is an exact integer sum; the "
    "outer-join fusion and final top-20 are rank math over two 50-row "
    "frames (tiny — the corpus-sized work is s7's posting-list scan and "
    "s1's one-pass cosine, unchanged). Missing-from-one-list docs "
    "surface with a NULL rank on that side.",
)
def s8_rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_topk

    lexf = _bm25_scores(spark, sf_dir).orderBy(F.desc("bm25"), "doc_id").limit(50)
    w_l = Window.orderBy(F.desc("bm25"), "doc_id")
    lex = lexf.select(
        "doc_id", F.row_number().over(w_l).cast("long").alias("lex_rank")
    )
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    semf = cosine_topk(emb.filter(F.col("vec_id") != 0), qvec, k=50)
    w_s = Window.orderBy(F.desc("cosine"), "vec_id")
    sem = semf.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(w_s).cast("long").alias("sem_rank"),
    )
    ri = lambda r: F.coalesce(  # noqa: E731
        F.floor(F.lit(1000000.0) / (F.lit(60) + F.col(r))).cast("long"), F.lit(0)
    )
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "sem_rank",
        (ri("lex_rank") + ri("sem_rank")).alias("rrf_i"),
    )
    return (
        fused.orderBy(F.desc("rrf_i"), "doc_id")
        .limit(20)
        .select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            (F.col("rrf_i").cast("double") / F.lit(1000000.0)).alias("rrf_score"),
        )
    )


@register(
    "g3_degree_assortativity",
    f"""
    WITH {_SQL_UI_CTE},
    e AS (
      SELECT a.item AS i, b.item AS j
      FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
      GROUP BY 1, 2 HAVING COUNT(*) >= 30
    ),
    edges AS (
      SELECT i AS src, j AS dst FROM e
      UNION ALL SELECT j AS src, i AS dst FROM e
    ),
    deg AS (
      SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY 1
    ),
    pts AS (
      SELECT da.deg AS x, db.deg AS y
      FROM edges JOIN deg da ON edges.src = da.v
                 JOIN deg db ON edges.dst = db.v
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy
      FROM pts
    )
    SELECT CAST(n // 2 AS BIGINT) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           ROUND((n * sxy - sx * sy)
             / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
             AS assortativity
    FROM s
    WHERE (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
    """,
    survey_rows="ext:graph-structure (degree assortativity); "
    "ext:graph (g1/g2/t10), M13",
    description="Degree assortativity of the item co-visitation graph "
    "(g1/g2's edge shape at a co >= 30 threshold — the co >= 5 graph is "
    "complete at graded scale, i.e. perfectly regular, which makes "
    "assortativity undefined): Pearson correlation of the degrees at the "
    "two endpoints of every edge, both orientations — positive means hubs "
    "link to hubs (assortative mixing), negative means hub-and-spoke; "
    "with g1 (centrality) and g2 (clustering) this completes the "
    "structural-graph-diagnostics family. One degree aggregation + two "
    "equi-joins of degrees back onto edges, then m13's exact-integer "
    "Pearson sufficient statistics — every sum DECIMAL(38,0)-exact, the "
    "float formula applied once; a degenerate graph (regular or empty — "
    "e.g. the tiny-SF input) yields zero rows on both engines rather "
    "than a NULL statistic.",
)
def g3_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, co = _covis_shared(spark, sf_dir)
    pairs = co.filter(F.col("c") >= 30)
    edges = pairs.select(F.col("i").alias("src"), F.col("j").alias("dst")).unionByName(
        pairs.select(F.col("j").alias("src"), F.col("i").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    pts = (
        edges.join(deg.toDF("v", "x"), edges.src == F.col("v"))
        .drop("v")
        .join(deg.toDF("v", "y"), edges.dst == F.col("v"))
        .select("x", "y")
    )
    dec = lambda c: F.sum(c.cast("decimal(38,0)")).cast("double")  # noqa: E731
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        dec(F.col("x")).alias("sx"),
        dec(F.col("y")).alias("sy"),
        dec(F.col("x") * F.col("x")).alias("sxx"),
        dec(F.col("x") * F.col("y")).alias("sxy"),
        dec(F.col("y") * F.col("y")).alias("syy"),
    )
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    denom = (n * sxx - sx * sx) * (n * syy - sy * sy)
    r = (n * sxy - sx * sy) / F.sqrt(denom)
    return (
        s.crossJoin(n_nodes)
        .filter(denom > 0)
        .select(
            (n / 2).cast("long").alias("n_edges"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.round(r, 6).alias("assortativity"),
        )
    )


# ===========================================================================
# Driver contract
# ===========================================================================


def entry_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship query — the driver's smoke check."""
    return flagship_segment_health(spark, sf_dir)


#: SQL twin of :func:`_part_name_canon`.
_SQL_PART_CANON = r"""p AS (
      SELECT p_partkey AS k, lower(trim(p_name)) AS nm FROM part
    ),
    canon AS (
      SELECT nm, CAST(MIN(k) AS BIGINT) AS canon_key,
             CAST(COUNT(*) AS BIGINT) AS n_rec,
             regexp_extract(nm, '(\S+)$', 1) AS blk
      FROM p GROUP BY nm
    )"""


def _part_name_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """er1/er2's ``(nm, canon_key, n_rec, blk)``: each distinct
    lowercased, trimmed part name with its lowest key, its record count
    and its last word as the blocking key."""
    p = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("k"), F.lower(F.trim("p_name")).alias("nm")
    )
    return (
        p.groupBy("nm")
        .agg(F.min("k").alias("canon_key"), F.count(F.lit(1)).alias("n_rec"))
        .withColumn("blk", F.regexp_extract("nm", r"(\S+)$", 1))
    )


@register(
    "er1_blocked_record_linkage",
    rf"""
    WITH {_SQL_PART_CANON}
    SELECT a.nm AS name_a, b.nm AS name_b,
           CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS edit_dist,
           a.canon_key AS canon_a, b.canon_key AS canon_b,
           a.n_rec AS n_rec_a, b.n_rec AS n_rec_b
    FROM canon a JOIN canon b ON a.blk = b.blk AND a.nm < b.nm
    WHERE levenshtein(a.nm, b.nm) <= 2
    ORDER BY edit_dist, name_a, name_b
    """,
    survey_rows="ext:entity resolution / record linkage (blocked fuzzy "
    "match); P4 (exact collapse), t9 (edit distance), J6",
    description="Blocked fuzzy record linkage (entity resolution) over part "
    "names: normalize (lower/trim), collapse exact duplicates to one "
    "canonical row per distinct name FIRST (min key + record count — the "
    "step that shrinks the linkage input from |records| to |entities|), "
    "block on the trailing token (the noun), and emit within-block pairs "
    "at Levenshtein distance <= 2 — the standard blocking-then-matching "
    "shape used to link free-text records at scale. Scale: the exact "
    "collapse is one hash aggregation; the candidate join is an equi-join "
    "on the blocking key, never all-pairs; edit distance runs only on "
    "within-block candidates. At 100 TB the blocking key gets a frequency "
    "cap exactly like t2's doc-freq cap (an overly common block degrades "
    "to quadratic and should be split by a second key, e.g. name length "
    "band); Levenshtein is JVM-side (no Python).",
)
def er1_blocked_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    canon = _part_name_canon(spark, sf_dir)
    a = canon.select(
        F.col("nm").alias("name_a"),
        F.col("canon_key").alias("canon_a"),
        F.col("n_rec").alias("n_rec_a"),
        "blk",
    )
    b = canon.select(
        F.col("nm").alias("name_b"),
        F.col("canon_key").alias("canon_b"),
        F.col("n_rec").alias("n_rec_b"),
        "blk",
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("edit_dist", dist.cast("long"))
        .filter(F.col("edit_dist") <= 2)
        .select(
            "name_a", "name_b", "edit_dist",
            "canon_a", "canon_b", "n_rec_a", "n_rec_b",
        )
        .orderBy("edit_dist", "name_a", "name_b")
    )


@register(
    "w21_weekly_trend_decomposition",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT) AS vi
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ),
    tr AS (
      SELECT event_type, day, vi,
             CAST(SUM(vi) OVER w AS BIGINT) AS s7,
             CAST(COUNT(*) OVER w AS BIGINT) AS c7
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
      SELECT event_type, day, vi,
             CAST(FLOOR(CAST(s7 AS DOUBLE) / c7) AS BIGINT) AS trend_q,
             vi - CAST(FLOOR(CAST(s7 AS DOUBLE) / c7) AS BIGINT) AS di,
             dayofweek(day) AS dow
      FROM tr WHERE c7 = 7
    ),
    seas AS (
      SELECT event_type, dow,
             CAST(FLOOR(CAST(SUM(di) AS DOUBLE) / COUNT(*)) AS BIGINT) AS sq
      FROM det GROUP BY 1, 2
    )
    SELECT d.event_type, d.day,
           CAST(d.vi AS DOUBLE) / 1000000.0 AS daily_total,
           CAST(d.trend_q AS DOUBLE) / 1000000.0 AS trend,
           CAST(s.sq AS DOUBLE) / 1000000.0 AS seasonal,
           CAST(d.di - s.sq AS DOUBLE) / 1000000.0 AS residual
    FROM det d JOIN seas s ON d.event_type = s.event_type AND d.dow = s.dow
    ORDER BY d.event_type, d.day
    """,
    survey_rows="ext:time-series decomposition (trend/seasonal/residual); "
    "W4 (time bucketing), W10 (sliding windows), m19 (autocorrelation)",
    description="STL-lite weekly decomposition of the daily value series "
    "per event type: trend = centered 7-day rolling mean (complete "
    "windows only), seasonal = day-of-week mean of the detrended series, "
    "residual = detrended - seasonal — the classic "
    "trend/seasonal/residual split used for capacity planning and "
    "anomaly baselines. Exactness: daily totals are floor-quantized "
    "integer micro-units (exact cross-engine sums); the rolling mean is "
    "ONE IEEE division of exact integers floored back to integer units, "
    "so detrended, seasonal, and residual stay in exact integer "
    "arithmetic end-to-end — no float accumulation anywhere. DuckDB "
    "dayofweek is Sunday=0, Spark Sunday=1, hence the -1 shift "
    "(internal join key only). Scale: one hash aggregation "
    "records->days, then every window/join runs on the per-(type, day) "
    "frame — bounded by calendar span x |types|, partitioned by "
    "event_type (no global sort); the seasonal lookup is a broadcast.",
)
def w21_weekly_trend_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # the daily frame feeds both the seasonal aggregation and the final
    # join; materialize the (|days| x |types|)-bounded frame so the raw
    # events scan + records->days aggregation run once (w16 pattern)
    daily = osk.materialize(
        ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
            F.sum(F.floor(F.col("value") * 1000000).cast("long")).alias("vi")
        )
    )
    w7 = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "event_type", "day", "vi",
        F.sum("vi").over(w7).alias("s7"),
        F.count(F.lit(1)).over(w7).alias("c7"),
    ).filter(F.col("c7") == 7)
    trend_q = F.floor(F.col("s7").cast("double") / F.col("c7")).cast("long")
    det = tr.select(
        "event_type", "day", "vi",
        trend_q.alias("trend_q"),
        (F.col("vi") - trend_q).alias("di"),
        (F.dayofweek("day") - 1).alias("dow"),
    )
    seas = det.groupBy("event_type", "dow").agg(
        F.floor(F.sum("di").cast("double") / F.count(F.lit(1)))
        .cast("long")
        .alias("sq")
    )
    return (
        det.join(seas, ["event_type", "dow"])
        .select(
            "event_type", "day",
            (F.col("vi").cast("double") / 1000000.0).alias("daily_total"),
            (F.col("trend_q").cast("double") / 1000000.0).alias("trend"),
            (F.col("sq").cast("double") / 1000000.0).alias("seasonal"),
            ((F.col("di") - F.col("sq")).cast("double") / 1000000.0).alias(
                "residual"
            ),
        )
        .orderBy("event_type", "day")
    )


@register(
    "ev7_wilson_ctr_ranking",
    f"""
    WITH ui AS (
      SELECT {_SQL_ITEM}, event_type
      FROM events
      WHERE json_extract(props, '$.k') IS NOT NULL
    ),
    agg AS (
      SELECT item, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_purchase
      FROM ui GROUP BY 1
    ),
    sc AS (
      SELECT item, n_events, n_purchase,
             CAST(n_purchase AS DOUBLE) / n_events AS p
      FROM agg WHERE n_events >= 20
    )
    SELECT item, n_events, n_purchase,
           {SQL_Q6('p')} AS purchase_rate,
           {SQL_Q6('''((p + 3.8416 / (2 * n_events))
             - 1.96 * SQRT((p * (1 - p) + 3.8416 / (4 * n_events))
                           / n_events))
             / (1 + 3.8416 / n_events)''')} AS wilson_lb
    FROM sc
    ORDER BY wilson_lb DESC, item
    LIMIT 25
    """,
    survey_rows="ext:ranking under uncertainty (Wilson lower bound); "
    "A4 (conditional rates), m18 (proportion z-math), f17 (VARIANT)",
    description="Item ranking by the Wilson score lower bound (z=1.96) of "
    "the purchase rate — the standard fix for naive rate sorting, where "
    "a 1/1 item outranks a 90/100 item; the lower confidence bound "
    "penalizes small samples, which is how items/documents are ranked "
    "for selection when per-item evidence varies by orders of magnitude. "
    "Items come from the semi-structured props payload (f17's VARIANT "
    "extraction); one hash aggregation produces exact (trials, "
    "successes) per item, a minimum-evidence filter (n>=20) drops "
    "unstable rows, and the bound itself is a fixed closed-form chain of "
    "IEEE operations on exact integers written with identical "
    "association on both engines (z^2 = 3.8416 as a decimal literal on "
    "both sides, never recomputed; sqrt is correctly rounded per IEEE), "
    "6-dp floored. Scale: pure map + one shuffle on item + "
    "TakeOrderedAndProject top-k — nothing holds state beyond the "
    "per-item counters.",
)
def ev7_wilson_ctr_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    item = F.try_variant_get(F.try_parse_json("props"), "$.k", "int")
    agg = (
        ev.select(item.alias("item"), "event_type")
        .filter(F.col("item").isNotNull())
        .groupBy("item")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("n_purchase"),
        )
        .filter(F.col("n_events") >= 20)
    )
    p = F.col("n_purchase").cast("double") / F.col("n_events")
    sc = agg.select("item", "n_events", "n_purchase", p.alias("p"))
    z2 = F.lit(3.8416)
    wilson = (
        (
            F.col("p")
            + z2 / (F.lit(2) * F.col("n_events"))
            - F.lit(1.96)
            * F.sqrt(
                (
                    F.col("p") * (F.lit(1) - F.col("p"))
                    + z2 / (F.lit(4) * F.col("n_events"))
                )
                / F.col("n_events")
            )
        )
        / (F.lit(1) + z2 / F.col("n_events"))
    )
    return (
        sc.select(
            "item",
            "n_events",
            "n_purchase",
            q6(F.col("p")).alias("purchase_rate"),
            q6(wilson).alias("wilson_lb"),
        )
        .orderBy(F.desc("wilson_lb"), "item")
        .limit(25)
    )


@register(
    "ml4_calibration_bins",
    f"""
    WITH {_HASHED_SCORES_SQL},
    binned AS (
      SELECT {_SQL_SCORE_BIN} AS bin,
             score,
             CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS label
      FROM doc_scores
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {SQL_Q6(SQL_DAVG(SQL_Q6('score')))} AS mean_score,
           CAST(SUM(label) AS BIGINT) AS n_pos,
           {SQL_Q6('CAST(SUM(label) AS DOUBLE) / COUNT(*)')} AS pos_rate
    FROM binned GROUP BY 1 ORDER BY 1
    """,
    survey_rows="ext:model evaluation (reliability/calibration bins); "
    "t34 (hashed classifier), F5 (bucketing), A4",
    description="Reliability (calibration) audit of t34's hashed quality "
    "classifier against a reference label: doc scores bucket into 10 "
    "fixed bins over [-1, 1], and each bin reports its size, mean "
    "predicted score, and observed positive rate (label = n_chars >= "
    "200, the cheap length proxy standing in for the expensive reference "
    "judgment) — the per-bin predicted-vs-observed table behind every "
    "calibration curve, and the standard check before a cheap classifier "
    "gates a corpus at scale (weak supervision / distillation QA). "
    "Reuses t34's scoring frame (_hashed_doc_scores — t34 re-proofs "
    "alongside, the s7/s8 precedent); the bin edge is a FLOOR of an "
    "expression both engines evaluate identically, so bin membership "
    "cannot drift. Scale: one hash aggregation per doc, then a "
    "10-group aggregation — no joins, no state beyond per-bin counters.",
)
def ml4_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregations import decimal_avg

    ds = _hashed_doc_scores(spark, sf_dir)
    binned = ds.select(
        _score_bin().alias("bin"),
        "score",
        F.when(F.col("n_chars") >= 200, 1).otherwise(0).alias("label"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            q6(decimal_avg(q6(F.col("score")))).alias("mean_score"),
            F.sum("label").alias("n_pos"),
            q6(F.sum("label").cast("double") / F.count(F.lit(1))).alias(
                "pos_rate"
            ),
        )
        .orderBy("bin")
    )


@register(
    "m22_cohens_kappa",
    f"""
    WITH {_HASHED_SCORES_SQL},
    conf AS (
      SELECT
        CAST(SUM(CASE WHEN score > 0 AND n_chars >= 200 THEN 1 ELSE 0 END)
             AS BIGINT) AS n11,
        CAST(SUM(CASE WHEN score > 0 AND n_chars < 200 THEN 1 ELSE 0 END)
             AS BIGINT) AS n10,
        CAST(SUM(CASE WHEN score <= 0 AND n_chars >= 200 THEN 1 ELSE 0 END)
             AS BIGINT) AS n01,
        CAST(SUM(CASE WHEN score <= 0 AND n_chars < 200 THEN 1 ELSE 0 END)
             AS BIGINT) AS n00,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM doc_scores
    ),
    probs AS (
      SELECT n, n11, n10, n01, n00,
             CAST(n11 + n00 AS DOUBLE) / n AS po,
             CAST((n11 + n10) * (n11 + n01) AS DOUBLE) / n / n
               + CAST((n01 + n00) * (n10 + n00) AS DOUBLE) / n / n AS pe
      FROM conf
    )
    SELECT n, n11, n10, n01, n00,
           {SQL_Q6('po')} AS p_observed,
           {SQL_Q6('pe')} AS p_expected,
           CASE WHEN pe < 1
                THEN {SQL_Q6('(po - pe) / (1 - pe)')} END AS kappa
    FROM probs
    """,
    survey_rows="ext:inter-rater agreement (Cohen's kappa); m6 "
    "(contingency math), t34 (hashed classifier)",
    description="Cohen's kappa between two document 'raters' — t34's "
    "hashed classifier (score > 0) and the length proxy (n_chars >= "
    "200): the chance-corrected agreement statistic used to QA weak "
    "labels and annotator pools before training on them (raw agreement "
    "po overstates quality when the base rates are skewed; kappa "
    "subtracts the agreement pe expected from the marginals alone). The "
    "2x2 confusion counts are exact integers from one aggregation over "
    "the shared scoring frame (_hashed_doc_scores); po/pe/kappa are "
    "fixed chains of IEEE divisions written with identical association "
    "on both engines, 6-dp floored; the degenerate pe = 1 case (a "
    "constant rater) yields NULL instead of dividing by zero. Scale: "
    "doc scoring is map + one hash aggregation, the kappa math runs on "
    "a single 5-integer row.",
)
def m22_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    ds = _hashed_doc_scores(spark, sf_dir)
    pos = F.col("score") > 0
    lng = F.col("n_chars") >= 200
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    conf = ds.agg(
        cnt(pos & lng).alias("n11"),
        cnt(pos & ~lng).alias("n10"),
        cnt(~pos & lng).alias("n01"),
        cnt(~pos & ~lng).alias("n00"),
        F.count(F.lit(1)).alias("n"),
    )
    n = F.col("n")
    po = (F.col("n11") + F.col("n00")).cast("double") / n
    pe = (
        ((F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01")))
        .cast("double") / n / n
        + ((F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00")))
        .cast("double") / n / n
    )
    probs = conf.select(
        "n", "n11", "n10", "n01", "n00", po.alias("po"), pe.alias("pe")
    )
    return probs.select(
        "n", "n11", "n10", "n01", "n00",
        q6(F.col("po")).alias("p_observed"),
        q6(F.col("pe")).alias("p_expected"),
        F.when(
            F.col("pe") < 1,
            q6((F.col("po") - F.col("pe")) / (F.lit(1) - F.col("pe"))),
        ).alias("kappa"),
    )


@register(
    "m23_population_stability",
    f"""
    WITH {_HASHED_SCORES_SQL},
    binned AS (
      SELECT {_SQL_SCORE_BIN} AS bin,
             CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS is_base
      FROM doc_scores
    ),
    counts AS (
      SELECT bin, CAST(SUM(is_base) AS BIGINT) AS n_base,
             CAST(SUM(1 - is_base) AS BIGINT) AS n_cur
      FROM binned GROUP BY 1
    ),
    grid AS (SELECT CAST(unnest(generate_series(0, 9)) AS BIGINT) AS bin),
    filled AS (
      SELECT g.bin,
             CAST(COALESCE(c.n_base, 0) AS BIGINT) AS n_base,
             CAST(COALESCE(c.n_cur, 0) AS BIGINT) AS n_cur
      FROM grid g LEFT JOIN counts c ON g.bin = c.bin
    ),
    tot AS (
      SELECT CAST(SUM(n_base) AS BIGINT) AS tb,
             CAST(SUM(n_cur) AS BIGINT) AS tc
      FROM filled
    ),
    rates AS (
      SELECT bin, n_base, n_cur,
             (CAST(n_base AS DOUBLE) + 0.5) / (tb + 5.0) AS p,
             (CAST(n_cur AS DOUBLE) + 0.5) / (tc + 5.0) AS q
      FROM filled CROSS JOIN tot
    )
    SELECT bin, n_base, n_cur,
           {SQL_Q6('p')} AS p_base, {SQL_Q6('q')} AS p_cur,
           {SQL_Q6('(p - q) * (FLOOR(LN(p / q) * 1000000) / 1000000.0)')}
             AS psi_term
    FROM rates ORDER BY bin
    """,
    survey_rows="ext:distribution drift (population stability index); "
    "e2 (embedding drift), ml4 (score bins), m10 (histogram)",
    description="Population stability index of t34's classifier score "
    "between a baseline source (src0) and the rest of the corpus — the "
    "standard tabular drift monitor (PSI = sum over bins of "
    "(p_i - q_i) ln(p_i/q_i)) run before a trained filter is applied to "
    "a new crawl: per-bin terms localize WHERE the score distribution "
    "moved, complementing e2's embedding-space drift. The 10 fixed bins "
    "are ml4's; a static 0..9 grid left-joins the observed counts so "
    "empty bins participate, and +0.5/+5 Laplace smoothing keeps the "
    "log finite. Float discipline: exact integer counts; p and q are "
    "single IEEE divisions; the transcendental LN is 6-dp "
    "floor-bracketed (the s7/t18 idiom) so the term product is "
    "engine-deterministic. Scale: map + one 10-group aggregation; the "
    "grid and totals are broadcast-sized.",
)
def m23_population_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    ds = _hashed_doc_scores(spark, sf_dir)
    binned = ds.select(
        _score_bin().alias("bin"),
        F.when(F.col("source") == "src0", 1).otherwise(0).alias("is_base"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum("is_base").alias("n_base"),
        F.sum(F.lit(1) - F.col("is_base")).alias("n_cur"),
    )
    grid = spark.range(10).select(F.col("id").alias("bin"))
    filled = (
        grid.join(counts, "bin", "left")
        .select(
            "bin",
            F.coalesce(F.col("n_base"), F.lit(0)).cast("long").alias("n_base"),
            F.coalesce(F.col("n_cur"), F.lit(0)).cast("long").alias("n_cur"),
        )
    )
    tot = filled.agg(
        F.sum("n_base").alias("tb"), F.sum("n_cur").alias("tc")
    )
    rates = filled.crossJoin(tot).select(
        "bin", "n_base", "n_cur",
        ((F.col("n_base").cast("double") + F.lit(0.5))
         / (F.col("tb") + F.lit(5.0))).alias("p"),
        ((F.col("n_cur").cast("double") + F.lit(0.5))
         / (F.col("tc") + F.lit(5.0))).alias("q"),
    )
    ln6 = F.floor(F.log(F.col("p") / F.col("q")) * 1000000).cast(
        "double"
    ) / F.lit(1000000.0)
    return rates.select(
        "bin", "n_base", "n_cur",
        q6(F.col("p")).alias("p_base"),
        q6(F.col("q")).alias("p_cur"),
        q6((F.col("p") - F.col("q")) * ln6).alias("psi_term"),
    ).orderBy("bin")


#: SQL twin of :func:`_mixture_budget` over a ``src(source, n_docs,
#: n_tokens)`` CTE (t40, t51).
_SQL_MIXTURE_BUDGET = """wts AS (
      SELECT source, n_docs, n_tokens,
             CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
               AS wq
      FROM src
    ),
    tot AS (SELECT CAST(SUM(wq) AS BIGINT) AS swq FROM wts)
    SELECT source, n_docs, n_tokens,
           FLOOR(CAST(wq AS DOUBLE) / swq * 1000000) / 1000000.0
             AS mix_weight,
           FLOOR(CAST(wq AS DOUBLE) / swq * 2000000 / n_tokens * 1000000)
             / 1000000.0 AS repeat_factor
    FROM wts CROSS JOIN tot ORDER BY source"""


def _mixture_budget(src: DataFrame) -> DataFrame:
    """t40/t51's alpha = 0.5 mixture table over per-source ``(source,
    n_docs, n_tokens)``: sqrt-smoothed weights in integer micro-units
    (an exact BIGINT normalizer), each source's mixture share and its
    repeat factor under a 2M-token training budget."""
    wts = src.withColumn(
        "wq",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1000000).cast(
            "long"
        ),
    )
    tot = wts.agg(F.sum("wq").alias("swq"))
    share = F.col("wq").cast("double") / F.col("swq")
    return (
        wts.crossJoin(tot)
        .select(
            "source", "n_docs", "n_tokens",
            q6(share).alias("mix_weight"),
            q6(share * F.lit(2000000) / F.col("n_tokens")).alias(
                "repeat_factor"
            ),
        )
        .orderBy("source")
    )


@register(
    "t40_token_budget_allocation",
    f"""
    WITH toks AS (
      SELECT source,
             len({_SQL_LOWER_WORDS}) AS ntok
      FROM documents WHERE text IS NOT NULL
    ),
    src AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(ntok) AS BIGINT) AS n_tokens
      FROM toks GROUP BY 1
    ),
    {_SQL_MIXTURE_BUDGET}
    """,
    survey_rows="ext:training mixture allocation (alpha-smoothed source "
    "weights); t24 (mixture resample), t14 (token counting), A1",
    description="Token-budget allocation across corpus sources with "
    "alpha = 0.5 smoothing — the multilingual/multi-source sampling "
    "scheme (weight_i proportional to size_i^alpha) that upweights "
    "small sources relative to proportional sampling: per-source "
    "whitespace-token counts (t14's tokenizer), sqrt-smoothed weights, "
    "normalized mixture shares, and the per-source repeat factor "
    "implied by a fixed 2M-token training budget (repeat > 1 means the "
    "source is epoch-ed more than once — the 'how many epochs of each "
    "source' table every data-mixing run starts from). Exactness: token "
    "counts are exact integers; SQRT is IEEE-correctly-rounded and "
    "immediately 6-dp floor-quantized to integer micro-units, so the "
    "weight normalizer is an exact BIGINT sum (no float accumulation); "
    "shares and repeat factors are fixed short chains of IEEE ops, 6-dp "
    "floored. Scale: one map + one hash aggregation to |sources| rows; "
    "everything downstream is broadcast-sized.",
)
def t40_token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import tokens

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    src = docs.select(
        "source", F.size(tokens(F.lower(F.col("text")))).alias("ntok")
    ).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("ntok").alias("n_tokens")
    )
    return _mixture_budget(src)


# ===========================================================================
# Model/retrieval evaluation + corpus-health metrics:
# rank-based ROC AUC (the Mann-Whitney identity, computed on a score
# HISTOGRAM so no global row-level sort is needed), Jensen-Shannon
# distribution drift, Chao1 vocabulary-richness estimation, and OHLC bars
# (the canonical time-series downsampling shape).
# ===========================================================================


@register(
    "ml5_roc_auc",
    f"""
    WITH {_HASHED_SCORES_SQL},
    lab AS (
      SELECT CAST(FLOOR(s.score * 1000000) AS BIGINT) AS sq,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
      FROM doc_scores s JOIN documents d USING (doc_id)
    ),
    hist AS (
      SELECT sq, CAST(SUM(y) AS BIGINT) AS pos,
             CAST(SUM(1 - y) AS BIGINT) AS neg
      FROM lab GROUP BY 1
    ),
    cum AS (
      SELECT sq, pos, neg,
             COALESCE(SUM(neg) OVER (ORDER BY sq
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_neg_below
      FROM hist
    ),
    tot AS (
      SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(SUM(neg) AS BIGINT) AS n_neg,
             CAST(SUM(pos * (2 * cum_neg_below + neg)) AS BIGINT) AS num2
      FROM cum
    )
    SELECT n_pos, n_neg,
           FLOOR(CAST(num2 AS DOUBLE) / (2.0 * n_pos * n_neg) * 1000000)
             / 1000000.0 AS auc
    FROM tot
    """,
    survey_rows="ext:classifier evaluation (ROC AUC); M2 (rank statistics), "
    "t34 (hashed classifier), W6",
    description="ROC AUC of the t34 hashed quality classifier against the "
    "lang=='en' label, via the Mann-Whitney identity AUC = P(score_pos > "
    "score_neg) + 0.5*P(tie). Computed on a score HISTOGRAM, not ranked "
    "rows: quantize scores to integer micro-units, aggregate (pos, neg) "
    "counts per distinct score, one running sum over the ordered distinct "
    "scores, then AUC = sum(pos*(2*cum_neg_below + neg)) / (2*P*N). The "
    "window runs over |distinct scores| rows (bounded by the 6-dp grid), "
    "not |docs| — the same two-phase shape survives 100 TB where a global "
    "row-level rank() would single-partition the corpus. All-integer "
    "arithmetic until the single final IEEE division, so the oracle "
    "hash-matches exactly.",
)
def ml5_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ds = _hashed_doc_scores(spark, sf_dir)
    lang = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    lab = ds.join(lang, "doc_id").select(
        F.floor(F.col("score") * 1000000).cast("long").alias("sq"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    hist = lab.groupBy("sq").agg(
        F.sum("y").cast("long").alias("pos"),
        F.sum(F.lit(1) - F.col("y")).cast("long").alias("neg"),
    )
    w = Window.orderBy("sq").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.withColumn(
        "cum_neg_below", F.coalesce(F.sum("neg").over(w), F.lit(0))
    )
    tot = cum.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("neg").cast("long").alias("n_neg"),
        F.sum(
            F.col("pos") * (F.lit(2) * F.col("cum_neg_below") + F.col("neg"))
        ).cast("long").alias("num2"),
    )
    return tot.select(
        "n_pos",
        "n_neg",
        q6(
            F.col("num2").cast("double")
            / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg"))
        ).alias("auc"),
    )


@register(
    "m24_jensen_shannon",
    """
    WITH e AS (
      SELECT event_type, user_id % 2 AS grp FROM events
    ),
    counts AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
      FROM e GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(c0) AS BIGINT) AS n0, CAST(SUM(c1) AS BIGINT) AS n1
      FROM counts
    ),
    probs AS (
      SELECT event_type, c0, c1,
             c0 * 1.0 / n0 AS p, c1 * 1.0 / n1 AS q
      FROM counts CROSS JOIN tot
    ),
    terms AS (
      SELECT event_type, c0, c1, p, q,
             FLOOR(LN(p / ((p + q) / 2)) / LN(2.0) * 1000000) / 1000000.0
               AS lp,
             FLOOR(LN(q / ((p + q) / 2)) / LN(2.0) * 1000000) / 1000000.0
               AS lq
      FROM probs
    )
    SELECT event_type, c0, c1,
           FLOOR(p * 1000000) / 1000000.0 AS p_grp0,
           FLOOR(q * 1000000) / 1000000.0 AS p_grp1,
           FLOOR(0.5 * (p * lp + q * lq) * 1000000) / 1000000.0 AS jsd_term
    FROM terms ORDER BY event_type
    """,
    survey_rows="ext:distribution drift (Jensen-Shannon divergence); M6 "
    "(categorical comparison), m23 (PSI twin)",
    description="Jensen-Shannon divergence terms between the event-type "
    "distributions of two deterministic user cohorts (user_id parity — "
    "the A/B-bucket hash a drift monitor would use): per event type, "
    "cohort probabilities p and q, and the per-type contribution "
    "0.5*(p*log2(p/m) + q*log2(q/m)) with m the mixture mean; the sum of "
    "jsd_term over the 5 rows is the JSD in bits (symmetric, bounded "
    "[0,1] — the standard corpus-vs-corpus drift score, m23's PSI twin "
    "with a proper metric). Two hash aggregations to |event types| rows; "
    "everything after is broadcast-sized. Probabilities are exact single "
    "IEEE divisions of integer counts; the log factors are 6-dp "
    "floor-quantized BEFORE the multiply (m23's discipline) so libm ULP "
    "drift cannot flip the final floor.",
)
def m24_jensen_shannon(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    counts = ev.select(
        "event_type", (F.col("user_id") % 2).alias("grp")
    ).groupBy("event_type").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("long").alias("c0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("long").alias("c1"),
    )
    tot = counts.agg(
        F.sum("c0").cast("long").alias("n0"),
        F.sum("c1").cast("long").alias("n1"),
    )
    p = F.col("c0") * F.lit(1.0) / F.col("n0")
    q = F.col("c1") * F.lit(1.0) / F.col("n1")
    probs = counts.crossJoin(tot).select("event_type", "c0", "c1", p.alias("p"), q.alias("q"))
    m = (F.col("p") + F.col("q")) / F.lit(2)

    def ln6(x) -> F.Column:
        return F.floor(F.log(x) / F.log(F.lit(2.0)) * 1000000).cast(
            "double"
        ) / F.lit(1000000.0)

    return probs.select(
        "event_type",
        "c0",
        "c1",
        q6(F.col("p")).alias("p_grp0"),
        q6(F.col("q")).alias("p_grp1"),
        q6(
            F.lit(0.5)
            * (F.col("p") * ln6(F.col("p") / m) + F.col("q") * ln6(F.col("q") / m))
        ).alias("jsd_term"),
    ).orderBy("event_type")


@register(
    "t41_chao1_vocab_richness",
    f"""
    WITH toks AS (
      SELECT source,
             unnest({_SQL_LOWER_WORDS}) AS w
      FROM documents WHERE text IS NOT NULL
    ),
    wc AS (
      SELECT source, w, COUNT(*) AS c FROM toks GROUP BY 1, 2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
           CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
           FLOOR((COUNT(*) + SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0
                  * (SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1)
                  / (2.0 * (SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1)))
                 * 1000000) / 1000000.0 AS chao1
    FROM wc GROUP BY 1 ORDER BY 1
    """,
    survey_rows="ext:vocabulary-richness estimation (Chao1); t21 (vocab "
    "top-k), A12 (count-distinct)",
    description="Per-source Chao1 estimated vocabulary size — the "
    "species-richness estimator (chao1 = V + F1*(F1-1)/(2*(F2+1)), the "
    "bias-corrected form that is total-vocabulary what the observed "
    "distinct count undercounts: singleton/doubleton token frequencies "
    "predict how many types the crawl has not yet seen. The 'is this "
    "source's vocabulary saturated or still growing' signal that decides "
    "whether more crawling adds diversity. One explode + two hash "
    "aggregations (token-count histogram per source → three conditional "
    "sums); all-integer until the final short IEEE chain, 6-dp floored. "
    "The (source, word) aggregation is the only large intermediate and "
    "shrinks with distinct-type count — no pairs, no windows, 100 "
    "TB-safe.",
)
def t41_chao1_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import tokens

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    wc = (
        docs.select(
            "source", F.explode(tokens(F.lower(F.col("text")))).alias("w")
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    f1 = F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long")
    f2 = F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long")
    v = F.count(F.lit(1)).cast("long")
    return (
        wc.groupBy("source")
        .agg(
            v.alias("vocab"),
            f1.alias("f1"),
            f2.alias("f2"),
            q6(
                F.col("vocab")
                + F.col("f1") * F.lit(1.0) * (F.col("f1") - 1)
                / (F.lit(2.0) * (F.col("f2") + 1))
            ).alias("chao1"),
        )
        .select("source", "vocab", "f1", "f2", "chao1")
        .orderBy("source")
    )


@register(
    "w22_ohlc_bars",
    f"""
    WITH e AS (
      SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id, value
      FROM events WHERE value IS NOT NULL
    ),
    rn AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY event_type, day
               ORDER BY ts, event_id) AS rf,
             ROW_NUMBER() OVER (PARTITION BY event_type, day
               ORDER BY ts DESC, event_id DESC) AS rl
      FROM e
    )
    SELECT event_type, day,
           MAX(CASE WHEN rf = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rl = 1 THEN value END) AS close,
           {SQL_DSUM("value")} AS volume,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM rn GROUP BY 1, 2 ORDER BY 1, 2
    """,
    survey_rows="W4 (time bucketing), W13 (first/last value), A1; "
    "ext:OHLC downsampling",
    description="Daily OHLC bars per event type — the canonical "
    "time-series downsampling shape (open/high/low/close/volume per "
    "bucket) that turns a raw event stream into chartable/model-ready "
    "bars. Spark side computes open and close with min/max over a "
    "(ts, event_id, value) struct — lexicographic struct ordering makes "
    "first-by-time-with-tie-break a pure two-phase AGGREGATION (map-side "
    "partials merge before the shuffle; struct extrema aggregate "
    "sort-based within partitions, never a per-row window), the shape "
    "that survives "
    "100 TB where a per-(type, day) row_number window would sort every "
    "partition. The oracle proves the same semantics with explicit "
    "first/last row_numbers. Ties broken by event_id on both sides; "
    "high/low/open/close pass stored doubles through untouched; volume "
    "is the exact decimal sum.",
)
def w22_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    e = ev.select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        "ts",
        "event_id",
        "value",
    )
    return (
        e.groupBy("event_type", "day")
        .agg(
            F.min(F.struct("ts", "event_id", "value")).alias("first_row"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.struct("ts", "event_id", "value")).alias("last_row"),
            agg.decimal_sum(F.col("value")).alias("volume"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .select(
            "event_type",
            "day",
            F.col("first_row.value").alias("open"),
            "high",
            "low",
            F.col("last_row.value").alias("close"),
            "volume",
            "n_events",
        )
        .orderBy("event_type", "day")
    )


# ===========================================================================
# ANN index evaluation (recall@k of the LSH candidate
# set vs exact top-k), exponentially-weighted smoothing, a declarative
# column-profiling DQ report, and Gopher-style document quality rules.
# ===========================================================================


@register(
    "s9_ann_recall_eval",
    None,  # generated oracle attached below (needs the plane constants)
    survey_rows="ext:ANN index evaluation (recall@k); s1 (exact top-k), "
    "s3 (LSH buckets)",
    description="Recall@10 of the s3 random-hyperplane LSH index against "
    "the s1 exact cosine top-10 for the held-out query vector — THE "
    "acceptance metric for any ANN index before it replaces brute force "
    "at scale: the candidate set is every corpus vector sharing the "
    "query's 8-bit bucket, and recall is |exact top-10 ∩ candidates| / "
    "|exact top-10|. One bucket equi-join (no pairs), the exact top-10 "
    "side is TakeOrderedAndProject over the corpus, and the final frame "
    "is three broadcast-sized scalar aggregates. At 100 TB the identical "
    "query answers 'is 8 bits enough, or do we need multi-probe' from a "
    "sample — the index-tuning loop every embedding pipeline runs. "
    "All-integer counts; recall is one IEEE division, 6-dp floored.",
)
def s9_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_topk, lsh_bucket

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    corpus = emb.filter(F.col("vec_id") != 0)
    exact = cosine_topk(corpus, qvec, k=10).select("vec_id")
    b = emb.withColumn("bucket", lsh_bucket(F.col("embedding"), _lsh_planes())).select(
        "vec_id", "bucket"
    )
    qb = b.filter(F.col("vec_id") == 0).select(F.col("bucket").alias("qbucket"))
    cand = b.join(qb, b.bucket == qb.qbucket).filter(F.col("vec_id") != 0).select("vec_id")
    hits = exact.join(cand, "vec_id")
    return (
        exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
        .crossJoin(cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates")))
        .crossJoin(hits.agg(F.count(F.lit(1)).cast("long").alias("n_hits")))
        .select(
            "n_exact",
            "n_candidates",
            "n_hits",
            q6(
                F.col("n_hits").cast("double") * F.lit(1.0) / F.col("n_exact")
            ).alias("recall_at_10"),
        )
    )


def _s9_oracle_sql() -> str:
    """DuckDB mirror of s9: the same generated hyperplane-bucket expression
    as s3's oracle, s1's exact-top-10 ranking, and the intersection
    counts."""
    bucket = _lsh_bucket_sql(_lsh_planes())
    return f"""
    WITH {_EMB_DOTS},
    exact10 AS (
      SELECT vec_id FROM dots, qn WHERE aa > 0 AND qq > 0
      ORDER BY dot / (SQRT(aa) * SQRT(qq)) DESC, vec_id ASC LIMIT 10
    ),
    buckets AS (SELECT vec_id, ({bucket}) AS bucket FROM embeddings),
    qb AS (SELECT bucket FROM buckets WHERE vec_id = 0),
    cand AS (
      SELECT b.vec_id FROM buckets b, qb
      WHERE b.bucket = qb.bucket AND b.vec_id != 0
    ),
    counts AS (
      SELECT CAST((SELECT COUNT(*) FROM exact10) AS BIGINT) AS n_exact,
             CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
             CAST((SELECT COUNT(*) FROM exact10 e JOIN cand c USING (vec_id))
               AS BIGINT) AS n_hits
    )
    SELECT n_exact, n_candidates, n_hits,
           FLOOR(CAST(n_hits AS DOUBLE) * 1.0 / n_exact * 1000000)
             / 1000000.0 AS recall_at_10
    FROM counts
    """


CORPUS["s9_ann_recall_eval"].oracle = _s9_oracle_sql()


def _w23_spark_terms() -> "tuple[F.Column, F.Column]":
    """The 14 exact EWMA terms (alpha = 1/2, row-based 14-step lookback):
    numerator' = sum_i lag(xq, i) * 2^(13-i) and denominator' = sum over
    PRESENT lags of 2^(13-i) — all integer, so the smoothed value is a
    single exact IEEE division. Built lazily (Window objects need an
    active session); the SQL mirror is _W23_QNUM/_W23_QDEN."""
    w = Window.partitionBy("event_type").orderBy("day")
    s_num = F.lit(0).cast("long")
    s_den = F.lit(0).cast("long")
    for i in range(14):
        wt = 1 << (13 - i)
        lagged = F.lag("xq", i).over(w) if i else F.col("xq")
        s_num = s_num + F.coalesce(lagged, F.lit(0)) * F.lit(wt)
        s_den = s_den + F.when(lagged.isNotNull(), F.lit(wt)).otherwise(F.lit(0))
    return s_num, s_den


_W23_QNUM = [
    f"COALESCE({f'LAG(xq, {i}) OVER w' if i else 'xq'}, 0) * {1 << (13 - i)}"
    for i in range(14)
]
_W23_QDEN = [
    f"(CASE WHEN {f'LAG(xq, {i}) OVER w' if i else 'xq'} IS NOT NULL"
    f" THEN {1 << (13 - i)} ELSE 0 END)"
    for i in range(14)
]


def _daily_micro_sums(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """w23/w24/m26's daily frame ``(event_type, day, <name>)``: each day's
    exact value sum per event type in integer micro-units (floored)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return (
        ev.select("event_type", F.col("ts").cast("date").alias("day"), "value")
        .groupBy("event_type", "day")
        .agg(
            F.floor(agg.decimal_sum(F.col("value")) * 1000000)
            .cast("long")
            .alias(name)
        )
    )


@register(
    "w23_ewma_daily",
    f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(FLOOR({SQL_DSUM("value")} * 1000000) AS BIGINT) AS xq
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    sm AS (
      SELECT event_type, day, xq,
             {" + ".join(_W23_QNUM)} AS num,
             {" + ".join(_W23_QDEN)} AS den
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, day,
           FLOOR(xq / 1000000.0 * 1000000) / 1000000.0 AS daily_total,
           FLOOR(CAST(num AS DOUBLE) / den / 1000000.0 * 1000000) / 1000000.0
             AS ewma
    FROM sm ORDER BY event_type, day
    """,
    survey_rows="W1 (partitioned lag), W4 (time bucketing); ext:EWMA "
    "smoothing",
    description="Exponentially-weighted moving average (alpha = 1/2, "
    "14-step lookback) of daily value totals per event type — the "
    "smoothing primitive behind anomaly baselines and trend dashboards "
    "(w21's decomposition sibling with recency weighting). Exactness "
    "device: daily totals are floor-quantized to integer micro-units, "
    "and because alpha = 1/2 the lag weights are powers of two, so the "
    "weighted numerator sum(lag_i * 2^(13-i)) and the present-lag "
    "denominator are EXACT int64 arithmetic on both engines — the EWMA "
    "is one final IEEE division, no float accumulation anywhere. The 14 "
    "LAG terms share one window (single shuffle+sort per event type); "
    "the daily frame is |types|x|days|, already tiny at any corpus "
    "scale.",
)
def w23_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_micro_sums(spark, sf_dir, "xq")
    s_num, s_den = _w23_spark_terms()
    sm = daily.select(
        "event_type",
        "day",
        "xq",
        s_num.alias("num"),
        s_den.alias("den"),
    )
    return sm.select(
        "event_type",
        "day",
        q6(F.col("xq") / F.lit(1000000.0)).alias("daily_total"),
        q6(F.col("num").cast("double") / F.col("den") / F.lit(1000000.0)).alias(
            "ewma"
        ),
    ).orderBy("event_type", "day")


@register(
    "dq8_column_profile",
    """
    WITH p AS (
      SELECT 'event_id' AS col_name, COUNT(*) AS n,
             COUNT(*) - COUNT(event_id) AS n_null,
             COUNT(DISTINCT event_id) AS n_distinct,
             MIN(event_id) * 1.0 AS min_num, MAX(event_id) * 1.0 AS max_num
      FROM events
      UNION ALL
      SELECT 'ts', COUNT(*), COUNT(*) - COUNT(ts), COUNT(DISTINCT ts),
             FLOOR(MIN(epoch(ts))) * 1.0, FLOOR(MAX(epoch(ts))) * 1.0
      FROM events
      UNION ALL
      SELECT 'user_id', COUNT(*), COUNT(*) - COUNT(user_id),
             COUNT(DISTINCT user_id),
             MIN(user_id) * 1.0, MAX(user_id) * 1.0 FROM events
      UNION ALL
      SELECT 'event_type', COUNT(*), COUNT(*) - COUNT(event_type),
             COUNT(DISTINCT event_type), NULL, NULL FROM events
      UNION ALL
      SELECT 'value', COUNT(*), COUNT(*) - COUNT(value),
             COUNT(DISTINCT value),
             FLOOR(MIN(value) * 1000000) / 1000000.0,
             FLOOR(MAX(value) * 1000000) / 1000000.0 FROM events
      UNION ALL
      SELECT 'props', COUNT(*), COUNT(*) - COUNT(props),
             COUNT(DISTINCT props), NULL, NULL FROM events
    )
    SELECT col_name, CAST(n AS BIGINT) AS n, CAST(n_null AS BIGINT) AS n_null,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           CAST(min_num AS DOUBLE) AS min_num, CAST(max_num AS DOUBLE) AS max_num
    FROM p ORDER BY col_name
    """,
    survey_rows="F15 (null counts), A12 (count-distinct), A3 (describe); "
    "ext:table profiling",
    description="Declarative column-profiling report over the events "
    "table — the 'what does this table actually contain' completeness/"
    "cardinality audit (per column: rows, nulls, distinct count, numeric "
    "min/max) run before any table is admitted to a pipeline; dq's "
    "profiling sibling to the constraint validator. One Spark scan "
    "computes every per-column aggregate in a single hash aggregation, "
    "then stacks the results into the per-column report rows "
    "driver-side-free; the oracle proves the same numbers with six "
    "explicit passes. Timestamps profile as epoch seconds and doubles "
    "floor-quantize so min/max cross-check exactly; string columns "
    "report NULL min/max (formatting of string extrema is "
    "engine-specific).",
)
def dq8_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    one = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        # event_id
        (F.count(F.lit(1)) - F.count("event_id")).cast("long").alias("null_event_id"),
        F.count_distinct(F.col("event_id")).cast("long").alias("nd_event_id"),
        (F.min("event_id") * F.lit(1.0)).alias("min_event_id"),
        (F.max("event_id") * F.lit(1.0)).alias("max_event_id"),
        # ts
        (F.count(F.lit(1)) - F.count("ts")).cast("long").alias("null_ts"),
        F.count_distinct(F.col("ts")).cast("long").alias("nd_ts"),
        (F.floor(F.min(F.col("ts").cast("double"))) * F.lit(1.0)).alias("min_ts"),
        (F.floor(F.max(F.col("ts").cast("double"))) * F.lit(1.0)).alias("max_ts"),
        # user_id
        (F.count(F.lit(1)) - F.count("user_id")).cast("long").alias("null_user_id"),
        F.count_distinct(F.col("user_id")).cast("long").alias("nd_user_id"),
        (F.min("user_id") * F.lit(1.0)).alias("min_user_id"),
        (F.max("user_id") * F.lit(1.0)).alias("max_user_id"),
        # event_type
        (F.count(F.lit(1)) - F.count("event_type")).cast("long").alias("null_event_type"),
        F.count_distinct(F.col("event_type")).cast("long").alias("nd_event_type"),
        # value
        (F.count(F.lit(1)) - F.count("value")).cast("long").alias("null_value"),
        F.count_distinct(F.col("value")).cast("long").alias("nd_value"),
        q6(F.min("value")).alias("min_value"),
        q6(F.max("value")).alias("max_value"),
        # props
        (F.count(F.lit(1)) - F.count("props")).cast("long").alias("null_props"),
        F.count_distinct(F.col("props")).cast("long").alias("nd_props"),
    )
    null_d = F.lit(None).cast("double")
    stacked = one.select(
        F.expr(
            "stack(6, "
            "'event_id', null_event_id, nd_event_id, min_event_id, max_event_id, "
            "'ts', null_ts, nd_ts, min_ts, max_ts, "
            "'user_id', null_user_id, nd_user_id, min_user_id, max_user_id, "
            "'event_type', null_event_type, nd_event_type, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            "'value', null_value, nd_value, min_value, max_value, "
            "'props', null_props, nd_props, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)"
            ") AS (col_name, n_null, n_distinct, min_num, max_num)"
        ),
        F.col("n"),
    )
    return stacked.select(
        "col_name", "n", "n_null", "n_distinct", "min_num", "max_num"
    ).orderBy("col_name")


@register(
    "t42_gopher_quality_rules",
    f"""
    WITH stats AS (
      SELECT doc_id, source,
             len({_SQL_LOWER_WORDS}) AS n_words,
             len(array_to_string({_SQL_LOWER_WORDS}, '')) AS n_word_chars,
             len(list_filter({_SQL_LOWER_WORDS}, x -> regexp_matches(x, '[a-z]'))) AS n_alpha_words
      FROM documents WHERE text IS NOT NULL
    ),
    flags AS (
      SELECT source,
             CASE WHEN n_words BETWEEN 20 AND 100000 THEN 1 ELSE 0 END AS r_len,
             CASE WHEN n_words > 0
                    AND n_word_chars * 1.0 / n_words >= 3.0
                    AND n_word_chars * 1.0 / n_words <= 10.0
                  THEN 1 ELSE 0 END AS r_wordlen,
             CASE WHEN n_words > 0
                    AND n_alpha_words * 1.0 / n_words >= 0.8
                  THEN 1 ELSE 0 END AS r_alpha
      FROM stats
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(r_len) AS BIGINT) AS pass_length,
           CAST(SUM(r_wordlen) AS BIGINT) AS pass_word_length,
           CAST(SUM(r_alpha) AS BIGINT) AS pass_alpha,
           CAST(SUM(r_len * r_wordlen * r_alpha) AS BIGINT) AS pass_all
    FROM flags GROUP BY 1 ORDER BY 1
    """,
    survey_rows="ext:quality rule filtering (Gopher rules); t6 (quality "
    "scores), F6 (binary flags)",
    description="Gopher-style document quality rules scored per source — "
    "the rule-based pre-filter (word count in range, mean word length in "
    "[3,10], >= 80% alphabetic words) that removes boilerplate/gibberish "
    "before any model-based scoring: per-document integer token stats, "
    "three boolean rules, per-source pass counts and the conjunction. "
    "Pure map + one hash aggregation — no joins, no windows; every rule "
    "comparison is on an exact integer ratio (single IEEE division "
    "against literal bounds, identical on both engines). The t34 "
    "classifier and these rules are the two halves of a real curation "
    "gate: rules kill the obvious garbage cheaply, the classifier ranks "
    "what remains.",
)
def t42_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import tokens

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = tokens(F.lower(F.col("text")))
    stats = docs.select(
        "source",
        F.size(toks).alias("n_words"),
        F.length(F.array_join(toks, "")).alias("n_word_chars"),
        F.size(
            F.filter(toks, lambda t: t.rlike("[a-z]"))
        ).alias("n_alpha_words"),
    )
    # ratios guarded INSIDE a when: ANSI mode (Spark 4 default) raises
    # DIVIDE_BY_ZERO even when the zero branch is masked by a sibling `&`
    # conjunct (no short-circuit in codegen) — a whitespace-only doc has
    # n_words = 0 and crashed the whole query (a reseeded fixture found it;
    # the shipped testdata had no zero-token non-null doc).
    # CaseWhen branches ARE lazily evaluated, so the guarded form never
    # divides; the NULL ratio then fails the outer when() to 0 exactly
    # like the oracle's CASE.
    mean_wl = F.when(
        F.col("n_words") > 0, F.col("n_word_chars") * F.lit(1.0) / F.col("n_words")
    )
    alpha_frac = F.when(
        F.col("n_words") > 0, F.col("n_alpha_words") * F.lit(1.0) / F.col("n_words")
    )
    flags = stats.select(
        "source",
        F.when(F.col("n_words").between(20, 100000), 1).otherwise(0).alias("r_len"),
        F.when(
            (F.col("n_words") > 0) & (mean_wl >= 3.0) & (mean_wl <= 10.0), 1
        ).otherwise(0).alias("r_wordlen"),
        F.when((F.col("n_words") > 0) & (alpha_frac >= 0.8), 1)
        .otherwise(0)
        .alias("r_alpha"),
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("r_len").cast("long").alias("pass_length"),
            F.sum("r_wordlen").cast("long").alias("pass_word_length"),
            F.sum("r_alpha").cast("long").alias("pass_alpha"),
            F.sum(F.col("r_len") * F.col("r_wordlen") * F.col("r_alpha"))
            .cast("long")
            .alias("pass_all"),
        )
        .orderBy("source")
    )


# ===========================================================================
# Embedding-space and split health: kNN label-consistency
# (Cleanlab-style noisy-label audit), Fisher-style class separation,
# context-length truncation audit, rolling-origin backtest folds.
# ===========================================================================


def _knn_consistency_sql(routed: bool) -> str:
    """SQL twin of :func:`_knn_consistency`. The exact audit ranks every
    pair of the sample's nonzero vectors. ``routed`` mirrors
    knn_label_consistency(ann_bits=6, exact_dedup_first=True): the collapse
    keeps one representative (lowest vec_id) per identical (embedding,
    label) pair — semantically equal to the operator's
    md5-of-serialized-vector key, both collapse exactly the equal pairs —
    the Spark side's LCG hyperplane constants decide each vector's LSH
    bucket (bit i = sign of a left-assoc dot with plane i — bit-identical
    IEEE arithmetic on both engines), and candidates are same-bucket
    pairs. Either way neighbors rank by the micro-unit-floored cosine."""
    if routed:
        from ..operators.similarity import _hyperplanes

        pairs = f"""
    nzs AS (
      SELECT s.vec_id, s.embedding, s.label
      FROM samp s JOIN norms USING (vec_id) WHERE nn > 0
    ),
    reps AS (
      SELECT MIN(vec_id) AS vec_id FROM nzs GROUP BY embedding, label
    ),
    nz AS (SELECT s.vec_id, s.embedding, s.label FROM nzs s JOIN reps USING (vec_id)),
    buck AS (
      SELECT vec_id, label, ({_lsh_bucket_sql(_hyperplanes(64, 6))}) AS bucket FROM nz
    ),
    cand AS (
      SELECT a.vec_id AS qid, b.vec_id AS nid
      FROM buck a JOIN buck b ON a.bucket = b.bucket AND a.vec_id != b.vec_id
    ),
    dots AS (
      SELECT c.qid, c.nid, SUM(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dot
      FROM cand c
      JOIN (SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS i FROM nz) a
        ON a.vec_id = c.qid
      JOIN (SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS i FROM nz) b
        ON b.vec_id = c.nid AND b.i = a.i
      GROUP BY 1, 2
    ),"""
        nonzero = ""
    else:
        pairs = """
    nz AS (SELECT s.vec_id, s.label FROM samp s JOIN norms USING (vec_id) WHERE nn > 0),
    dots AS (
      SELECT a.vec_id AS qid, b.vec_id AS nid,
             SUM(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dot
      FROM (SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding,1) AS i FROM samp) a
      JOIN (SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding,1) AS i FROM samp) b
        ON a.i = b.i AND a.vec_id != b.vec_id
      GROUP BY 1, 2
    ),"""
        nonzero = "\n      WHERE na.nn > 0 AND nb.nn > 0"
    return f"""
    WITH samp AS (
      SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 5 = 0
    ),
    norms AS (
      SELECT vec_id, SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nn
      FROM (SELECT vec_id, unnest(embedding) AS x FROM samp) GROUP BY 1
    ),{pairs}
    cosq AS (
      SELECT d.qid, d.nid,
             CAST(FLOOR(d.dot / (SQRT(na.nn) * SQRT(nb.nn)) * 1000000)
               AS BIGINT) AS cq
      FROM dots d JOIN norms na ON d.qid = na.vec_id
                  JOIN norms nb ON d.nid = nb.vec_id{nonzero}
    ),
    ranked AS (
      SELECT qid, nid,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cq DESC, nid ASC)
               AS rn
      FROM cosq
    ),
    per_vec AS (
      SELECT r.qid,
             SUM(CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END) AS n_same
      FROM ranked r
      JOIN nz ql ON r.qid = ql.vec_id
      JOIN nz nl ON r.nid = nl.vec_id
      WHERE r.rn <= 5 GROUP BY 1
    )
    SELECT l.label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(p.n_same) AS BIGINT) AS n_same_neighbors,
           FLOOR(SUM(p.n_same) * 1.0 / (5.0 * COUNT(*)) * 1000000)
             / 1000000.0 AS consistency
    FROM per_vec p JOIN nz l ON p.qid = l.vec_id
    GROUP BY 1 ORDER BY 1
    """


def _knn_consistency(spark: SparkSession, sf_dir: str, routed: bool) -> DataFrame:
    """e3/e3b: knn_label_consistency's top-5 cosine neighbor audit over the
    ``vec_id % 5`` sample, exact or ``routed`` through its LSH bucketing
    (6 bits) and duplicate collapse."""
    from ..operators.similarity import knn_label_consistency

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    if routed:
        return knn_label_consistency(emb, k=5, ann_bits=6, dim=64, exact_dedup_first=True)
    return knn_label_consistency(emb, k=5, ann_bits=None)


@register(
    "e3_knn_label_consistency",
    _knn_consistency_sql(False),
    survey_rows="ext:noisy-label detection (kNN label consistency); s1/s5 "
    "(cosine ranking), A11",
    description="Cleanlab-style kNN label-consistency audit over the "
    "embedding table: for each sampled vector, its 5 nearest neighbors "
    "by cosine, and per label the fraction of neighbor labels that "
    "agree — labels whose neighborhoods disagree are the mislabeled/"
    "overlapping classes a training run should re-examine. Cosines are "
    "floor-quantized to integer micro-units BEFORE ranking so the "
    "neighbor sets tie-break identically on both engines (then by "
    "neighbor id). Graded on the vec_id%5 sample with an exact "
    "all-pairs neighbor search (the oracle needs the same pairs); at "
    "100 TB the identical consistency computation consumes s3/s4 "
    "LSH/IVF candidates instead of all pairs — the routing every "
    "ANN-backed audit uses (s2's pattern). Counts are integers; the "
    "final consistency is one IEEE division, 6-dp floored.",
)
def e3_knn_label_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the graded audit is the EXACT all-pairs search on the vec_id%5 sample
    # (the oracle needs the same pairs). Because the sample is
    # PROPORTIONAL, the exact path is quadratic at scale (the 100x probe
    # aborted it); e3b grades the LSH-candidate routing for that regime.
    return _knn_consistency(spark, sf_dir, False)

@register(
    "e4_fisher_separation",
    f"""
    WITH xs AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) AS d,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000)
               AS BIGINT) AS xq
      FROM embeddings
    ),
    lsums AS (
      SELECT label, d, CAST(SUM(xq) AS BIGINT) AS sxq,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM xs GROUP BY 1, 2
    ),
    lcent AS (
      SELECT label, d, CAST(FLOOR(sxq * 1.0 / n) AS BIGINT) AS cq FROM lsums
    ),
    gcent AS (
      SELECT d, CAST(FLOOR(SUM(sxq) * 1.0 / SUM(n)) AS BIGINT) AS gq
      FROM lsums GROUP BY 1
    ),
    ssd AS (
      SELECT x.vec_id, x.label,
             SUM((x.xq - c.cq) * (x.xq - c.cq)) AS ssd_int
      FROM xs x JOIN lcent c ON x.label = c.label AND x.d = c.d
      GROUP BY 1, 2
    ),
    inter AS (
      SELECT c.label, SUM((c.cq - g.gq) * (c.cq - g.gq)) AS dist2_int
      FROM lcent c JOIN gcent g USING (d) GROUP BY 1
    ),
    intra AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
             {SQL_DAVG("ssd_int")} AS msd_int
      FROM ssd GROUP BY 1
    )
    SELECT a.label, a.n_vecs,
           FLOOR(a.msd_int / 1000000000000.0 * 1000000) / 1000000.0
             AS intra_msd,
           FLOOR(i.dist2_int / 1000000000000.0 * 1000000) / 1000000.0
             AS dist2_global,
           FLOOR(i.dist2_int / a.msd_int * 1000000) / 1000000.0
             AS separation_ratio
    FROM intra a JOIN inter i USING (label) ORDER BY a.label
    """,
    survey_rows="ext:embedding-space class separation (Fisher ratio); A9 "
    "(centroid means), M4 (between/within variance)",
    description="Fisher-style class-separation audit of the embedding "
    "space: per label, the mean squared distance of member vectors to "
    "their label centroid (within-class scatter), the squared distance "
    "of the label centroid to the global centroid (between-class "
    "scatter), and their ratio — the 'are these classes actually "
    "separable in this embedding space' health check run before anyone "
    "trains a probe on it. Exactness: coordinates floor-quantize to "
    "integer micro-units, centroids are floored integer means, so every "
    "squared distance is EXACT int64 arithmetic; per-label means go "
    "through the exact decimal-sum path and the two final unit "
    "conversions are floored IEEE chains. Shape: one explode + per-"
    "(label, dim) aggregation (64x|labels| rows), one map-side join "
    "back for scatter — no pairs, no windows; the per-dim frame stays "
    "broadcast-sized at any corpus scale.",
)
def e4_fisher_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    xs = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("d0", "x"),
    ).select(
        "vec_id",
        "label",
        (F.col("d0") + 1).alias("d"),
        F.floor(F.col("x").cast("double") * 1000000).cast("long").alias("xq"),
    )
    lsums = xs.groupBy("label", "d").agg(
        F.sum("xq").cast("long").alias("sxq"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    lcent = lsums.select(
        "label",
        "d",
        F.floor(F.col("sxq") * F.lit(1.0) / F.col("n")).cast("long").alias("cq"),
    )
    gcent = lsums.groupBy("d").agg(
        F.floor(F.sum("sxq") * F.lit(1.0) / F.sum("n")).cast("long").alias("gq")
    )
    ssd = (
        xs.join(lcent, ["label", "d"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum((F.col("xq") - F.col("cq")) * (F.col("xq") - F.col("cq")))
            .alias("ssd_int")
        )
    )
    inter = (
        lcent.join(F.broadcast(gcent), "d")
        .groupBy("label")
        .agg(
            F.sum((F.col("cq") - F.col("gq")) * (F.col("cq") - F.col("gq")))
            .cast("long")
            .alias("dist2_int")
        )
    )
    intra = ssd.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        agg.decimal_avg(F.col("ssd_int")).alias("msd_int"),
    )
    return (
        intra.join(inter, "label")
        .select(
            "label",
            "n_vecs",
            q6(F.col("msd_int") / F.lit(1000000000000.0)).alias("intra_msd"),
            q6(F.col("dist2_int") / F.lit(1000000000000.0)).alias("dist2_global"),
            q6(F.col("dist2_int") / F.col("msd_int")).alias("separation_ratio"),
        )
        .orderBy("label")
    )


@register(
    "t43_truncation_audit",
    f"""
    WITH toks AS (
      SELECT doc_id,
             len({_SQL_LOWER_WORDS}) AS ntok
      FROM documents WHERE text IS NOT NULL
    ),
    ls(ctx_len) AS (VALUES (32), (64), (128))
    SELECT ctx_len,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN ntok > ctx_len THEN 1 ELSE 0 END) AS BIGINT)
             AS n_truncated,
           CAST(SUM(ntok) AS BIGINT) AS tokens_total,
           CAST(SUM(GREATEST(ntok - ctx_len, 0)) AS BIGINT) AS tokens_lost,
           FLOOR(SUM(GREATEST(ntok - ctx_len, 0)) * 1.0 / SUM(ntok)
                 * 1000000) / 1000000.0 AS loss_frac
    FROM toks CROSS JOIN ls
    GROUP BY 1 ORDER BY 1
    """,
    survey_rows="ext:context-length truncation audit; t14 (token counts), "
    "t23 (sequence packing)",
    description="Context-length truncation audit — for each candidate "
    "context length, how many documents exceed it and what fraction of "
    "corpus tokens a hard truncation would discard (the cheap sweep run "
    "before committing to a packing config; t23's packing is the "
    "downstream consumer of the chosen length). One token-count scan "
    "crossed with the 3-row length table, one hash aggregation — "
    "all-integer until the final floored ratio.",
)
def t43_truncation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import tokens

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(F.size(tokens(F.lower(F.col("text")))).alias("ntok"))
    # range+element_at instead of createDataFrame: Range carries a static
    # maxRows bound (so the plan audit can prove the crossJoin is O(3n),
    # not both-sides-scaling) and skips the pickled-RDD scan entirely
    ls = spark.range(3).select(
        F.element_at(
            F.array(F.lit(32), F.lit(64), F.lit(128)),
            (F.col("id") + 1).cast("int"),
        ).alias("ctx_len")
    )
    lost = F.greatest(F.col("ntok") - F.col("ctx_len"), F.lit(0))
    return (
        toks.crossJoin(ls)
        .groupBy("ctx_len")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("ntok") > F.col("ctx_len"), 1).otherwise(0))
            .cast("long")
            .alias("n_truncated"),
            F.sum("ntok").cast("long").alias("tokens_total"),
            F.sum(lost).cast("long").alias("tokens_lost"),
            q6(F.sum(lost) * F.lit(1.0) / F.sum("ntok")).alias("loss_frac"),
        )
        .orderBy("ctx_len")
    )


@register(
    "t44_rolling_origin_folds",
    """
    WITH e AS (
      SELECT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    origin AS (SELECT MIN(day) AS d0 FROM e),
    di AS (
      SELECT user_id, date_diff('day', d0, day) AS idx FROM e CROSS JOIN origin
    ),
    folds(fold) AS (VALUES (0), (1), (2)),
    marked AS (
      SELECT f.fold, d.user_id,
             CASE WHEN d.idx < 7 * (f.fold + 1) THEN 'train'
                  WHEN d.idx < 7 * (f.fold + 2) THEN 'test'
                  ELSE NULL END AS part
      FROM di d CROSS JOIN folds f
    ),
    counts AS (
      SELECT fold,
             CAST(SUM(CASE WHEN part = 'train' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_train,
             CAST(SUM(CASE WHEN part = 'test' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_test
      FROM marked GROUP BY 1
    ),
    test_users AS (
      SELECT fold, user_id FROM marked WHERE part = 'test' GROUP BY 1, 2
    ),
    train_users AS (
      SELECT fold, user_id FROM marked WHERE part = 'train' GROUP BY 1, 2
    ),
    cold AS (
      SELECT t.fold,
             CAST(COUNT(*) AS BIGINT) AS test_users,
             CAST(SUM(CASE WHEN tr.user_id IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS new_users
      FROM test_users t
      LEFT JOIN train_users tr ON t.fold = tr.fold AND t.user_id = tr.user_id
      GROUP BY 1
    )
    SELECT c.fold, c.n_train, c.n_test, d.test_users, d.new_users,
           FLOOR(d.new_users * 1.0 / d.test_users * 1000000) / 1000000.0
             AS cold_start_frac
    FROM counts c JOIN cold d USING (fold) ORDER BY c.fold
    """,
    survey_rows="ext:rolling-origin backtest folds; t13 (k-fold), W4 "
    "(time bucketing), J4 (anti-join)",
    description="Rolling-origin (expanding-window) backtest folds over "
    "the event stream — the time-respecting alternative to t13's random "
    "k-fold that every forecasting/recommendation evaluation needs: "
    "fold k trains on the first 7*(k+1) days and tests on the following "
    "7, and the report carries each fold's sizes plus the cold-start "
    "fraction (test users never seen in training — the metric that "
    "decides whether a user-history model can be evaluated at all). "
    "One date-index scan crossed with the 3-row fold table, distinct-"
    "user frames joined per fold; all counts exact integers, one "
    "floored division. The fold table is a literal; the per-fold "
    "distinct-user frames are the only shuffles and key on (fold, "
    "user) — no windows, no pairs.",
)
def t44_rolling_origin_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    origin = ev.agg(F.min("day").alias("d0"))
    di = ev.crossJoin(origin).select("user_id", F.datediff(F.col("day"), F.col("d0")).alias("idx"))
    # range, not createDataFrame: the static 3-row bound is visible to the
    # plan audit and there is no pickled-RDD scan (see t43)
    folds = spark.range(3).select(F.col("id").cast("int").alias("fold"))
    marked = di.crossJoin(folds).select(
        "fold",
        "user_id",
        F.when(F.col("idx") < 7 * (F.col("fold") + 1), "train")
        .when(F.col("idx") < 7 * (F.col("fold") + 2), "test")
        .alias("part"),
    )
    counts = marked.groupBy("fold").agg(
        F.sum(F.when(F.col("part") == "train", 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
        F.sum(F.when(F.col("part") == "test", 1).otherwise(0))
        .cast("long")
        .alias("n_test"),
    )
    test_users = (
        marked.filter(F.col("part") == "test").select("fold", "user_id").distinct()
    )
    train_users = (
        marked.filter(F.col("part") == "train").select("fold", "user_id").distinct()
    )
    cold = (
        test_users.join(
            train_users.withColumn("seen", F.lit(1)), ["fold", "user_id"], "left"
        )
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("test_users"),
            F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("new_users"),
        )
    )
    return (
        counts.join(cold, "fold")
        .select(
            "fold",
            "n_train",
            "n_test",
            "test_users",
            "new_users",
            q6(F.col("new_users") * F.lit(1.0) / F.col("test_users")).alias(
                "cold_start_frac"
            ),
        )
        .orderBy("fold")
    )


# ===========================================================================
# A fully ORACLE-BACKED HyperLogLog (the portable-hash
# trick upgrades the sketch family from rows-only to bit-exact), quantile
# normalization across sources, and robust (MAD) anomaly detection.
# ===========================================================================


def _hll_report(users: DataFrame, regs: DataFrame) -> DataFrame:
    """t45/st11's report: per event type the exact distinct ``user_id``
    count of ``users`` beside the HyperLogLog estimate from register maxima
    ``regs`` (built from the batch or merged from the stream)."""
    from ..operators.sketches import hll_estimate

    corrected = hll_estimate(regs, ["event_type"])
    exact = users.groupBy("event_type").agg(
        F.count_distinct(F.col("user_id")).cast("long").alias("n_exact")
    )
    return (
        corrected.join(exact, "event_type")
        .select(
            "event_type",
            "n_exact",
            q6(F.col("e_hll")).alias("hll_estimate"),
            q6(
                (F.col("e_hll") - F.col("n_exact")) / F.col("n_exact")
            ).alias("rel_error"),
        )
        .orderBy("event_type")
    )


@register(
    "t45_portable_hll_distinct",
    """
    WITH h AS (
      SELECT event_type,
             md5_number_lower(CAST(user_id AS VARCHAR)) AS hv
      FROM events WHERE user_id IS NOT NULL
    ),
    rw AS (
      SELECT event_type,
             CAST(hv % 256 AS BIGINT) AS reg,
             CAST(hv >> 8 AS BIGINT) AS w
      FROM h
    ),
    rho AS (
      SELECT event_type, reg,
             CASE WHEN w = 0 THEN 57
                  ELSE LENGTH(BIN(w & (-w))) END AS rho
      FROM rw
    ),
    regs AS (
      SELECT event_type, reg, MAX(rho) AS maxrho FROM rho GROUP BY 1, 2
    ),
    z AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_regs,
             SUM(CAST(POWER(2.0, 62 - maxrho) AS DECIMAL(38,0))) AS s_present
      FROM regs GROUP BY 1
    ),
    est AS (
      SELECT event_type, n_regs,
             (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
               * POWER(2.0, 62)
               / CAST(s_present + (256 - n_regs)
                      * CAST(POWER(2.0, 62) AS DECIMAL(38,0)) AS DOUBLE)
               AS e_raw
      FROM z
    ),
    corrected AS (
      SELECT event_type, n_regs,
             CASE WHEN e_raw <= 2.5 * 256.0 AND n_regs < 256
                  THEN 256.0 * LN(256.0 / (256.0 - n_regs))
                  ELSE e_raw END AS e_hll
      FROM est
    ),
    exact AS (
      SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    )
    SELECT c.event_type, x.n_exact,
           FLOOR(c.e_hll * 1000000) / 1000000.0 AS hll_estimate,
           FLOOR((c.e_hll - x.n_exact) / x.n_exact * 1000000) / 1000000.0
             AS rel_error
    FROM corrected c JOIN exact x USING (event_type)
    ORDER BY c.event_type
    """,
    survey_rows="ext:mergeable distinct sketch (HyperLogLog, oracle-"
    "backed); A12 (count-distinct), t38 (sketch accuracy)",
    description="A from-scratch HyperLogLog distinct-user estimate per "
    "event type, ORACLE-VERIFIED bit-for-bit — the trick that upgrades "
    "the sketch family from rows-only grading: both engines derive the "
    "64-bit hash from md5 (md5_number_lower mirror), the register is "
    "the low 8 bits, the rank is the first-set-bit position of the "
    "remaining 56 (computed portably as LENGTH(BIN(w & -w)) — no "
    "floating log), register maxima merge exactly, and the harmonic "
    "denominator sums EXACT DECIMAL(38,0) powers of two. Linear-"
    "counting small-range correction applied below 2.5m. The per-"
    "(group, register) max IS the production shuffle shape: partial "
    "maxima merge map-side, the reduced state is 256 rows per group "
    "forever — the mergeable-sketch property approx_count_distinct "
    "uses, demonstrated openly. The estimator itself is a fixed IEEE "
    "chain on exact integers, so cross-engine equality is exact; the "
    "report carries the exact count and signed relative error "
    "(estimator-accuracy audit, t38's HLL sibling).",
)
def t45_portable_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import hll_register_frame

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return _hll_report(ev, hll_register_frame(ev, ["event_type"], F.col("user_id")))


@register(
    "f20_quantile_normalization",
    f"""
    WITH {_HASHED_SCORES_SQL},
    src AS (
      SELECT doc_id, source, score,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY score, doc_id)
               AS rn_s,
             COUNT(*) OVER (PARTITION BY source) AS n_s
      FROM doc_scores
    ),
    pos AS (
      SELECT doc_id, source,
             CASE WHEN n_s > 1
                  THEN CAST(FLOOR((rn_s - 1) * 10000.0 / (n_s - 1)) AS BIGINT)
                  ELSE 0 END AS p
      FROM src
    ),
    pooled AS (
      SELECT score,
             ROW_NUMBER() OVER (ORDER BY score, doc_id) AS rn_g,
             COUNT(*) OVER () AS n_g
      FROM doc_scores
    ),
    mapped AS (
      SELECT p.doc_id, p.source, g.score AS qnorm
      FROM pos p JOIN pooled g
        ON g.rn_g = CAST(FLOOR(p.p * (g.n_g - 1) / 10000.0) AS BIGINT) + 1
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           FLOOR(MIN(qnorm) * 1000000) / 1000000.0 AS min_qnorm,
           FLOOR(MAX(qnorm) * 1000000) / 1000000.0 AS max_qnorm,
           FLOOR(CAST(SUM(CAST(FLOOR(qnorm * 1000000) / 1000000.0
                   AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) * 1000000)
             / 1000000.0 AS mean_qnorm
    FROM mapped GROUP BY 1 ORDER BY 1
    """,
    survey_rows="ext:quantile normalization (batch-effect correction); W6 "
    "(ranking), F13 (scaling)",
    description="Quantile normalization of the t34 classifier score "
    "across sources — the batch-effect correction that maps every "
    "source's score distribution onto the pooled distribution so a "
    "single keep-threshold means the same thing for every source "
    "(without it, a threshold tuned on one crawl over- or under-filters "
    "the others): within-source rank → basis-point position → the "
    "pooled score at the same position. All positions are exact integer "
    "arithmetic (bp grid, floored index), so the engines pick identical "
    "pooled values; the per-source mean goes through the 6-dp-floor + "
    "decimal-sum discipline. Graded with exact global ranking; at 100 "
    "TB the pooled side becomes a q-digest/percentile_approx grid "
    "(m10's routing) while the per-source ranks stay "
    "partition-parallel.",
)
def f20_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ds = _hashed_doc_scores(spark, sf_dir)
    w_src = Window.partitionBy("source").orderBy("score", "doc_id")
    src = ds.select(
        "doc_id",
        "source",
        "score",
        F.row_number().over(w_src).alias("rn_s"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n_s"),
    )
    pos = src.select(
        "doc_id",
        "source",
        F.when(
            F.col("n_s") > 1,
            F.floor((F.col("rn_s") - 1) * F.lit(10000.0) / (F.col("n_s") - 1)),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("p"),
    )
    w_g = Window.orderBy("score", "doc_id")
    glob = ds.select("score", F.row_number().over(w_g).alias("rn_g"))
    # n_g attached as a broadcast 1-row scalar so the grid position is
    # computable ON THE POS SIDE — the join below is then a plain integer
    # equi-join. The original formulation kept n_g as a glob-side window
    # count inside the join condition, which mixes both sides' columns:
    # Catalyst cannot extract equi-keys from that and falls back to
    # BroadcastNestedLoopJoin — O(|pos|·|glob|) predicate evaluations,
    # the 100× probe's third find (it never finished; the
    # equi-join version is linear).
    n_g_row = ds.agg(F.count(F.lit(1)).alias("n_g"))
    mapped = (
        pos.crossJoin(n_g_row)
        .select(
            "source",
            (F.floor(F.col("p") * (F.col("n_g") - 1) / F.lit(10000.0)) + 1).alias(
                "rn_key"
            ),
        )
        .join(glob, F.col("rn_key") == F.col("rn_g"))
        .select("source", F.col("score").alias("qnorm"))
    )
    return (
        mapped.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            q6(F.min("qnorm")).alias("min_qnorm"),
            q6(F.max("qnorm")).alias("max_qnorm"),
            q6(agg.decimal_avg(q6(F.col("qnorm")))).alias("mean_qnorm"),
        )
        .orderBy("source")
    )


@register(
    "w24_robust_anomaly_days",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(FLOOR(CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
                  * 1000000) AS BIGINT) AS tq
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    med AS (
      SELECT event_type, MEDIAN(tq) AS med FROM daily GROUP BY 1
    ),
    dev AS (
      SELECT d.event_type, d.day, d.tq, m.med,
             ABS(2 * d.tq - CAST(2 * m.med AS BIGINT)) AS dev2
      FROM daily d JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, MEDIAN(dev2) AS mad2 FROM dev GROUP BY 1
    ),
    scored AS (
      SELECT d.event_type, d.day, d.tq, d.med, d.dev2, m.mad2
      FROM dev d JOIN mad m USING (event_type)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           FLOOR(ANY_VALUE(med) / 1000000.0 * 1000000) / 1000000.0
             AS median_total,
           FLOOR(ANY_VALUE(mad2) / 2000000.0 * 1000000) / 1000000.0
             AS mad_total,
           CAST(SUM(CASE WHEN dev2 * 1.0 > 3.0 * 1.4826 * mad2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
           FLOOR(COALESCE(MAX(CASE WHEN mad2 > 0
                          THEN dev2 * 1.0 / (1.4826 * mad2) END), 0.0)
                 * 1000000) / 1000000.0 AS max_abs_z
    FROM scored GROUP BY 1 ORDER BY 1
    """,
    survey_rows="ext:robust anomaly detection (median/MAD z-scores); M12 "
    "(MAD), W4 (time bucketing), dq4 (volume anomalies)",
    description="Robust daily-volume anomaly audit per event type: "
    "median and MAD of the integer-quantized daily totals, and days "
    "flagged when |total - median| exceeds 3 robust standard deviations "
    "(1.4826·MAD — the outlier rule that, unlike mean/stddev, is not "
    "dragged by the anomalies it hunts; m12's MAD applied at the "
    "time-series grain, dq4's robust sibling). Exactness: totals are "
    "integer micro-units; deviations are DOUBLED so the even-count "
    "median interpolation stays integral; every comparison is a fixed "
    "IEEE chain on exact integers, identical on both engines. The "
    "daily frame is |types|x|days| — medians run on tiny groups; at "
    "raw scale the pre-aggregation is the only pass over the events "
    "table.",
)
def w24_robust_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_micro_sums(spark, sf_dir, "tq")
    med = daily.groupBy("event_type").agg(
        F.expr("percentile(tq, 0.5)").alias("med")
    )
    dev = daily.join(F.broadcast(med), "event_type").select(
        "event_type",
        "day",
        "tq",
        "med",
        F.abs(
            F.lit(2) * F.col("tq") - (F.lit(2) * F.col("med")).cast("long")
        ).alias("dev2"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(dev2, 0.5)").alias("mad2")
    )
    scored = dev.join(F.broadcast(mad), "event_type")
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            q6(F.any_value(F.col("med")) / F.lit(1000000.0)).alias("median_total"),
            q6(F.any_value(F.col("mad2")) / F.lit(2000000.0)).alias("mad_total"),
            F.sum(
                F.when(
                    F.col("dev2") * F.lit(1.0)
                    > F.lit(3.0) * F.lit(1.4826) * F.col("mad2"),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_anomalies"),
            # coalesce to 0.0 when NO day in the group has mad2 > 0 (a
            # degenerate all-identical-totals group): a NULL double here
            # surfaces as pandas None on the Spark side but NaN through
            # DuckDB's .df(), which the driver's strict cell compare
            # flags — a reseeded fixture found it
            q6(
                F.coalesce(
                    F.max(
                        F.when(
                            F.col("mad2") > 0,
                            F.col("dev2") * F.lit(1.0)
                            / (F.lit(1.4826) * F.col("mad2")),
                        )
                    ),
                    F.lit(0.0),
                )
            ).alias("max_abs_z"),
        )
        .orderBy("event_type")
    )


# ===========================================================================
# The Poisson bootstrap (the resampling scheme that actually works
# distributed: per-row hash-derived Poisson(1) weights, no sampling pass)
# and an embedding-norm outlier audit.
# ===========================================================================

#: Poisson(1) inverse-CDF thresholds on the 2^-20 uniform grid; identical
#: literals on both engines so the weight branch can never diverge.
_POIS_CDF = [
    (0.367879441, 0),
    (0.735758882, 1),
    (0.919698603, 2),
    (0.981011843, 3),
    (0.996340153, 4),
    (0.999405815, 5),
]


#: ``reps(r, p)``: replicate ``r`` and ``p = 48271^(r+1) mod (2^31 − 1)``,
#: the multiplier that takes a row's MINSTD stream to its state ``r + 1``
#: (``stats.resample.lehmer_uniforms``); needs ``WITH RECURSIVE``.
_REPS_CTE = """reps(r, p) AS (
      SELECT 0, CAST(48271 AS BIGINT)
      UNION ALL SELECT r + 1, p * 48271 % 2147483647 FROM reps WHERE r < 199
    )"""


def _lehmer_u_sql(seed: str) -> str:
    """Replicate ``rp.r``'s uniform for a row: its MINSTD stream starts at
    ``seed mod (2^31 − 2) + 1`` (``stats.resample.lehmer_uniforms``)."""
    return f"((({seed} % 2147483646) + 1) * rp.p) % 2147483647 / 2147483647.0"


def _pois_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {thr!r} THEN {k}" for thr, k in _POIS_CDF
    )
    return f"(CASE {branches} ELSE 6 END)"


@register(
    "m25_poisson_bootstrap_ci",
    f"""
    WITH RECURSIVE {_REPS_CTE},
    seeded AS (
      SELECT event_type, value,
             CAST(md5_number_lower(CAST(event_id AS VARCHAR)) % 2147483648
               AS BIGINT) AS seed
      FROM events WHERE value IS NOT NULL
    ),
    weighted AS (
      SELECT e.event_type, rp.r, e.value,
             {_pois_sql(_lehmer_u_sql("e.seed"))}
               AS w
      FROM seeded e CROSS JOIN reps rp
    ),
    rep_means AS (
      SELECT event_type, r,
             {SQL_DSUM("w * value")} / SUM(w) AS mean_r
      FROM weighted GROUP BY 1, 2 HAVING SUM(w) > 0
    ),
    ranked AS (
      SELECT event_type, mean_r,
             ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY mean_r, r) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n_reps
      FROM rep_means
    ),
    ci AS (
      SELECT event_type,
             MAX(CASE WHEN rn = 5 THEN mean_r END) AS lo,
             MAX(CASE WHEN rn = 196 THEN mean_r END) AS hi,
             CAST(MAX(n_reps) AS BIGINT) AS n_reps
      FROM ranked GROUP BY 1
    ),
    pt AS (
      SELECT event_type, CAST(COUNT(value) AS BIGINT) AS n_rows,
             {SQL_Q6(SQL_DAVG("value"))} AS point_mean
      FROM events WHERE value IS NOT NULL GROUP BY 1
    )
    SELECT p.event_type, p.n_rows, c.n_reps, p.point_mean,
           FLOOR(c.lo * 1000000) / 1000000.0 AS ci_lo,
           FLOOR(c.hi * 1000000) / 1000000.0 AS ci_hi
    FROM pt p JOIN ci c USING (event_type) ORDER BY p.event_type
    """,
    survey_rows="ext:bootstrap confidence intervals (Poisson bootstrap); "
    "M1 (group CIs), t12 (hash determinism)",
    description="Poisson-bootstrap 95% confidence interval for the mean "
    "value per event type — the bootstrap that actually distributes: "
    "instead of drawing n rows with replacement (a global operation), "
    "each row gets an independent Poisson(1) multiplicity per replicate, "
    "derived HERE from ONE md5-portable hash per row that seeds the row's "
    "MINSTD stream (t12's generator family; replicate r reads the "
    "stream's state r+1, one integer product with a per-replicate "
    "multiplier, so the fan-out is pure integer arithmetic and the "
    "replicates are independent draws) and the inverse CDF on the "
    "1/(2^31-1) uniform grid — fully "
    "deterministic, so the oracle reproduces every weight bit-for-bit. "
    "200 replicates; replicate means are exact decimal sums over "
    "hash-weighted values; the CI takes ORDER STATISTICS (5th / 196th "
    "of 200) rather than interpolated quantiles so no interpolation "
    "formula can diverge. Shape: one fused Arrow pass "
    "(stats.resample) adds every replicate's sums per partition, so the "
    "200x row multiplier and its aggregation shuffle never exist — "
    "embarrassingly parallel, no resampling pass, the exact scheme "
    "production systems use for CIs over massive aggregations. M1's "
    "normal-theory CI is the parametric twin; this one is "
    "distribution-free.",
)
def m25_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import md5_token_hash64
    from ..stats.resample import lehmer_replicate_sums, unscaled6

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # outcome k is the Poisson(1) weight w and adds cast(k·value AS
    # decimal(27,6)), the oracle's CAST(w * value AS DECIMAL(27,6)); w = 0
    # adds the exact zero
    reps = lehmer_replicate_sums(
        ev,
        "event_type",
        md5_token_hash64(F.col("event_id").cast("string")).bitwiseAND(F.lit(2147483647)),
        [F.lit(0), *[unscaled6(F.col("value") * F.lit(float(k))) for k in range(1, 7)]],
        [thr for thr, _ in _POIS_CDF],
    )
    rows = []
    # a NULL event_type never matches the oracle's equi-join of pt and ci
    for event_type in sorted(k for k in reps if k is not None):
        s = reps[event_type]
        # (mean_r, r) for every replicate with SUM(w) > 0; the decimal sum
        # becomes a double first (correctly rounded, as Spark's cast)
        means = sorted(
            (sum(sm) / 10**6 / sw, r)
            for r, (cnt, sm) in enumerate(zip(s.counts, s.sums))
            if (sw := sum(w * c for w, c in enumerate(cnt))) > 0
        )
        if not means:
            continue
        lo = _floor6(means[4][0]) if len(means) >= 5 else None
        hi = _floor6(means[195][0]) if len(means) >= 196 else None
        point_mean = _floor6(s.totals[1] / 10**6 / s.n)
        rows.append((event_type, s.n, len(means), point_mean, lo, hi))
    return local_frame(
        spark,
        rows,
        "event_type string, n_rows long, n_reps long, point_mean double, ci_lo double, ci_hi double",
    )


@register(
    "e5_dimension_collapse_audit",
    """
    WITH xs AS (
      SELECT generate_subscripts(embedding, 1) AS d,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000)
               AS BIGINT) AS xq
      FROM embeddings
    ),
    stats AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(xq AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s1,
             CAST(SUM(CAST(xq AS DECIMAL(38,0)) * CAST(xq AS DECIMAL(38,0)))
               AS DECIMAL(38,0)) AS s2
      FROM xs GROUP BY 1
    )
    SELECT d, n,
           FLOOR(CAST(s1 AS DOUBLE) / n / 1000000.0 * 1000000) / 1000000.0
             AS mean_x,
           FLOOR(CAST(n * s2 - s1 * s1 AS DOUBLE) / (CAST(n AS DOUBLE) * n)
                 / 1000000000000.0 * 1000000) / 1000000.0 AS var_x,
           CASE WHEN CAST(n * s2 - s1 * s1 AS DOUBLE)
                     / (CAST(n AS DOUBLE) * n) / 1000000000000.0 < 0.0001
                THEN 1 ELSE 0 END AS is_collapsed
    FROM stats ORDER BY d
    """,
    survey_rows="ext:embedding dimension-collapse audit; M9 (moment "
    "stats), e4 (embedding-space health)",
    description="Per-dimension health audit of the embedding space: mean "
    "and variance of every coordinate, with dimensions flagged when "
    "variance falls below 1e-4 — dimension collapse (dead or "
    "near-constant coordinates) is the classic failure of learned "
    "embeddings and silently wastes index space and distance "
    "resolution; this is the check run before committing an embedding "
    "version to an index build. Exactness: coordinates floor-quantize "
    "to integer micro-units and the variance comes from the integer "
    "sufficient statistics (n*S2 - S1^2) carried in DECIMAL(38,0) so "
    "no float accumulation exists on either engine; the two final unit "
    "conversions are fixed floored IEEE chains. One explode + one "
    "64-group aggregation with map-side partials — the frame after the "
    "shuffle is |dims| rows at any corpus scale.",
)
def e5_dimension_collapse_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    xs = emb.select(F.posexplode(F.col("embedding")).alias("d0", "x")).select(
        (F.col("d0") + 1).alias("d"),
        F.floor(F.col("x").cast("double") * 1000000).cast("long").alias("xq"),
    )
    stats = xs.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("xq").cast("decimal(38,0)")).cast("decimal(38,0)").alias("s1"),
        F.sum(
            F.col("xq").cast("decimal(38,0)") * F.col("xq").cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("s2"),
    )
    var_x = (
        (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
        / (F.col("n").cast("double") * F.col("n"))
        / F.lit(1000000000000.0)
    )
    return stats.select(
        "d",
        "n",
        q6(F.col("s1").cast("double") / F.col("n") / F.lit(1000000.0)).alias(
            "mean_x"
        ),
        q6(var_x).alias("var_x"),
        F.when(var_x < F.lit(0.0001), 1).otherwise(0).alias("is_collapsed"),
    ).orderBy("d")


# ===========================================================================
# Streaming mergeable HLL (t45's foreachBatch twin),
# Theil-Sen robust trend, and the per-item recommendation table.
# ===========================================================================


@register(
    "st11_streaming_hll_distinct",
    CORPUS["t45_portable_hll_distinct"].oracle,
    survey_rows="§2.8 streaming ext (mergeable distinct sketch); ext:t45 twin",
    description="Streaming twin of t45's portable HyperLogLog — the shape "
    "a production pipeline actually runs (continuous distinct-user "
    "counting without storing user sets): each events micro-batch "
    "reduces to HLL register maxima via foreachBatch, the sink "
    "max-merges partials across batches, and because register maxima "
    "are MERGEABLE under any input split, the merged registers — and "
    "therefore the estimate, a deterministic function of them — equal "
    "the batch computation BIT-FOR-BIT. The oracle IS t45's oracle: "
    "streaming and batch must agree exactly, the strongest "
    "split-invariance statement the gate can express (st10's pattern "
    "applied to the sketch family). Per-batch state is ≤ 256 rows per "
    "group; the stream never accumulates raw identities.",
)
def st11_streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.ingest import hll_partials_foreach_batch, read_events_stream

    stream = read_events_stream(spark, sf_dir)
    sink: list = []
    hll_partials_foreach_batch(stream, sink)
    rows = [r for _, batch in sink for r in batch]
    partials = local_frame(spark, rows, "event_type string, reg long, maxrho int")
    regs = partials.groupBy("event_type", "reg").agg(
        F.max("maxrho").alias("maxrho")
    )
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return _hll_report(ev, regs)


@register(
    "m26_theil_sen_trend",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(FLOOR(CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
                  * 1000000) AS BIGINT) AS tq
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    origin AS (SELECT event_type, MIN(day) AS d0 FROM daily GROUP BY 1),
    idx AS (
      SELECT d.event_type, date_diff('day', o.d0, d.day) AS x, d.tq
      FROM daily d JOIN origin o USING (event_type)
    ),
    slopes AS (
      SELECT a.event_type,
             ((b.tq - a.tq) * 1.0 / (b.x - a.x)) / 1000000.0 AS slope
      FROM idx a JOIN idx b
        ON a.event_type = b.event_type AND a.x < b.x
    ),
    sl AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             MEDIAN(slope) AS slope
      FROM slopes GROUP BY 1
    ),
    resid AS (
      SELECT i.event_type, i.tq / 1000000.0 - s.slope * i.x AS r0
      FROM idx i JOIN sl s USING (event_type)
    ),
    ic AS (
      SELECT event_type, MEDIAN(r0) AS intercept FROM resid GROUP BY 1
    ),
    nd AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days FROM idx GROUP BY 1
    )
    SELECT s.event_type, n.n_days, s.n_pairs,
           FLOOR(s.slope * 1000000) / 1000000.0 AS slope_per_day,
           FLOOR(i.intercept * 1000000) / 1000000.0 AS intercept
    FROM sl s JOIN ic i USING (event_type) JOIN nd n USING (event_type)
    ORDER BY s.event_type
    """,
    survey_rows="ext:robust trend estimation (Theil-Sen); M7 (OLS twin), "
    "W4 (time bucketing)",
    description="Theil-Sen robust trend per event type over the daily "
    "value totals: the slope is the MEDIAN of all pairwise day-to-day "
    "slopes and the intercept the median residual — the trend estimator "
    "that tolerates up to ~29% outlier days, where m7's OLS line is "
    "dragged by a single anomalous day (w24 flags those; this "
    "estimates through them). The pair enumeration is per event type "
    "over the DAILY frame — |days|² per type, bounded and tiny at any "
    "raw-event scale because the aggregation happens first; at 100 TB "
    "the only pass over raw events is the daily pre-aggregation. Daily "
    "totals are integer micro-units, each pairwise slope a fixed IEEE "
    "chain on exact integers, and both engines take medians of "
    "identical double multisets (interpolation of identical values is "
    "identical), 6-dp floored at the boundary.",
)
def m26_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_micro_sums(spark, sf_dir, "tq")
    origin = daily.groupBy("event_type").agg(F.min("day").alias("d0"))
    idx = daily.join(F.broadcast(origin), "event_type").select(
        "event_type", F.datediff(F.col("day"), F.col("d0")).alias("x"), "tq"
    )
    a = idx.toDF("event_type", "xa", "tqa")
    b = idx.toDF("event_type", "xb", "tqb")
    slopes = (
        a.join(b, "event_type")
        .filter(F.col("xa") < F.col("xb"))
        .select(
            "event_type",
            (
                ((F.col("tqb") - F.col("tqa")) * F.lit(1.0) / (F.col("xb") - F.col("xa")))
                / F.lit(1000000.0)
            ).alias("slope"),
        )
    )
    sl = slopes.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr("percentile(slope, 0.5)").alias("slope"),
    )
    resid = idx.join(F.broadcast(sl), "event_type").select(
        "event_type",
        (F.col("tq") / F.lit(1000000.0) - F.col("slope") * F.col("x")).alias("r0"),
    )
    ic = resid.groupBy("event_type").agg(
        F.expr("percentile(r0, 0.5)").alias("intercept")
    )
    nd = idx.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return (
        sl.join(ic, "event_type")
        .join(nd, "event_type")
        .select(
            "event_type",
            "n_days",
            "n_pairs",
            q6(F.col("slope")).alias("slope_per_day"),
            q6(F.col("intercept")).alias("intercept"),
        )
        .orderBy("event_type")
    )


@register(
    "r2_item_topk_neighbors",
    f"""
    WITH {_SQL_UI_CTE},
    cnt AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n FROM ui GROUP BY 1),
    pairs AS (
      SELECT a.item AS item_a, b.item AS item_b, CAST(COUNT(*) AS BIGINT) AS n_co
      FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
      GROUP BY 1, 2
    ),
    directional AS (
      SELECT item_a AS item, item_b AS neighbor, n_co FROM pairs
      UNION ALL
      SELECT item_b, item_a, n_co FROM pairs
    ),
    scored AS (
      SELECT d.item, d.neighbor, d.n_co,
             CAST(FLOOR(d.n_co / SQRT(ci.n * cn.n) * 1000000) AS BIGINT)
               AS cos_q
      FROM directional d
      JOIN cnt ci ON d.item = ci.item
      JOIN cnt cn ON d.neighbor = cn.item
    ),
    ranked AS (
      SELECT item, neighbor, n_co, cos_q,
             ROW_NUMBER() OVER (PARTITION BY item
               ORDER BY cos_q DESC, neighbor ASC) AS rank
      FROM scored
    )
    SELECT item, rank, neighbor, n_co, cos_q / 1000000.0 AS cosine
    FROM ranked WHERE rank <= 3 ORDER BY item, rank
    """,
    survey_rows="ext:recommendation serving table (top-k item neighbors); "
    "r1 (co-visitation), W6 (per-group ranking)",
    description="The per-item recommendation table — top-3 neighbors per "
    "item by co-visitation cosine — i.e. the artifact a recommender "
    "actually serves, where r1's global top-20 is the diagnostic view: "
    "r1's user-keyed pair counts, mirrored to both orientations, "
    "cosine-scored, then one per-item ranking window. Cosines are "
    "floor-quantized to integer micro-units BEFORE ranking (e3's "
    "discipline) so rank ties break identically by neighbor id on both "
    "engines. The ranking window partitions by item over the |items|² "
    "-bounded pair frame — never the raw events; same basket-cap scale "
    "note as r1.",
)
def r2_item_topk_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    ui, co = _covis_shared(spark, sf_dir)
    cnt = ui.groupBy("item").agg(F.count(F.lit(1)).alias("n"))
    pairs = co.toDF("item_a", "item_b", "n_co")
    directional = pairs.select(
        F.col("item_a").alias("item"),
        F.col("item_b").alias("neighbor"),
        "n_co",
    ).unionAll(
        pairs.select(
            F.col("item_b").alias("item"),
            F.col("item_a").alias("neighbor"),
            "n_co",
        )
    )
    scored = (
        directional.join(cnt.toDF("item", "n_i"), "item")
        .join(cnt.toDF("neighbor", "n_n"), "neighbor")
        .select(
            "item",
            "neighbor",
            "n_co",
            F.floor(
                F.col("n_co") / F.sqrt(F.col("n_i") * F.col("n_n")) * 1000000
            ).cast("long").alias("cos_q"),
        )
    )
    w = Window.partitionBy("item").orderBy(F.desc("cos_q"), F.asc("neighbor"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "item",
            "rank",
            "neighbor",
            "n_co",
            (F.col("cos_q") / F.lit(1000000.0)).alias("cosine"),
        )
        .orderBy("item", "rank")
    )


# ===========================================================================
# Bounded BFS reachability over the co-visitation
# graph, a Johnson-Lindenstrauss projection distortion audit, and
# equi-depth histograms.
# ===========================================================================


@register(
    "g4_bfs_reachability",
    f"""
    WITH {_SQL_UI_CTE},
    pairs AS (
      SELECT a.item AS s, b.item AS t, COUNT(*) AS n_co
      FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    edges AS (
      SELECT s, t FROM pairs UNION ALL SELECT t, s FROM pairs
    ),
    d0 AS (SELECT 0 AS item, 0 AS dist),
    d1 AS (
      SELECT e.t AS item, 1 AS dist FROM edges e JOIN d0 ON e.s = d0.item
      GROUP BY 1
    ),
    d2 AS (
      SELECT e.t AS item, 2 AS dist FROM edges e JOIN d1 ON e.s = d1.item
      GROUP BY 1
    ),
    d3 AS (
      SELECT e.t AS item, 3 AS dist FROM edges e JOIN d2 ON e.s = d2.item
      GROUP BY 1
    ),
    allv AS (
      SELECT item, dist FROM d0 UNION ALL SELECT item, dist FROM d1
      UNION ALL SELECT item, dist FROM d2 UNION ALL SELECT item, dist FROM d3
    ),
    md AS (SELECT item, MIN(dist) AS dist FROM allv GROUP BY 1)
    SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_items
    FROM md GROUP BY 1 ORDER BY 1
    """,
    survey_rows="ext:bounded BFS reachability (graph neighborhood size); "
    "g1/g2 (graph family), r1 (co-visitation edges)",
    description="Breadth-first reachability from a seed item over the "
    "co-visitation graph (edges with co-count >= 2), bounded at 3 hops: "
    "how many items sit at each minimum distance — the neighborhood-"
    "growth curve that tells a recommender whether the item graph is "
    "connected enough for graph-walk features (g1's PageRank converges "
    "on the same structure). Bounded-depth BFS is ITERATION AS JOINS: "
    "each hop is one equi-join of the frontier against the edge list "
    "plus a distinct — three joins total, no driver loop, the exact "
    "shape a 100 TB BFS uses (frontier and edges both stay "
    "distributed). All counts integer; min-distance resolution is a "
    "hash aggregation.",
)
def g4_bfs_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, co = _covis_shared(spark, sf_dir)
    pairs = co.toDF("s", "t", "n_co").filter(F.col("n_co") >= 2)
    edges = osk.materialize(
        pairs.select("s", "t").unionAll(
            pairs.select(F.col("t").alias("s"), F.col("s").alias("t"))
        )
    )
    frontier = local_frame(spark, [(0, 0)], "item int, dist int")
    layers = [frontier]
    for hop in (1, 2, 3):
        frontier = (
            edges.join(
                frontier.select(F.col("item").alias("s")), "s"
            )
            .select(F.col("t").alias("item"))
            .distinct()
            .withColumn("dist", F.lit(hop))
        )
        layers.append(frontier)
    allv = layers[0]
    for l in layers[1:]:
        allv = allv.unionAll(l)
    md = allv.groupBy("item").agg(F.min("dist").alias("dist"))
    return (
        md.groupBy("dist")
        .agg(F.count(F.lit(1)).cast("long").alias("n_items"))
        .orderBy("dist")
    )


def _e6_oracle_sql(sample_mod: int | None = None) -> str:
    """Generated DuckDB mirror of the JL projection audit: the same LCG
    plane constants as the Spark side, each projected coordinate an
    explicit left-assoc sum over the pair DIFFERENCE vector.

    ``sample_mod=M`` mirrors the operator's ``hash_sample_mod`` routing:
    keep ids whose md5 hash's low 31 bits ≡ 0 (mod M) on both sides (the
    31-bit mask is what makes the predicate identical across Spark's
    signed long and DuckDB's UBIGINT)."""
    from ..operators.similarity import _hyperplanes

    samp = (
        ""
        if sample_mod is None
        else f" AND (md5_number_lower(CAST(vec_id AS VARCHAR)) & 2147483647)"
        f" % {sample_mod} = 0"
    )
    planes = _hyperplanes(64, 8, seed=7)
    proj_sq = []
    for plane in planes:
        dot = " + ".join(
            f"(CAST(a.embedding[{j + 1}] AS DOUBLE)"
            f" - CAST(b.embedding[{j + 1}] AS DOUBLE)) * {w!r}"
            for j, w in enumerate(plane)
        )
        proj_sq.append(f"(({dot}) * ({dot}))")
    proj_d2 = " + ".join(proj_sq)
    return f"""
    WITH base AS (
      SELECT vec_id, embedding FROM embeddings WHERE TRUE{samp}
    ),
    pr AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ({proj_d2}) AS proj_d2
      FROM base a JOIN base b
        ON a.vec_id % 29 = 0 AND b.vec_id % 31 = 0 AND a.vec_id < b.vec_id
    ),
    od AS (
      SELECT ax.id_a, bx.id_b,
             SUM((ax.x - bx.x) * (ax.x - bx.x)) AS orig_d2
      FROM (SELECT vec_id AS id_a, CAST(unnest(embedding) AS DOUBLE) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM base WHERE vec_id % 29 = 0) ax
      JOIN (SELECT vec_id AS id_b, CAST(unnest(embedding) AS DOUBLE) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM base WHERE vec_id % 31 = 0) bx
        ON ax.i = bx.i AND ax.id_a < bx.id_b
      GROUP BY 1, 2
    ),
    ratios AS (
      SELECT p.id_a, p.id_b,
             FLOOR(p.proj_d2 / o.orig_d2 * 1000000) / 1000000.0 AS ratio
      FROM pr p JOIN od o ON p.id_a = o.id_a AND p.id_b = o.id_b
      WHERE o.orig_d2 > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           FLOOR(MIN(ratio) * 1000000) / 1000000.0 AS min_ratio,
           FLOOR(MAX(ratio) * 1000000) / 1000000.0 AS max_ratio,
           FLOOR(CAST(SUM(CAST(ratio AS DECIMAL(27,6))) AS DOUBLE)
                 / COUNT(*) * 1000000) / 1000000.0 AS mean_ratio
    FROM ratios
    """


@register(
    "e6_jl_projection_audit",
    None,  # generated oracle attached below (needs the plane constants)
    survey_rows="ext:random-projection distance preservation (JL audit); "
    "e1 (quantization twin), s3 (plane generation)",
    description="Johnson-Lindenstrauss projection audit: project the "
    "64-dim embeddings to 8 dims with the deterministic LCG plane "
    "family (s3's generator, seed 7) and measure, over a hash-sampled "
    "pair set, the ratio of projected to original squared distance — "
    "min/mean/max ratio is the distance-distortion envelope that "
    "decides whether the cheap 8-dim index (8x less memory and "
    "bandwidth than the raw vectors) is usable for coarse filtering, "
    "e1's quantization-distortion sibling for dimensionality instead "
    "of precision. Linearity makes the projected pair distance "
    "P(a)-P(b) = P(a-b), so each pair needs only 8 constant-plane dot "
    "products over the difference vector — per-row JVM expressions, no "
    "pairs materialized beyond the sampled set (|S29| x |S31|, a "
    "deliberate ~0.1% sample; the audit needs a spread, not the "
    "corpus). Ratios floor to 6 dp before the decimal mean.",
)
def e6_jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # graded exact path of operators/similarity.py::jl_projection_audit,
    # pinned explicitly because the operator default is "auto" (the
    # budget knob self-sizes from the parquet footer count — the
    # full-corpus 100× sweep measured this exact path's proportional pair
    # sample at 25×; e6b grades the sampled twin)
    from ..operators.similarity import jl_projection_audit

    return jl_projection_audit(
        _t(spark, sf_dir, "embeddings"), hash_sample_mod=None
    )


CORPUS["e6_jl_projection_audit"].oracle = _e6_oracle_sql()


def _equi_depth_histogram(
    spark: SparkSession, sf_dir: str, bucket_width: float | None
) -> DataFrame:
    """a22/a27: per event type the value quartiles (ntile 4 by value, then
    event_id) with each bucket's count, floored bounds and exact sum —
    through one NTILE window per type, or windows.bucketed_ntile's
    two-level rank over ``bucket_width``-wide value ranges."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    if bucket_width is None:
        w = Window.partitionBy("event_type").orderBy("value", "event_id")
        tiled = ev.select(
            "event_type", "value", F.ntile(4).over(w).alias("bucket")
        )
    else:
        tiled = ow.bucketed_ntile(
            ev.select("event_type", "value", "event_id"),
            ["event_type"],
            "value",
            n_tiles=4,
            bucket_width=bucket_width,
            tiebreak=["event_id"],
        )
    return (
        tiled.groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            q6(F.min("value")).alias("lo"),
            q6(F.max("value")).alias("hi"),
            agg.decimal_sum(F.col("value")).alias("bucket_sum"),
        )
        .orderBy("event_type", "bucket")
    )


@register(
    "a22_equi_depth_histogram",
    """
    WITH v AS (
      SELECT event_type, event_id, value FROM events WHERE value IS NOT NULL
    ),
    tiled AS (
      SELECT event_type, value,
             NTILE(4) OVER (PARTITION BY event_type
               ORDER BY value, event_id) AS bucket
      FROM v
    )
    SELECT event_type, bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           FLOOR(MIN(value) * 1000000) / 1000000.0 AS lo,
           FLOOR(MAX(value) * 1000000) / 1000000.0 AS hi,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS bucket_sum
    FROM tiled GROUP BY 1, 2 ORDER BY 1, 2
    """,
    survey_rows="A3 (describe), M10 (histograms), W6 (ntile); "
    "ext:equi-depth histogram",
    description="Equi-depth (quartile) histogram of value per event type "
    "— the histogram optimizers and profilers actually want (equal "
    "mass per bucket, so bucket boundaries ARE the quantiles), "
    "complementing m10's equi-width bins: NTILE(4) over (value, "
    "event_id) — the unique tie-break makes bucket assignment "
    "identical on both engines even at duplicate values — then per-"
    "bucket count/lo/hi/exact-decimal sum. Graded with the exact "
    "ranking window; at 100 TB bucket boundaries come from "
    "percentile_approx and assignment becomes a broadcast range "
    "lookup (m10's documented routing), leaving one scan + one hash "
    "aggregation.",
)
def a22_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _equi_depth_histogram(spark, sf_dir, None)


# ===========================================================================
# Video shot-boundary detection (the multimodal
# sequential-scan shape: decode frames, difference consecutive pairs).
# ===========================================================================


def _mm8_oracle_sql() -> str:
    """DuckDB mirror of the shot-boundary pipeline: re-derive every frame
    byte (md5 hex digit arithmetic keyed on (doc, shot, block) + the
    per-frame brightness drift), SAD consecutive frames via a
    one-frame-offset self-join, and apply the same integer threshold."""
    shot_key = "CAST(doc_id AS VARCHAR) || ':' || CAST(frame_idx // 4 AS VARCHAR)"
    return f"""
    WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 25 = 0),
    fr AS (
      SELECT d.doc_id, f.f AS frame_idx
      FROM d, (SELECT unnest(generate_series(0, {mm.VIDEO_FRAMES - 1})) AS f) f
    ),
    {_md5_bytes_ctes('fr', shot_key, 64, carry=', frame_idx')},
    drift AS (
      SELECT doc_id, frame_idx, idx, (v + frame_idx % 4) % 256 AS v FROM bytes
    ),
    sad AS (
      SELECT a.doc_id, a.frame_idx,
             CAST(SUM(ABS(a.v - p.v)) AS BIGINT) AS sad
      FROM drift a JOIN drift p
        ON a.doc_id = p.doc_id AND a.idx = p.idx
       AND p.frame_idx = a.frame_idx - 1
      GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(COUNT(*) + 1 AS BIGINT) AS n_frames,
           CAST(SUM(CASE WHEN sad > 30 * 64 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_boundaries,
           CAST(SUM(CASE WHEN sad > 30 * 64 THEN frame_idx
                         ELSE 0 END) AS BIGINT) AS boundary_idx_sum,
           CAST(MAX(sad) AS BIGINT) AS max_sad,
           CAST(MIN(sad) AS BIGINT) AS min_sad
    FROM sad GROUP BY 1 ORDER BY 1
    """


@register(
    "mm8_video_shot_boundary",
    None,  # generated oracle attached below
    survey_rows="ext:video shot-boundary detection; mm4 (frame fan-out), "
    "mm7 (md5-pixel fixture family)",
    description="Video shot-boundary detection — the multimodal "
    "sequential-scan shape a video curation pipeline runs on every clip "
    "(decode frames, difference consecutive pairs, cut where the "
    "difference spikes): synthetic 12-frame clips whose frames share an "
    "md5-derived base within 4-frame shots plus a per-frame brightness "
    "drift (attach_video_frames — every byte re-derivable in SQL, "
    "mm7's fixture discipline), a per-video applyInPandas pass "
    "computing the sum of absolute byte differences (SAD) between "
    "consecutive frames, and an integer threshold (30/byte) marking "
    "boundaries — within-shot drift scores ~64, shot changes score "
    "~5400, so the detector must separate the two. Shape: frame "
    "generation is mapInPandas fan-out (no shuffle), differencing "
    "shuffles once on doc_id and scans each clip linearly — clips are "
    "bounded even when the corpus is not, the invariant that makes "
    "per-video state safe at 100 TB. All-integer end to end "
    "(operators/multimodal.py::attach_video_frames, frame_sad).",
)
def mm8_video_shot_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_video_frames, frame_sad

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    frames = attach_video_frames(docs)
    sad = frame_sad(frames)
    is_b = F.when(F.col("sad") > 30 * 64, 1).otherwise(0)
    return (
        sad.groupBy("doc_id")
        .agg(
            (F.count(F.lit(1)) + 1).cast("long").alias("n_frames"),
            F.sum(is_b).cast("long").alias("n_boundaries"),
            F.sum(is_b * F.col("frame_idx")).cast("long").alias(
                "boundary_idx_sum"
            ),
            F.max("sad").cast("long").alias("max_sad"),
            F.min("sad").cast("long").alias("min_sad"),
        )
        .orderBy("doc_id")
    )


CORPUS["mm8_video_shot_boundary"].oracle = _mm8_oracle_sql()


# ===========================================================================
# Ingestion-order inversion audit, two-sample Q-Q
# comparison table, and modularity of a fixed graph partition.
# ===========================================================================


@register(
    "dq9_event_order_inversions",
    """
    WITH seq AS (
      SELECT user_id, event_id, ts,
             LAG(event_id) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS prev_id
      FROM events
    )
    SELECT CAST(COUNT(prev_id) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN event_id < prev_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_inversions,
           FLOOR(SUM(CASE WHEN event_id < prev_id THEN 1 ELSE 0 END) * 1.0
                 / COUNT(prev_id) * 1000000) / 1000000.0 AS inversion_frac
    FROM seq
    """,
    survey_rows="ext:ingestion-order audit; W1 (partitioned lag), dq "
    "family",
    description="Ingestion-order sanity audit: within each user's "
    "time-ordered event sequence, how often does the assigned event_id "
    "run BACKWARD (a later timestamp carrying a smaller id)? Inversions "
    "mean the id-assignment and event-time orders disagree — harmless "
    "for idempotent loads, fatal for anything that uses ids as a time "
    "proxy (CDC sequence numbers, incremental watermarks on id). One "
    "lag window per user partition (single shuffle), integer counts, "
    "one floored division — the report any pipeline should check "
    "before trusting 'order by id' as 'order by time'.",
)
def dq9_event_order_inversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_id", F.lag("event_id").over(w).alias("prev_id")
    )
    inv = F.when(F.col("event_id") < F.col("prev_id"), 1).otherwise(0)
    return seq.agg(
        F.count("prev_id").cast("long").alias("n_pairs"),
        F.sum(inv).cast("long").alias("n_inversions"),
        q6(F.sum(inv) * F.lit(1.0) / F.count("prev_id")).alias(
            "inversion_frac"
        ),
    )


@register(
    "m27_two_sample_qq",
    """
    WITH v AS (
      SELECT value, user_id % 2 AS grp, event_id FROM events
      WHERE value IS NOT NULL
    ),
    ranked AS (
      SELECT grp, value,
             ROW_NUMBER() OVER (PARTITION BY grp ORDER BY value, event_id)
               AS rn,
             COUNT(*) OVER (PARTITION BY grp) AS n
      FROM v
    ),
    deciles(q) AS (
      VALUES (1), (2), (3), (4), (5), (6), (7), (8), (9)
    ),
    pick AS (
      SELECT d.q, r.grp, r.value
      FROM ranked r JOIN deciles d
        ON r.rn = CAST(FLOOR(d.q * (r.n - 1) / 10.0) AS BIGINT) + 1
    )
    SELECT q,
           FLOOR(MAX(CASE WHEN grp = 0 THEN value END) * 1000000)
             / 1000000.0 AS q_grp0,
           FLOOR(MAX(CASE WHEN grp = 1 THEN value END) * 1000000)
             / 1000000.0 AS q_grp1,
           FLOOR((MAX(CASE WHEN grp = 1 THEN value END)
                  - MAX(CASE WHEN grp = 0 THEN value END)) * 1000000)
             / 1000000.0 AS qq_gap
    FROM pick GROUP BY 1 ORDER BY 1
    """,
    survey_rows="ext:two-sample Q-Q comparison; M11 (KS twin), W6 "
    "(ranking)",
    description="Two-sample Q-Q table between the user-parity cohorts: "
    "the decile-by-decile quantile pairing (and gap) that SHOWS WHERE "
    "two distributions diverge, where m11's KS statistic only says by "
    "how much at the worst point — the drill-down a drift "
    "investigation runs after m23/m24 fire. Quantiles are ORDER "
    "STATISTICS at exact integer positions (floored basis-point index, "
    "unique (value, event_id) tie-break), so both engines pick "
    "identical sample values — no interpolation anywhere. Graded with "
    "the exact per-cohort ranking; at scale the positions come from "
    "percentile_approx (m10's routing) and the table stays 9 rows.",
)
def m27_two_sample_qq(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = ev.select(
        "value", (F.col("user_id") % 2).alias("grp"), "event_id"
    )
    w = Window.partitionBy("grp").orderBy("value", "event_id")
    ranked = v.select(
        "grp",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("grp")).alias("n"),
    )
    deciles = spark.range(1, 10).select(F.col("id").cast("int").alias("q"))
    pick = ranked.join(
        deciles,
        ranked["rn"]
        == (F.floor(deciles["q"] * (ranked["n"] - 1) / F.lit(10.0)) + 1),
    ).select("q", "grp", "value")
    g0 = F.max(F.when(F.col("grp") == 0, F.col("value")))
    g1 = F.max(F.when(F.col("grp") == 1, F.col("value")))
    return (
        pick.groupBy("q")
        .agg(
            q6(g0).alias("q_grp0"),
            q6(g1).alias("q_grp1"),
            q6(g1 - g0).alias("qq_gap"),
        )
        .orderBy("q")
    )


@register(
    "g5_partition_modularity",
    f"""
    WITH {_SQL_UI_CTE},
    pairs AS (
      SELECT a.item AS s, b.item AS t
      FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM pairs),
    deg AS (
      SELECT item, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT s AS item FROM pairs UNION ALL SELECT t FROM pairs
      ) GROUP BY 1
    ),
    intra AS (
      SELECT s % 10 AS community, CAST(COUNT(*) AS BIGINT) AS e_in
      FROM pairs WHERE s % 10 = t % 10 GROUP BY 1
    ),
    ctot AS (
      SELECT item % 10 AS community, CAST(SUM(d) AS BIGINT) AS d_sum
      FROM deg GROUP BY 1
    )
    SELECT c.community, COALESCE(i.e_in, 0) AS e_in, c.d_sum,
           FLOOR((COALESCE(i.e_in, 0) * 1.0 / m.n_edges
                  - (c.d_sum * 1.0 / (2 * m.n_edges))
                    * (c.d_sum * 1.0 / (2 * m.n_edges)))
                 * 1000000) / 1000000.0 AS q_term
    FROM ctot c LEFT JOIN intra i USING (community) CROSS JOIN m
    ORDER BY c.community
    """,
    survey_rows="ext:graph partition quality (modularity); g1-g4 (graph "
    "family)",
    description="Newman modularity terms of a fixed 10-way partition "
    "(item id mod 10 — the stand-in for any community assignment a "
    "clustering step produces) over the co-visitation graph: per "
    "community, intra-community edge share minus the expected share "
    "under the degree-preserving null (d_c/2m)^2; the sum of q_term is "
    "the partition's modularity Q — the metric that scores ANY "
    "community detection output, computed here as pure joins and "
    "aggregations (no iteration). Two hash aggregations over the "
    "user-bounded pair frame, degree and community frames broadcast-"
    "sized; all-integer until the fixed floored IEEE chain.",
)
def g5_partition_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, co = _covis_shared(spark, sf_dir)
    pairs = co.toDF("s", "t", "n_co").filter(F.col("n_co") >= 2).select("s", "t")
    m = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    deg = (
        pairs.select(F.col("s").alias("item"))
        .unionAll(pairs.select(F.col("t").alias("item")))
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    intra = (
        pairs.filter(F.col("s") % 10 == F.col("t") % 10)
        .groupBy((F.col("s") % 10).alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_in"))
    )
    ctot = deg.groupBy((F.col("item") % 10).alias("community")).agg(
        F.sum("d").cast("long").alias("d_sum")
    )
    half = F.col("d_sum") * F.lit(1.0) / (F.lit(2) * F.col("n_edges"))
    e_in0 = F.coalesce(F.col("e_in"), F.lit(0))
    return (
        ctot.join(F.broadcast(intra), "community", "left")
        .crossJoin(m)
        .select(
            "community",
            e_in0.cast("long").alias("e_in"),
            "d_sum",
            q6(
                e_in0 * F.lit(1.0) / F.col("n_edges") - half * half
            ).alias("q_term"),
        )
        .orderBy("community")
    )


# ===========================================================================
# Rank-family completion (Kendall tau-b), link prediction
# (resource-allocation index), first-path funnel mining, an oracle-backed
# Count-Min frequency sketch, and a seasonal-naive forecast backtest.
# ===========================================================================


def _kendall_tau_sql(hash_sample_mod: int | None) -> str:
    """SQL twin of :func:`_kendall_tau`; ``hash_sample_mod`` keeps the
    users whose md5 hash's low 31 bits are 0 mod it, as skew.hash_sample
    does."""
    sample = (
        ""
        if hash_sample_mod is None
        else "\n        AND (md5_number_lower(CAST(user_id AS VARCHAR)) & 2147483647)"
        f" % {hash_sample_mod} = 0"
    )
    return f"""
    WITH u AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS x,
             CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL{sample} GROUP BY 1
    ),
    p AS (
      SELECT CASE WHEN a.x = b.x THEN 0 WHEN a.x > b.x THEN 1 ELSE -1 END AS cx,
             CASE WHEN a.y = b.y THEN 0 WHEN a.y > b.y THEN 1 ELSE -1 END AS cy
      FROM u a JOIN u b ON a.user_id < b.user_id
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN cx * cy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS conc,
             CAST(SUM(CASE WHEN cx * cy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS disc,
             CAST(SUM(CASE WHEN cx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tie_x,
             CAST(SUM(CASE WHEN cy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tie_y
      FROM p
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM u) AS n_users,
           conc, disc,
           FLOOR((conc - disc)
             / SQRT(CAST(n0 - tie_x AS DOUBLE) * CAST(n0 - tie_y AS DOUBLE))
             * 1000000) / 1000000.0 AS tau_b
    FROM s WHERE n0 - tie_x > 0 AND n0 - tie_y > 0
    """


def _kendall_tau(
    spark: SparkSession, sf_dir: str, hash_sample_mod: int | None
) -> DataFrame:
    """m28/m28b: Kendall tau-b between each user's event count and exact
    milli-integer value sum, over every user or the ``hash_sample_mod``
    sample."""
    from ..stats.inference import kendall_tau_b

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(F.floor(F.col("value") * 1000).cast("long")).cast("long").alias("y"),
    )
    return kendall_tau_b(
        u, id_col="user_id", hash_sample_mod=hash_sample_mod
    ).select(F.col("n_units").alias("n_users"), "conc", "disc", "tau_b")


@register(
    "m28_kendall_tau",
    _kendall_tau_sql(None),
    survey_rows="ext:rank statistics (Kendall tau-b; completes the rank "
    "family with m15 Mann-Whitney, m16 Spearman, m21 Kruskal-Wallis); M13",
    description="Kendall tau-b rank correlation between per-user activity "
    "(event count) and per-user total value (exact milli-integer sum): "
    "concordant/discordant/tied pair counting over the i<j self-join of "
    "the PER-USER aggregate — the raw scan is linear and the quadratic "
    "step runs on the small aggregated frame, the same size discipline as "
    "Tukey's k-squared contrast frame (M5). All counts are exact integers; "
    "the tau-b formula with tie corrections is applied once at the end "
    "(floored 6 dp). At 100 TB the per-user frame can itself be wide — "
    "the documented route is a deterministic user-hash sample ahead of "
    "the pair join, identical statistics machinery.",
)
def m28_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hash_sample_mod=None: graded exact pairing over every user, pinned
    # explicitly because the operator default is "auto" (the budget
    # knob self-sizes from a cheap entity count — a user who
    # forgets it at 100× gets the flat-budget sample, not the 30.3×
    # pair quadratic the probe measured; m28b grades the sampled twin).
    return _kendall_tau(spark, sf_dir, None)

@register(
    "g6_ra_link_prediction",
    f"""
    WITH {_SQL_UI_CTE},
    co AS (
      SELECT a.item AS i, b.item AS j, CAST(COUNT(*) AS BIGINT) AS c
      FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
      GROUP BY 1, 2
    ),
    e AS (SELECT i, j FROM co WHERE c >= (SELECT MAX(c) * 3 // 4 FROM co)),
    ed AS (
      SELECT i AS src, j AS dst FROM e
      UNION ALL SELECT j AS src, i AS dst FROM e
    ),
    deg AS (SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS d FROM ed GROUP BY 1),
    hop2 AS (
      SELECT x.src AS u, y.dst AS w, x.dst AS z
      FROM ed x JOIN ed y ON x.dst = y.src
      WHERE x.src < y.dst
    ),
    cand AS (
      SELECT h.u, h.w,
             CAST(COUNT(*) AS BIGINT) AS n_common,
             CAST(SUM(1000000 // dz.d) AS BIGINT) AS ra_scaled
      FROM hop2 h JOIN deg dz ON h.z = dz.v
      WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.i = h.u AND e.j = h.w)
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT u, w, n_common, ra_scaled / 1000000.0 AS ra_score,
             ROW_NUMBER() OVER (ORDER BY ra_scaled DESC, u, w) AS rk
      FROM cand
    )
    SELECT u, w, n_common, ra_score FROM ranked WHERE rk <= 50
    """,
    survey_rows="ext:link prediction (resource-allocation index over the "
    "co-visitation graph; graph family g1-g5); ext:graph, J4 (anti)",
    description="Resource-allocation link prediction (Zhou/Lu/Zhang 2009): "
    "for every NON-adjacent item pair connected through >=1 common "
    "neighbor, score = sum over common neighbors z of 1/deg(z), and the "
    "top-50 scored pairs are the recommended new links. Edges come from "
    "the co-visitation graph at a data-adaptive threshold (3/4 of the max "
    "co-count, integer math) so the graph is sparse-but-nonempty at every "
    "scale factor; the two-hop enumeration is an equi-join on the shared "
    "endpoint, adjacency is removed with an anti-join, and the score is "
    "an EXACT integer sum of 1000000//deg(z) (no float accumulation "
    "ordering), divided once at the end. Deterministic top-50 via "
    "(score desc, u, w). At 100 TB the hop2 frame is bounded by "
    "sum-of-degree-squares — the standard cap is a max-degree filter on "
    "z, the same hub-cap discipline as t2's doc-freq cap.",
)
def g6_ra_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    _, co = _covis_shared(spark, sf_dir)
    thr = co.agg(F.expr("max(c) * 3 div 4").alias("thr"))
    e = co.crossJoin(thr).filter(F.col("c") >= F.col("thr")).select("i", "j")
    ed = e.select(F.col("i").alias("src"), F.col("j").alias("dst")).unionAll(
        e.select(F.col("j").alias("src"), F.col("i").alias("dst"))
    )
    deg = ed.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    hop2 = (
        ed.toDF("u", "z")
        .join(ed.toDF("z", "w"), "z")
        .filter(F.col("u") < F.col("w"))
    )
    cand = (
        hop2.join(F.broadcast(deg.toDF("z", "d")), "z")
        .join(e.toDF("u", "w"), ["u", "w"], "left_anti")
        .groupBy("u", "w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum(F.expr("1000000 div d")).cast("long").alias("ra_scaled"),
        )
    )
    rk = F.row_number().over(
        Window.orderBy(F.col("ra_scaled").desc(), F.col("u"), F.col("w"))
    )
    return (
        cand.withColumn("rk", rk)
        .filter(F.col("rk") <= 50)
        .select(
            "u", "w", "n_common",
            (F.col("ra_scaled") / 1000000.0).alias("ra_score"),
        )
    )


@register(
    "ev8_top_event_paths",
    """
    WITH r AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
      FROM events
    ),
    p AS (
      SELECT user_id,
             MIN(CASE WHEN rn = 1 THEN event_type END) AS e1,
             MIN(CASE WHEN rn = 2 THEN event_type END) AS e2,
             MIN(CASE WHEN rn = 3 THEN event_type END) AS e3
      FROM r WHERE rn <= 3 GROUP BY 1
    )
    SELECT e1 || '>' || e2 || '>' || e3 AS path,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM p WHERE e3 IS NOT NULL
    GROUP BY 1
    """,
    survey_rows="ext:path mining (first-k event paths — the onboarding-"
    "funnel shape ev1/ev3 cannot see); W1,W6,A5",
    description="First-path mining: each user's first three events (global "
    "order by ts with event_id tiebreak, one ROW_NUMBER window), "
    "concatenated into a path string and counted across users — the "
    "onboarding-flow table behind funnel dashboards, and the exact-"
    "sequence complement of ev3's one-step Markov transition matrix. "
    "One window shuffle on user_id + one hash aggregation on the path "
    "string; path cardinality is bounded by |event_type|^3, so the "
    "result stays tiny at any corpus size.",
)
def ev8_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
    )
    r = ev.select("user_id", "event_type", rn.alias("rn")).filter(F.col("rn") <= 3)
    p = r.groupBy("user_id").agg(
        *[
            F.min(F.when(F.col("rn") == k, F.col("event_type"))).alias(f"e{k}")
            for k in (1, 2, 3)
        ]
    )
    return (
        p.filter(F.col("e3").isNotNull())
        .groupBy(
            F.concat_ws(">", "e1", "e2", "e3").alias("path")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


def _countmin_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a23/st12's ``(item, n_exact, j, bucket)``: each distinct event item
    with its exact count, once per Count-Min row j in 1..3 with its md5
    bucket of 32."""
    from ..operators.dedup import md5_token_hash64

    ev = _t(spark, sf_dir, "events")
    item = F.try_variant_get(F.try_parse_json("props"), "$.k", "int")
    it = ev.select(item.alias("item")).filter(F.col("item").isNotNull())
    rows3 = F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j")
    key = F.concat_ws(":", F.col("j"), F.col("item"))
    bucket = F.pmod(md5_token_hash64(key), F.lit(32)).cast("long")
    exact = it.groupBy("item").agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    return exact.select("item", "n_exact", rows3).select(
        "item", "n_exact", "j", bucket.alias("bucket")
    )


def _countmin_top10(keys: DataFrame, sketch: DataFrame) -> DataFrame:
    """The ten most frequent items of :func:`_countmin_keys` with their
    Count-Min estimate (the minimum of their three cells in ``sketch``,
    from the batch or merged from the stream) and overcount."""
    est = (
        keys.join(sketch, ["j", "bucket"])
        .groupBy("item", "n_exact")
        .agg(F.min("cnt").alias("cm_est"))
    )
    rk = F.row_number().over(Window.orderBy(F.col("n_exact").desc(), F.col("item")))
    return (
        est.withColumn("rk", rk)
        .filter(F.col("rk") <= 10)
        .select(
            "item", "n_exact", "cm_est",
            (F.col("cm_est") - F.col("n_exact")).alias("overcount"),
        )
    )


@register(
    "a23_countmin_heavy_hitters",
    f"""
    WITH it AS (
      SELECT {_SQL_ITEM}
      FROM events WHERE json_extract(props, '$.k') IS NOT NULL
    ),
    hashed AS (
      SELECT item, j,
             CAST(md5_number_lower(CAST(j AS VARCHAR) || ':'
                                   || CAST(item AS VARCHAR)) % 32 AS BIGINT)
               AS bucket
      FROM it, (SELECT unnest(ARRAY[1, 2, 3]) AS j)
    ),
    sketch AS (
      SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM hashed GROUP BY 1, 2
    ),
    exact AS (
      SELECT item, CAST(COUNT(*) AS BIGINT) AS n_exact FROM it GROUP BY 1
    ),
    keys AS (
      SELECT item, j,
             CAST(md5_number_lower(CAST(j AS VARCHAR) || ':'
                                   || CAST(item AS VARCHAR)) % 32 AS BIGINT)
               AS bucket
      FROM exact, (SELECT unnest(ARRAY[1, 2, 3]) AS j)
    ),
    est AS (
      SELECT k.item, MIN(s.cnt) AS cm_est
      FROM keys k JOIN sketch s ON k.j = s.j AND k.bucket = s.bucket
      GROUP BY 1
    ),
    ranked AS (
      SELECT e.item, x.n_exact, e.cm_est, e.cm_est - x.n_exact AS overcount,
             ROW_NUMBER() OVER (ORDER BY x.n_exact DESC, e.item) AS rk
      FROM est e JOIN exact x USING (item)
    )
    SELECT item, n_exact, cm_est, overcount FROM ranked WHERE rk <= 10
    """,
    survey_rows="ext:mergeable frequency sketch (Count-Min, oracle-backed "
    "bit-for-bit like t45's HLL); A12, t38 (sketch accuracy)",
    description="A from-scratch Count-Min sketch (Cormode/Muthukrishnan "
    "2005), ORACLE-VERIFIED: 3 hash rows x 32 buckets, each row's hash "
    "derived from md5 (the md5_number_lower mirror that made t45's HLL "
    "and t8's SimHash cross-engine checkable), point estimate = min over "
    "rows of the bucket count, reported for the top-10 exact heavy "
    "hitters next to their exact counts and the guaranteed-nonnegative "
    "overcount. The sketch table is 96 integer cells produced by one "
    "hash aggregation — bucket counts are MERGEABLE by plain addition "
    "across partitions, days, or streaming micro-batches, which is the "
    "100 TB point: the full-corpus sketch is a sum of per-shard "
    "sketches, never a re-scan. xxhash64 is the production hash; md5 is "
    "the parity path.",
)
def a23_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = _countmin_keys(spark, sf_dir)
    # sketch cells from the DISTINCT-item counts, not per occurrence: the
    # cell count is Σ n_exact over items hashing into the cell, so hashing
    # each distinct item once and summing its count is arithmetic-identical
    # to hashing every occurrence — md5 evaluations drop from 3×|events| to
    # 3×|items| (map-side combine before the expensive map, guide §2.3),
    # and the keys subtree is shared instead of a second occurrence explode.
    sketch = keys.groupBy("j", "bucket").agg(
        F.sum("n_exact").cast("long").alias("cnt")
    )
    return _countmin_top10(keys, sketch)


#: Per (event_type, day) sum of the events' values in integer thousandths
#: (each value floored first, so the sum is exact): the daily series the
#: forecasting and trend queries w25, w26, w27 and m31 read.
_SQL_DAILY_MILLI_CTE = """d AS (
      SELECT event_type, CAST(ts AS DATE) AS dy,
             CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS a
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    )"""


def _daily_milli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_SQL_DAILY_MILLI_CTE`` (w25, w26, w27, m31)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("dy")
    ).agg(
        F.sum(F.floor(F.col("value") * 1000).cast("long")).cast("long").alias("a")
    )


@register(
    "w25_seasonal_naive_backtest",
    f"""
    WITH {_SQL_DAILY_MILLI_CTE},
    fc AS (
      SELECT event_type, dy, a,
             LAG(a, 7) OVER (PARTITION BY event_type ORDER BY dy) AS f
      FROM d
    ),
    ev AS (
      SELECT event_type, ABS(a - f) AS err,
             CASE WHEN a > 0 THEN (1000000 * ABS(a - f)) // a END AS rq
      FROM fc WHERE f IS NOT NULL
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_eval,
           FLOOR(SUM(err) * 1.0 / COUNT(*) / 1000 * 1000000) / 1000000.0
             AS mae,
           FLOOR(SUM(rq) * 1.0 / COUNT(rq) / 1000000 * 1000000) / 1000000.0
             AS mape
    FROM ev GROUP BY 1
    """,
    survey_rows="ext:forecast backtesting (seasonal-naive baseline — the "
    "error floor every model in the reference's forecasting notebook must "
    "beat); W1 (lag), W4 (time bucketing), t44 (rolling-origin folds)",
    description="Seasonal-naive forecast backtest: predict each day's "
    "per-type total by the same weekday one week earlier (lag-7 over the "
    "daily aggregate) and score MAE and MAPE on the evaluable tail — the "
    "baseline error floor for the reference's LSTM/OLS forecasts (ml2/"
    "ml3) and the standard first column of any backtest table. Daily "
    "totals are exact milli-integers, the absolute errors stay integer, "
    "and MAPE quantizes each ratio with integer division BEFORE summing "
    "(no float accumulation order); one hash aggregation + one window "
    "over the tiny daily frame.",
)
def w25_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _daily_milli(spark, sf_dir)
    f = F.lag("a", 7).over(Window.partitionBy("event_type").orderBy("dy"))
    fc = d.select("event_type", "a", f.alias("f")).filter(F.col("f").isNotNull())
    err = F.abs(F.col("a") - F.col("f"))
    evl = fc.select(
        "event_type",
        err.alias("err"),
        F.when(F.col("a") > 0, F.expr("(1000000 * abs(a - f)) div a")).alias("rq"),
    )
    return evl.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        q6(F.sum("err") * 1.0 / F.count(F.lit(1)) / 1000).alias("mae"),
        q6(F.sum("rq") * 1.0 / F.count("rq") / 1000000).alias("mape"),
    )


# ===========================================================================
# Silhouette cluster-quality audit (integer-exact),
# Gini activity concentration, and MMR-diversified retrieval (the greedy
# re-ranker behind diverse training-data selection).
# ===========================================================================


@register(
    "e7_silhouette_audit",
    """
    WITH x AS (
      SELECT vec_id, label, generate_subscripts(embedding, 1) AS j,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT)
               AS xq
      FROM embeddings
    ),
    c AS (
      SELECT label AS clabel, j, SUM(xq) // COUNT(*) AS cq
      FROM x GROUP BY 1, 2
    ),
    d AS (
      SELECT x.vec_id, x.label, c.clabel,
             SUM((x.xq - c.cq) * (x.xq - c.cq)) AS d2
      FROM x JOIN c ON x.j = c.j
      GROUP BY 1, 2, 3
    ),
    ab AS (
      SELECT vec_id, label,
             MAX(CASE WHEN clabel = label THEN d2 END) AS a2,
             MIN(CASE WHEN clabel <> label THEN d2 END) AS b2
      FROM d GROUP BY 1, 2
    ),
    s AS (
      SELECT vec_id, label, a2, b2,
             CASE WHEN b2 >= a2
                  THEN (1000000 * (b2 - a2)) // GREATEST(a2, b2)
                  ELSE -((1000000 * (a2 - b2)) // GREATEST(a2, b2))
             END AS sq
      FROM ab WHERE GREATEST(a2, b2) > 0
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN b2 < a2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_misassigned,
           FLOOR(SUM(sq) * 1.0 / COUNT(*)) / 1000000.0 AS mean_silhouette
    FROM s GROUP BY 1
    """,
    survey_rows="ext:cluster-quality audit (closed-form silhouette on "
    "squared distances — scores m8/ml1 cluster outputs without "
    "iteration); e3 (kNN consistency), e4 (Fisher separation)",
    description="Simplified-silhouette audit of the embedding labels: "
    "a(v) = squared distance to the own-label centroid, b(v) = min "
    "squared distance to any other centroid, s(v) = (b-a)/max(a,b) — "
    "the cluster-quality score that works for ANY label/cluster "
    "assignment (m8/ml1 outputs included) with no iteration. Every "
    "quantity is exact integer math: coordinates are floor-quantized to "
    "1e-4, centroid coordinates use truncating integer division "
    "(Spark div == DuckDB // on negatives), squared distances are "
    "integer sums, and the per-vector score quantizes via integer "
    "division with an explicit sign split (so truncation direction "
    "agrees). Spark shape: one posexplode aggregation for centroids "
    "(k x 64 cells, broadcast), one join back — linear in corpus size, "
    "k fixed; the misassignment count doubles as a label-noise screen.",
)
def e7_silhouette_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("j0", "xf"),
    ).select(
        "vec_id",
        "label",
        (F.col("j0") + 1).alias("j"),
        F.floor(F.col("xf").cast("double") * 10000).cast("long").alias("xq"),
    )
    c = x.groupBy(F.col("label").alias("clabel"), "j").agg(
        F.expr("sum(xq) div count(1)").alias("cq")
    )
    d = (
        x.join(c, "j")
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum((F.col("xq") - F.col("cq")) * (F.col("xq") - F.col("cq"))).alias("d2"))
    )
    ab = d.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("clabel") == F.col("label"), F.col("d2"))).alias("a2"),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("d2"))).alias("b2"),
    )
    mx = F.greatest(F.col("a2"), F.col("b2"))
    sq = F.when(
        F.col("b2") >= F.col("a2"),
        F.expr("(1000000 * (b2 - a2)) div greatest(a2, b2)"),
    ).otherwise(-F.expr("(1000000 * (a2 - b2)) div greatest(a2, b2)"))
    s = ab.filter(mx > 0).select("label", "a2", "b2", sq.alias("sq"))
    return s.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum(F.when(F.col("b2") < F.col("a2"), 1).otherwise(0))
        .cast("long")
        .alias("n_misassigned"),
        (F.floor(F.sum("sq") * 1.0 / F.count(F.lit(1))) / 1000000.0).alias(
            "mean_silhouette"
        ),
    )


@register(
    "m29_gini_concentration",
    """
    WITH u AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    r AS (
      SELECT x, ROW_NUMBER() OVER (ORDER BY x, user_id) AS i FROM u
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(i * x) AS BIGINT) AS six
      FROM r
    )
    SELECT n AS n_users, sx AS total_events,
           FLOOR((2.0 * six - (n + 1.0) * sx) / (1.0 * n * sx) * 1000000)
             / 1000000.0 AS gini
    FROM s WHERE sx > 0
    """,
    survey_rows="ext:inequality audit (Gini coefficient of per-user "
    "activity — the contribution-skew diagnostic next to a21's top-share "
    "Pareto view); A12, W6 (rank)",
    description="Gini coefficient of per-user event contribution — the "
    "standard inequality summary of how concentrated a corpus is in its "
    "heaviest contributors (a21's Pareto top-share gives the head's "
    "share; Gini summarizes the WHOLE Lorenz curve in one number, the "
    "pair a data-governance dashboard shows together). Rank formula "
    "G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over ranks with a "
    "deterministic user_id tiebreak — tied values contribute a fixed "
    "rank-block sum, so the statistic is tie-order invariant AND the "
    "intermediate sums are exact integers; one aggregation plus one "
    "window over the per-user frame, the float formula applied once.",
)
def m29_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("x"))
    r = u.select(
        "x", F.row_number().over(Window.orderBy("x", "user_id")).alias("i")
    )
    s = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("i") * F.col("x")).cast("long").alias("six"),
    )
    n, sx, six = F.col("n"), F.col("sx"), F.col("six")
    gini = (2.0 * six - (n + 1.0) * sx) / (1.0 * n * sx)
    return s.filter(sx > 0).select(
        n.alias("n_users"), sx.alias("total_events"), q6(gini).alias("gini")
    )


def _s10_oracle_sql() -> str:
    """Generated DuckDB mirror of the MMR greedy re-ranker: the candidate
    and pairwise-similarity CTEs quantize every cosine to integer
    micro-units exactly like the Spark side, then the 5 greedy selections
    unroll into 5 chained CTEs (sel1..sel5) — each picks the argmax of
    7*relq - 3*max(simq to already-selected) with a vec_id tiebreak, all
    in integer arithmetic, so both engines make identical choices."""
    steps = [
        """
    sel1 AS (
      SELECT vec_id, relq, CAST(1 AS BIGINT) AS step
      FROM cand ORDER BY relq DESC, vec_id LIMIT 1
    ),
    cum1 AS (SELECT vec_id FROM sel1)"""
    ]
    for t in range(2, 6):
        steps.append(f"""
    sel{t} AS (
      SELECT vec_id, relq, CAST({t} AS BIGINT) AS step FROM (
        SELECT c.vec_id, c.relq,
               7 * c.relq - 3 * (
                 SELECT MAX(s.simq) FROM sims s
                 WHERE s.s = c.vec_id
                   AND s.t IN (SELECT vec_id FROM cum{t - 1})
               ) AS score
        FROM cand c
        WHERE c.vec_id NOT IN (SELECT vec_id FROM cum{t - 1})
      ) ORDER BY score DESC, vec_id LIMIT 1
    ),
    cum{t} AS (SELECT vec_id FROM cum{t - 1}
               UNION ALL SELECT vec_id FROM sel{t})""")
    union = " UNION ALL ".join(f"SELECT * FROM sel{t}" for t in range(1, 6))
    # cand/sims are MATERIALIZED: sel1..selk reference them 2-3 times each
    # and DuckDB inlines plain CTEs, re-running the full embedding unnest
    # per greedy step (measured 33 s -> materialized ~1 s at sf0.01; same
    # rows, so the Spark parity is untouched)
    return f"""
    WITH {_EMB_DOTS},
    cand AS MATERIALIZED (
      SELECT vec_id,
             CAST(FLOOR(dot / (SQRT(aa) * SQRT(qq)) * 1000000) AS BIGINT)
               AS relq
      FROM dots, qn WHERE aa > 0 AND qq > 0
      ORDER BY relq DESC, vec_id LIMIT 20
    ),
    pe AS (
      SELECT vec_id, unnest(embedding) AS x,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings WHERE vec_id IN (SELECT vec_id FROM cand)
    ),
    pn AS (
      SELECT vec_id, SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nn
      FROM pe GROUP BY 1
    ),
    pdots AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             SUM(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dot
      FROM pe a JOIN pe b ON a.i = b.i AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    ),
    sims0 AS (
      SELECT va, vb,
             CAST(FLOOR(dot / (SQRT(na.nn) * SQRT(nb.nn)) * 1000000)
               AS BIGINT) AS simq
      FROM pdots JOIN pn na ON va = na.vec_id JOIN pn nb ON vb = nb.vec_id
      WHERE na.nn > 0 AND nb.nn > 0
    ),
    sims AS MATERIALIZED (
      SELECT va AS s, vb AS t, simq FROM sims0
      UNION ALL SELECT vb AS s, va AS t, simq FROM sims0
    ),
    {",".join(steps)}
    SELECT step, vec_id, relq / 1000000.0 AS relevance FROM ({union})
    """


@register(
    "s10_mmr_diversified_topk",
    None,  # oracle attached below (generated unrolled-greedy SQL)
    survey_rows="ext:diversified retrieval (maximal marginal relevance — "
    "the re-ranker behind diverse training-data selection); s1 (cosine "
    "top-k), s8 (hybrid fusion)",
    description="MMR-diversified top-5 (Carbonell/Goldstein 1998): from "
    "the cosine top-20 candidates to the query vector, greedily select "
    "5 maximizing 0.7*relevance - 0.3*max-similarity-to-selected — the "
    "classic redundancy-suppressing re-ranker used to pick DIVERSE "
    "examples for a context window or a labeling batch where s1's pure "
    "top-k returns near-duplicates. Every cosine is floor-quantized to "
    "integer micro-units BEFORE any comparison and the greedy scores "
    "are pure integer arithmetic (7*relq - 3*simq), so both engines "
    "make bit-identical selections; the oracle unrolls the k greedy "
    "steps into chained CTEs. Spark shape: distributed scan scores the "
    "corpus and TakeOrderedAndProject keeps 20 candidates; the k x 20 "
    "greedy runs driver-side on the 400-cell quantized similarity "
    "matrix (bounded by constants, like the <=200k-edge union-find "
    "route) — at 100 TB only the candidate generation touches the "
    "corpus, and the LSH/IVF paths (s3/s4) slot in as the generator.",
)
def s10_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from ..functions.arrays import cosine_similarity
    from ..operators.similarity import _nonzero_norm, _query_lit

    k, n_cand = 5, 20
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(v)
        for v in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    scored = (
        emb.filter((F.col("vec_id") != 0) & _nonzero_norm(F.col("embedding")))
        .select(
            "vec_id",
            F.floor(
                cosine_similarity(F.col("embedding"), _query_lit(qvec)) * 1000000
            )
            .cast("long")
            .alias("relq"),
        )
        .orderBy(F.col("relq").desc(), F.col("vec_id").asc())
        .limit(n_cand)
    )
    cand = scored.collect()  # bounded: n_cand rows
    ids = [r.vec_id for r in cand]
    cvecs = emb.filter(F.col("vec_id").isin(ids)).select("vec_id", "embedding")
    a = cvecs.toDF("va", "ea")
    b = cvecs.toDF("vb", "eb")
    pair_rows = (
        a.join(b, F.col("va") < F.col("vb"))
        .select(
            "va",
            "vb",
            F.floor(cosine_similarity(F.col("ea"), F.col("eb")) * 1000000)
            .cast("long")
            .alias("simq"),
        )
        .collect()
    )  # bounded: n_cand*(n_cand-1)/2 rows
    sim = {}
    for r in pair_rows:
        sim[(r.va, r.vb)] = r.simq
        sim[(r.vb, r.va)] = r.simq
    relq = {r.vec_id: r.relq for r in cand}
    selected: list[tuple[int, int]] = []
    chosen: set = set()
    for step in range(1, k + 1):
        best = None
        for r in cand:
            if r.vec_id in chosen:
                continue
            if selected:
                penalty = max(sim[(r.vec_id, s)] for _, s in selected)
                score = 7 * r.relq - 3 * penalty
            else:
                score = r.relq  # step 1: pure relevance ordering
            key = (-score, r.vec_id)
            if best is None or key < best[0]:
                best = (key, r.vec_id)
        selected.append((step, best[1]))
        chosen.add(best[1])
    out = [(step, vid, relq[vid] / 1000000.0) for step, vid in selected]
    schema = T.StructType(
        [
            T.StructField("step", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("relevance", T.DoubleType()),
        ]
    )
    return local_frame(spark, out, schema)


CORPUS["s10_mmr_diversified_topk"].oracle = _s10_oracle_sql()


# ===========================================================================
# Truncated Katz centrality (walk-count joins), temporal
# follow-up anti-join, deterministic randomization test, freshness audit.
# ===========================================================================


@register(
    "g7_katz_centrality",
    f"""
    WITH {_SQL_UI_CTE},
    co AS (
      SELECT a.item AS i, b.item AS j
      FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
      GROUP BY 1, 2 HAVING COUNT(*) >= 30
    ),
    ed AS (
      SELECT i AS src, j AS dst FROM co
      UNION ALL SELECT j AS src, i AS dst FROM co
    ),
    w1 AS (SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS p1 FROM ed GROUP BY 1),
    w2 AS (
      SELECT e.src AS v, CAST(SUM(d.p1) AS BIGINT) AS p2
      FROM ed e JOIN w1 d ON e.dst = d.v GROUP BY 1
    ),
    w3 AS (
      SELECT e.src AS v, CAST(SUM(d.p2) AS BIGINT) AS p3
      FROM ed e JOIN w2 d ON e.dst = d.v GROUP BY 1
    ),
    k AS (
      SELECT w1.v AS item, w1.p1, w2.p2, w3.p3,
             64 * w1.p1 + 8 * w2.p2 + w3.p3 AS katz_num
      FROM w1 JOIN w2 ON w1.v = w2.v JOIN w3 ON w1.v = w3.v
    ),
    ranked AS (
      SELECT item, p1 AS n_walks1, p2 AS n_walks2, p3 AS n_walks3,
             katz_num / 512.0 AS katz,
             ROW_NUMBER() OVER (ORDER BY katz_num DESC, item) AS rk
      FROM k
    )
    SELECT item, n_walks1, n_walks2, n_walks3, katz
    FROM ranked WHERE rk <= 25
    """,
    survey_rows="ext:centrality (truncated Katz via exact walk counts — "
    "the attenuated-influence complement of g1's PageRank); ext:graph",
    description="Truncated Katz centrality over the co-visitation graph "
    "(attenuation 1/8, horizon 3): walk counts of length 1..3 from each "
    "node computed as chained equi-joins (w_k(u) = sum over neighbors z "
    "of w_{k-1}(z) — the A^k row sums, materialized per node, never a "
    "matrix), combined into the exact integer numerator 64*p1 + 8*p2 + "
    "p3 of sum beta^k A^k with one float division at the end. Where g1 "
    "iterates PageRank to a tolerance (rows-only-adjacent grading), the "
    "truncated Katz series is CLOSED-FORM on walk counts, so the whole "
    "centrality is oracle-exact; top-25 with deterministic tiebreak. "
    "Each hop is one shuffle on the join key — at 100 TB the frontier "
    "frames stay node-sized (not edge-sized) between hops.",
)
def g7_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    _, co_all = _covis_shared(spark, sf_dir)
    co = co_all.filter(F.col("c") >= 30).select("i", "j")
    ed = osk.materialize(
        co.select(F.col("i").alias("src"), F.col("j").alias("dst")).unionAll(
            co.select(F.col("j").alias("src"), F.col("i").alias("dst"))
        )
    )
    w1 = ed.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("p1")
    )
    w2 = (
        ed.join(w1.toDF("dst", "p1n"), "dst")
        .groupBy(F.col("src").alias("v"))
        .agg(F.sum("p1n").cast("long").alias("p2"))
    )
    w3 = (
        ed.join(w2.toDF("dst", "p2n"), "dst")
        .groupBy(F.col("src").alias("v"))
        .agg(F.sum("p2n").cast("long").alias("p3"))
    )
    k = (
        w1.join(w2, "v")
        .join(w3, "v")
        .select(
            F.col("v").alias("item"),
            "p1",
            "p2",
            "p3",
            (64 * F.col("p1") + 8 * F.col("p2") + F.col("p3")).alias("katz_num"),
        )
    )
    rk = F.row_number().over(Window.orderBy(F.col("katz_num").desc(), F.col("item")))
    return (
        k.withColumn("rk", rk)
        .filter(F.col("rk") <= 25)
        .select(
            "item",
            F.col("p1").alias("n_walks1"),
            F.col("p2").alias("n_walks2"),
            F.col("p3").alias("n_walks3"),
            (F.col("katz_num") / 512.0).alias("katz"),
        )
    )


@register(
    "j12_followup_anti_join",
    """
    WITH v AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
    ),
    p AS (
      SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    uncnv AS (
      SELECT v.event_id, v.user_id
      FROM v
      WHERE NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.user_id = v.user_id
          AND p.ts > v.ts
          AND p.ts <= v.ts + INTERVAL 1 HOUR
      )
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_unconverted,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM v v2
            WHERE v2.user_id = uncnv.user_id) AS n_views
    FROM uncnv GROUP BY user_id
    """,
    survey_rows="ext:temporal anti-join (NOT EXISTS within a time window — "
    "the abandonment shape ev1's ordered funnel cannot express); J4 "
    "(anti), j11 (interval overlap)",
    description="Temporal follow-up anti-join: view events with NO "
    "purchase by the same user within the following hour — the "
    "abandonment/no-follow-up query behind retargeting lists and alert "
    "suppression, and a genuinely different join shape from J4's "
    "key-anti-join (the predicate is key equality PLUS a time band, so "
    "the anti-semantics apply to a range condition). Spark plans it as "
    "a user-keyed LEFT JOIN with the band predicate folded into the "
    "join condition and a null filter — one shuffle on user_id, no "
    "BNLJ; per-user output with total views alongside. At 100 TB the "
    "time band bounds state exactly like a stream-stream join watermark.",
)
def j12_followup_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        "event_id", F.col("user_id").alias("vu"), F.col("ts").alias("vts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    unconv = v.join(
        p,
        (F.col("vu") == F.col("pu"))
        & (F.col("pts") > F.col("vts"))
        & (F.col("pts") <= F.col("vts") + F.expr("INTERVAL 1 HOUR")),
        "left_anti",
    )
    per_user = unconv.groupBy(F.col("vu").alias("user_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_unconverted")
    )
    views = v.groupBy(F.col("vu").alias("user_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_views")
    )
    return per_user.join(views, "user_id")


@register(
    "m30_randomization_test",
    f"""
    WITH RECURSIVE base AS (
      SELECT value,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a,
             CAST(md5_number_lower(CAST(event_id AS VARCHAR)) % 2147483648
               AS BIGINT) AS seed
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'view')
    ),
    obs AS (
      SELECT {SQL_DSUM("CASE WHEN is_a = 1 THEN value END")}
               / COUNT(CASE WHEN is_a = 1 THEN 1 END)
             - {SQL_DSUM("CASE WHEN is_a = 0 THEN value END")}
               / COUNT(CASE WHEN is_a = 0 THEN 1 END) AS diff_obs,
             CAST(SUM(is_a) AS BIGINT) AS n_a,
             CAST(COUNT(*) - SUM(is_a) AS BIGINT) AS n_b,
             SUM(is_a) * 1.0 / COUNT(*) AS frac_a
      FROM base
    ),
    {_REPS_CTE},
    relabeled AS (
      SELECT b.value, rp.r,
             CASE WHEN {_lehmer_u_sql("b.seed")}
                  < (SELECT frac_a FROM obs)
                  THEN 1 ELSE 0 END AS ra
      FROM base b CROSS JOIN reps rp
    ),
    rep_diffs AS (
      SELECT r,
             {SQL_DSUM("CASE WHEN ra = 1 THEN value END")}
               / COUNT(CASE WHEN ra = 1 THEN 1 END)
             - {SQL_DSUM("CASE WHEN ra = 0 THEN value END")}
               / COUNT(CASE WHEN ra = 0 THEN 1 END) AS diff_r
      FROM relabeled GROUP BY r
      HAVING COUNT(CASE WHEN ra = 1 THEN 1 END) > 0
         AND COUNT(CASE WHEN ra = 0 THEN 1 END) > 0
    )
    SELECT o.n_a, o.n_b,
           FLOOR(o.diff_obs * 1000000) / 1000000.0 AS diff_obs,
           CAST((SELECT COUNT(*) FROM rep_diffs
                 WHERE ABS(diff_r) >= ABS(o.diff_obs)) AS BIGINT)
             AS n_extreme,
           FLOOR((1.0 + (SELECT COUNT(*) FROM rep_diffs
                         WHERE ABS(diff_r) >= ABS(o.diff_obs)))
                 / (1.0 + (SELECT COUNT(*) FROM rep_diffs)) * 1000000)
             / 1000000.0 AS p_value
    FROM obs o
    """,
    survey_rows="ext:distribution-free inference (randomization test — "
    "the nonparametric complement of m2's Welch t); M2, m25 (replicate "
    "machinery), t12 (hash determinism)",
    description="Deterministic randomization test for the click-vs-view "
    "mean difference: 200 pseudo-random relabelings of the pooled "
    "sample (Bernoulli at the observed group fraction, drawn from the "
    "same per-row MINSTD streams as m25's bootstrap — "
    "one hash per row, integer fan-out), each replicate's mean "
    "difference from exact decimal sums, p-value = smoothed fraction "
    "of replicates at least as extreme as observed. Distribution-free "
    "where m2's Welch t assumes normal-ish tails, and fully "
    "reproducible: the oracle regenerates every relabeling "
    "bit-for-bit. Same shape as m25: one observed-statistics "
    "aggregation, then the fused replicate pass (stats.resample) with "
    "no 200x row multiplier.",
)
def m30_randomization_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import md5_token_hash64
    from ..stats.resample import lehmer_replicate_sums, unscaled6

    base = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("event_type").isin("click", "view"))
        .select(
            "value",
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias("is_a"),
            md5_token_hash64(F.col("event_id").cast("string"))
            .bitwiseAND(F.lit(2147483647))
            .alias("seed"),
        )
    )
    obs_row = base.agg(
        (
            agg.decimal_sum(F.when(F.col("is_a") == 1, F.col("value")))
            / F.count(F.when(F.col("is_a") == 1, F.lit(1)))
            - agg.decimal_sum(F.when(F.col("is_a") == 0, F.col("value")))
            / F.count(F.when(F.col("is_a") == 0, F.lit(1)))
        ).alias("diff_obs"),
        F.sum("is_a").cast("long").alias("n_a"),
        (F.count(F.lit(1)) - F.sum("is_a")).cast("long").alias("n_b"),
        (F.sum("is_a") * 1.0 / F.count(F.lit(1))).alias("frac_a"),
    ).collect()[0]
    diff_obs, frac_a = obs_row.diff_obs, obs_row.frac_a
    # (diff_r) per replicate that relabels rows into both groups; with
    # frac_a outside (0, 1) every replicate puts all rows in one group
    diffs = []
    if frac_a is not None and 0.0 < frac_a < 1.0:
        # outcome 0 (u < frac_a) relabels a row into group a, outcome 1
        # into group b; either way the row adds its value
        vq = unscaled6(F.col("value"))
        s = lehmer_replicate_sums(base, None, "seed", [vq, vq], [frac_a])[None]
        diffs = [
            sa / 10**6 / na - sb / 10**6 / nb
            for (na, nb), (sa, sb) in zip(s.counts, s.sums)
            if na > 0 and nb > 0
        ]
    n_extreme = sum(1 for d in diffs if diff_obs is not None and abs(d) >= abs(diff_obs))
    return local_frame(
        spark,
        [
            (
                obs_row.n_a,
                obs_row.n_b,
                None if diff_obs is None else _floor6(diff_obs),
                n_extreme,
                _floor6((1.0 + n_extreme) / (1.0 + len(diffs))),
            )
        ],
        "n_a long, n_b long, diff_obs double, n_extreme long, p_value double",
    )


@register(
    "dq10_freshness_lag",
    """
    WITH g AS (SELECT MAX(ts) AS gmax FROM events),
    per AS (
      SELECT event_type, MAX(ts) AS tmax, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(MAX(CAST(ts AS DATE)) AS VARCHAR) AS latest_day
      FROM events GROUP BY 1
    )
    SELECT p.event_type, p.n, p.latest_day,
           CAST(date_diff('second', p.tmax, g.gmax) AS BIGINT) AS lag_seconds,
           CASE WHEN date_diff('second', p.tmax, g.gmax) > 86400
                THEN 'stale' ELSE 'fresh' END AS freshness
    FROM per p, g
    """,
    survey_rows="ext:data-quality freshness audit (per-source ingestion "
    "lag vs corpus high-water mark); dq7 (gaps), W4",
    description="Ingestion-freshness audit: per event type, the lag of "
    "its newest record behind the corpus-wide high-water mark, with a "
    "24-hour staleness flag — the first panel of every ingestion "
    "dashboard and the check that catches a silently-dead source that "
    "dq7's intra-stream gap audit (which only sees gaps BETWEEN its own "
    "records) structurally cannot: a source that stopped emitting has "
    "no new records to gap against. Two scan-level aggregations, "
    "integer second arithmetic on both engines.",
)
def dq10_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    g = ev.agg(F.max("ts").alias("gmax"))
    per = ev.groupBy("event_type").agg(
        F.max("ts").alias("tmax"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max(F.col("ts").cast("date")).cast("string").alias("latest_day"),
    )
    lag = F.col("gmax").cast("long") - F.col("tmax").cast("long")
    return per.crossJoin(g).select(
        "event_type",
        "n",
        "latest_day",
        lag.alias("lag_seconds"),
        F.when(lag > 86400, "stale").otherwise("fresh").alias("freshness"),
    )


# ===========================================================================
# Decile lift/gains table, directional containment
# near-dup pairs, and the Count-Min streaming twin.
# ===========================================================================


@register(
    "a24_decile_lift",
    f"""
    WITH {_HASHED_SCORES_SQL},
    ranked AS (
      SELECT NTILE(10) OVER (ORDER BY score DESC, doc_id) AS decile,
             CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS label
      FROM doc_scores
    ),
    per AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(label) AS BIGINT) AS n_pos
      FROM ranked GROUP BY 1
    ),
    cum AS (
      SELECT decile, n_docs, n_pos,
             SUM(n_docs) OVER (ORDER BY decile) AS cum_n,
             SUM(n_pos) OVER (ORDER BY decile) AS cum_pos,
             SUM(n_docs) OVER () AS tot_n,
             SUM(n_pos) OVER () AS tot_pos
      FROM per
    )
    SELECT decile, n_docs, n_pos,
           {SQL_Q6('CAST(n_pos AS DOUBLE) / n_docs')} AS response_rate,
           {SQL_Q6('(cum_pos * tot_n * 1.0) / (cum_n * tot_pos)')}
             AS cum_lift
    FROM cum WHERE tot_pos > 0 ORDER BY decile
    """,
    survey_rows="ext:model evaluation (decile lift/gains table — the "
    "targeting-efficiency view next to ml4's calibration and ml5's AUC); "
    "t34 (hashed classifier), W6 (ntile)",
    description="Decile lift (gains) table of t34's hashed quality "
    "classifier: docs ranked by score into NTILE(10) deciles "
    "(deterministic doc_id tiebreak, the a22 discipline), each decile "
    "reporting its positive count, response rate, and CUMULATIVE lift — "
    "how many times better the top-k deciles concentrate positives than "
    "random selection, the standard 'is the score worth acting on' "
    "artifact for campaign targeting and corpus-gating budget planning. "
    "The lift ratio is computed as one division of exact integer "
    "products (cum_pos*tot_n)/(cum_n*tot_pos), then floor-quantized. "
    "Scale: the per-doc scoring aggregation dominates; the decile table "
    "itself is 10 rows off one window over the per-doc frame.",
)
def a24_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    doc_scores = _hashed_doc_scores(spark, sf_dir)
    ranked = doc_scores.select(
        F.ntile(10)
        .over(Window.orderBy(F.col("score").desc(), F.col("doc_id")))
        .alias("decile"),
        F.when(F.col("n_chars") >= 200, 1).otherwise(0).alias("label"),
    )
    per = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("label").cast("long").alias("n_pos"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = per.select(
        "decile",
        "n_docs",
        "n_pos",
        F.sum("n_docs").over(wc).alias("cum_n"),
        F.sum("n_pos").over(wc).alias("cum_pos"),
        F.sum("n_docs").over(wt).alias("tot_n"),
        F.sum("n_pos").over(wt).alias("tot_pos"),
    )
    return (
        cum.filter(F.col("tot_pos") > 0)
        .select(
            "decile",
            "n_docs",
            "n_pos",
            q6(F.col("n_pos").cast("double") / F.col("n_docs")).alias(
                "response_rate"
            ),
            q6(
                (F.col("cum_pos") * F.col("tot_n") * 1.0)
                / (F.col("cum_n") * F.col("tot_pos"))
            ).alias("cum_lift"),
        )
        .orderBy("decile")
    )


@register(
    "t46_containment_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id,
             {_SQL_LOWER_WORDS} AS words
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(words, i, i + 4), ' ') AS s
      FROM toks, LATERAL (
        SELECT unnest(generate_series(1, len(words) - 4)) AS i
      )
      WHERE len(words) >= 5
    ),
    df AS (
      SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 50
    ),
    shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN df USING (s)),
    cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM shc GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_common, ca.n_sh AS n_a, cb.n_sh AS n_b,
           FLOOR(n_common * 1000000.0 / ca.n_sh) / 1000000.0
             AS cont_a_in_b,
           FLOOR(n_common * 1000000.0 / cb.n_sh) / 1000000.0
             AS cont_b_in_a
    FROM inter
    JOIN cnt ca ON id_a = ca.doc_id
    JOIN cnt cb ON id_b = cb.doc_id
    WHERE n_common * 2 >= LEAST(ca.n_sh, cb.n_sh)
    """,
    survey_rows="ext:directional containment near-dup (Broder containment "
    "— catches a document QUOTED inside a larger one, which symmetric "
    "Jaccard (t2) dilutes away); t2, t16 (contamination)",
    description="Directional containment pairs on 5-gram shingles: "
    "C(A in B) = |S(A) n S(B)| / |S(A)| — Broder's asymmetric companion "
    "to Jaccard, the screen that catches a short document wholly quoted "
    "inside a much larger one (t2's symmetric J = inter/union dilutes "
    "such pairs toward zero as the big doc grows, so they pass document "
    "dedup and leak into training). Same inverted-index shape as t2 — "
    "shingle equi-join with a doc-frequency cap (<=50) so boilerplate "
    "shingles never fan out — reporting both directions for every pair "
    "whose overlap covers at least half the smaller shingle set; ratios "
    "are single floor-quantized divisions of exact integer counts. The "
    "100 TB route is identical to t2's: MinHash-LSH (t7) generates "
    "candidates, this op verifies containment exactly.",
)
def t46_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import widen_narrow_scan
    from ..operators.text import tokens

    docs = _t(spark, sf_dir, "documents")
    # widen: the 5-gram build is the expensive map and a single-row-group
    # input would run it on one core (see skew.widen_narrow_scan). The
    # static plan shows the sh subtree 4× (df_ok, cnt, both join sides) but
    # runtime exchange reuse collapses the identical distinct-exchange, so
    # no materialization is needed — tokenize+explode executes once.
    toks = widen_narrow_scan(docs.select("doc_id", "text")).select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("words")
    )
    sh = (
        toks.filter(F.size("words") >= 5)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("words") - 4),
                    lambda i: F.concat_ws(" ", F.slice(F.col("words"), i, 5)),
                )
            ).alias("s"),
        )
        .distinct()
    )
    df_ok = sh.groupBy("s").agg(F.count(F.lit(1)).alias("dfreq")).filter(
        F.col("dfreq") <= 50
    )
    shc = sh.join(df_ok.select("s"), "s")
    cnt = shc.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_sh"))
    inter = (
        shc.toDF("s", "id_a")
        .join(shc.toDF("s", "id_b"), "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    out = (
        inter.join(cnt.toDF("id_a", "n_a"), "id_a")
        .join(cnt.toDF("id_b", "n_b"), "id_b")
        .filter(F.col("n_common") * 2 >= F.least(F.col("n_a"), F.col("n_b")))
    )
    return out.select(
        "id_a",
        "id_b",
        "n_common",
        "n_a",
        "n_b",
        (F.floor(F.col("n_common") * 1000000.0 / F.col("n_a")) / 1000000.0).alias(
            "cont_a_in_b"
        ),
        (F.floor(F.col("n_common") * 1000000.0 / F.col("n_b")) / 1000000.0).alias(
            "cont_b_in_a"
        ),
    )


@register(
    "st12_streaming_countmin",
    CORPUS["a23_countmin_heavy_hitters"].oracle,
    survey_rows="ext:streaming mergeable frequency sketch (Count-Min "
    "partials merged across micro-batches == batch sketch bit-for-bit); "
    "a23, st11 (streaming HLL), §2.8",
    description="Streaming twin of a23's Count-Min sketch: each "
    "micro-batch reduces to its own (row, bucket) cell counts inside "
    "foreachBatch (streaming/ingest.py::countmin_partials_foreach_batch), "
    "the partials are SUM-merged across batches — addition is the "
    "sketch's merge operator — and the merged sketch answers the same "
    "top-10 heavy-hitter point estimates. Graded against a23's own "
    "oracle, which proves the mergeability claim end-to-end: however "
    "the stream splits the input, streaming == batch exactly (st11's "
    "lockstep pattern, extended from distinct-counting to frequency "
    "counting). At 100 TB this is the shape of every per-shard sketch "
    "rollup: shard/day partials in a metrics store, one tiny merge at "
    "read time, never a re-scan.",
)
def st12_streaming_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.ingest import (
        countmin_partials_foreach_batch,
        read_events_stream,
    )

    stream = read_events_stream(spark, sf_dir)
    sink: list = []
    countmin_partials_foreach_batch(stream, sink)
    rows = [r for _, batch in sink for r in batch]
    partials = local_frame(spark, rows, "j int, bucket long, cnt long")
    sketch = partials.groupBy("j", "bucket").agg(F.sum("cnt").alias("cnt"))
    return _countmin_top10(_countmin_keys(spark, sf_dir), sketch)


# ===========================================================================
# Spectral-concentration audit via integer power
# iteration (matrix iteration as joins), and PMI word co-occurrence.
# ===========================================================================


def _e8_oracle_sql() -> str:
    """Generated DuckDB mirror of the integer power iteration: the gram
    matrix and every iterate are exact integers (truncating division is
    identical on both engines), so the k-step Rayleigh quotient matches
    bit-for-bit. Iterations unroll into chained CTEs."""
    steps = []
    prev = "v0"
    last_w = "w1"
    for t in range(1, 5):
        steps.append(f"""
    w{t} AS (
      SELECT c.j, CAST(SUM(c.c * v.x) AS BIGINT) AS w
      FROM cmat c JOIN {prev} v ON c.k = v.j GROUP BY 1
    ),
    d{t} AS (SELECT GREATEST(1, MAX(ABS(w)) // 1000) AS d FROM w{t}),
    v{t} AS (SELECT j, w // (SELECT d FROM d{t}) AS x FROM w{t})""")
        last_w = f"w{t}"
        prev = f"v{t}"
    return f"""
    WITH xs AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS j,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT)
               AS xq
      FROM embeddings
    ),
    cmat AS (
      SELECT a.j AS j, b.j AS k, CAST(SUM(a.xq * b.xq) AS BIGINT) AS c
      FROM xs a JOIN xs b ON a.vec_id = b.vec_id
      GROUP BY 1, 2
    ),
    v0 AS (SELECT unnest(generate_series(1, 64)) AS j, CAST(1 AS BIGINT) AS x),
    {",".join(steps)},
    ray AS (
      SELECT CAST(SUM(v.x * w.w) AS BIGINT) AS num,
             CAST(SUM(v.x * v.x) AS BIGINT) AS den
      FROM v3 v JOIN {last_w} w ON v.j = w.j
    ),
    tr AS (
      SELECT CAST(SUM(c) AS BIGINT) AS trace
      FROM cmat WHERE j = k
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vecs,
           tr.trace,
           -- CAST, not "* 1.0": the decimal promotion double-rounds large
           -- integers (num can exceed 2^53; found by the reseed probe)
           FLOOR(CAST(ray.num AS DOUBLE) / ray.den * 1000000) / 1000000.0
             AS rayleigh_lb,
           FLOOR(CAST(ray.num AS DOUBLE) / ray.den / tr.trace * 1000000)
             / 1000000.0 AS energy_share_lb
    FROM ray, tr WHERE ray.den > 0 AND tr.trace > 0
    """


@register(
    "e8_power_iteration_audit",
    None,  # oracle attached below (generated unrolled-iteration SQL)
    survey_rows="ext:spectral concentration audit (integer power "
    "iteration — matrix iteration as joins, oracle-exact where "
    "float-vector iteration cannot be); e5 (dimension collapse), "
    "e6 (JL audit), g1 (iteration-as-joins)",
    description="Spectral-concentration audit of the embedding gram "
    "matrix: 4 power-iteration steps computed ENTIRELY in exact integer "
    "arithmetic — coordinates quantized to milli-units, the 64x64 gram "
    "matrix an integer join-aggregation, each iterate rescaled by "
    "truncating division (identical on both engines) — ending in the "
    "Rayleigh quotient, a monotone LOWER BOUND on the top eigenvalue, "
    "reported beside the exact trace as a top-direction energy share. "
    "A rising share across snapshots is the representation-collapse "
    "alarm (e5's per-dimension variance view cannot see a collapse "
    "along an oblique direction; this can). Float power iteration "
    "cannot be oracle-graded (accumulation-order drift compounds per "
    "step); the integer formulation makes an ITERATIVE linear-algebra "
    "kernel bit-for-bit checkable — the same iteration-as-joins shape "
    "as g1's PageRank, with the 64-row iterate broadcast at each step "
    "and the corpus touched once to build the gram matrix.",
)
def e8_power_iteration_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")

    # Gram matrix via per-partition integer matmul (AᵀA partials) instead of
    # the 64×-exploding posexplode self-join: the old plan shuffled
    # n_vecs × dim rows into a SortMergeJoin, expanded to n_vecs × dim² rows
    # through codegen, and aggregated; numpy's int64 matmul does the same
    # exact arithmetic inside one Arrow batch, so only dim² partial cells
    # per partition cross the exchange (guide §2.3: aggregate before you
    # shuffle — this is the map-side combine of the join formulation). A
    # sentinel cell (j=k=−1) carries each partition's row count so n_vecs
    # rides the same single pass. Quantization mirrors the old expression
    # bit-for-bit: float32 → float64 (exact) → ×1000.0 → floor → int64.
    def gram_batches(batches):
        import numpy as np
        import pyarrow as pa

        total = None
        ragged_cells: dict = {}
        nrows = 0
        for b in batches:
            nrows += b.num_rows
            if b.num_rows == 0:
                continue
            la = b.column(0)
            if isinstance(la, pa.ChunkedArray):  # pragma: no cover
                la = la.combine_chunks()
            lengths = la.value_lengths().to_numpy(zero_copy_only=False)
            # the fast reshape path needs RECTANGULAR, non-null rows; a
            # ragged batch would crash the reshape and ELEMENT-level
            # nulls pass a list-level null_count
            # check, turn into NaN, and astype(int64) is then platform-
            # defined garbage — both fall back to the per-row path
            rect = (
                la.null_count == 0
                and len(lengths) > 0
                and (lengths == lengths[0]).all()
                and la.flatten().null_count == 0
            )
            if not rect:  # pragma: no cover - generated data is rectangular
                # per-row accumulation, position-aware: a null ELEMENT is
                # skipped, exactly like the old posexplode/SUM formulation
                # (its null product dropped out of the aggregate)
                for row in la.to_pylist():
                    if not row:
                        continue
                    pos = np.array([i for i, x in enumerate(row) if x is not None])
                    if pos.size == 0:
                        continue
                    vals = np.floor(
                        np.array([row[i] for i in pos], dtype=np.float64) * 1000.0
                    ).astype(np.int64)
                    for j, vj in zip(pos, vals):
                        for kk, vk in zip(pos, vals):
                            ragged_cells[(int(j) + 1, int(kk) + 1)] = (
                                ragged_cells.get((int(j) + 1, int(kk) + 1), 0)
                                + int(vj) * int(vk)
                            )
                continue
            flat = la.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            q = np.floor(flat * 1000.0).astype(np.int64).reshape(b.num_rows, -1)
            g = q.T @ q
            total = g if total is None else total + g
        js, ks, cs = [-1], [-1], [nrows]
        if total is not None:
            d = total.shape[0]
            idx = np.arange(1, d + 1, dtype=np.int32)
            js.extend(np.repeat(idx, d).tolist())
            ks.extend(np.tile(idx, d).tolist())
            cs.extend(total.reshape(-1).tolist())
        # partial cells from ragged/nullable rows (if any) ride the same
        # output; the downstream groupBy(j, k).sum merges them with the
        # matrix cells exactly
        for (j, kk), c in ragged_cells.items():  # pragma: no cover
            js.append(j)
            ks.append(kk)
            cs.append(c)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(js, type=pa.int32()),
                pa.array(ks, type=pa.int32()),
                pa.array(cs, type=pa.int64()),
            ],
            names=["j", "k", "c"],
        )

    cells = (
        emb.select("embedding")
        .mapInArrow(gram_batches, "j int, k int, c long")
        .groupBy("j", "k")
        .agg(F.sum("c").cast("long").alias("c"))
        .collect()
    )
    n_vecs = sum(r.c for r in cells if r.j == -1)
    cmat = {(r.j, r.k): r.c for r in cells if r.j != -1}
    trace = sum(c for (j, k), c in cmat.items() if j == k)
    # The iterate AND the dim²-cell gram matrix are constant-size (64×64
    # longs) regardless of corpus scale, so the 4 power-iteration steps run
    # on the driver in exact Python ints — the per-step broadcast-join +
    # collect round trips (5 distributed jobs over a 4096-row frame) are
    # gone; arithmetic is unchanged.
    v = {j: 1 for j in range(1, 65)}
    num = den = None
    for _ in range(4):
        w: dict[int, int] = {}
        for (j, k), c in cmat.items():
            if k in v:
                w[j] = w.get(j, 0) + c * v[k]
        num = sum(v[j] * w[j] for j in w)
        den = sum(x * x for x in v.values())
        d = max(1, max(abs(x) for x in w.values()) // 1000)
        v = {j: int(abs(x) // d) * (1 if x >= 0 else -1) for j, x in w.items()}
    from pyspark.sql import types as T

    # Mirror the oracle's float op order EXACTLY: num can exceed 2^53, so
    # "cast num to double, then divide" (SQL num * 1.0 / den) rounds
    # differently from Python's correctly-rounded exact-rational num/den.
    # Found by the reseed probe (seed 7177: num ~ 6.7e16).
    ray = float(num) / float(den)
    out = [
        (int(n_vecs), int(trace), _floor6(ray), _floor6(ray / float(trace)))
    ]
    schema = T.StructType(
        [
            T.StructField("n_vecs", T.LongType()),
            T.StructField("trace", T.LongType()),
            T.StructField("rayleigh_lb", T.DoubleType()),
            T.StructField("energy_share_lb", T.DoubleType()),
        ]
    )
    return local_frame(spark, out, schema)


def _floor6(x: float) -> float:
    import math

    return math.floor(x * 1000000) / 1000000.0


CORPUS["e8_power_iteration_audit"].oracle = _e8_oracle_sql()


@register(
    "t47_pmi_cooccurrence",
    f"""
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest({_SQL_LOWER_WORDS}) AS w
      FROM documents
    ),
    vocab AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS dfreq
      FROM toks GROUP BY 1 HAVING COUNT(*) >= 20
    ),
    tv AS (SELECT t.doc_id, t.w, v.dfreq FROM toks t JOIN vocab v USING (w)),
    pairs AS (
      SELECT a.w AS w1, b.w AS w2,
             CAST(COUNT(*) AS BIGINT) AS n_ab,
             MAX(a.dfreq) AS n_a, MAX(b.dfreq) AS n_b
      FROM tv a JOIN tv b ON a.doc_id = b.doc_id AND a.w < b.w
      GROUP BY 1, 2 HAVING COUNT(*) >= 10
    ),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd FROM toks),
    scored AS (
      SELECT w1, w2, n_ab, n_a, n_b,
             CAST(FLOOR(LN(n_ab * 1.0 * nd / (n_a * 1.0 * n_b)) * 1000000)
               AS BIGINT) AS pmi_q
      FROM pairs, n
    ),
    ranked AS (
      SELECT w1, w2, n_ab, n_a, n_b, pmi_q / 1000000.0 AS pmi,
             ROW_NUMBER() OVER (ORDER BY pmi_q DESC, w1, w2) AS rk
      FROM scored
    )
    SELECT w1, w2, n_ab, n_a, n_b, pmi FROM ranked WHERE rk <= 30
    """,
    survey_rows="ext:co-occurrence statistics (document-level PMI — the "
    "count table GloVe/word2vec-style training consumes); t19 (bigram "
    "LM), t22 (TF-IDF)",
    description="Pointwise mutual information over document-level word "
    "co-occurrence: for frequent-vocabulary pairs (doc-freq >= 20, "
    "co-occurrence >= 10), PMI = ln(n_ab*N / (n_a*n_b)) — positive "
    "means the pair co-occurs beyond chance, the association statistic "
    "behind collocation mining and the co-occurrence counts embedding "
    "training consumes (where t19's bigram LM sees only ADJACENT "
    "words, PMI sees whole-document association). Counts are exact "
    "integers off one distinct-word inverted index self-joined per doc "
    "(vocabulary floor caps the fan-out the way t2 caps doc-freq); "
    "the single LN is floor-quantized to micro-units and the top-30 "
    "ranking happens ON the quantized integer, so ordering cannot "
    "drift between engines.",
)
def t47_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.skew import widen_narrow_scan
    from ..operators.text import tokens

    docs = _t(spark, sf_dir, "documents")
    toks = (
        widen_narrow_scan(docs.select("doc_id", "text"))
        .select("doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("w"))
        .distinct()
    )
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("dfreq"))
        .filter(F.col("dfreq") >= 20)
    )
    tv = toks.join(F.broadcast(vocab), "w")
    pairs = (
        tv.toDF("w1", "doc_id", "df1")
        .join(tv.toDF("w2", "doc_id", "df2"), "doc_id")
        .filter(F.col("w1") < F.col("w2"))
        .groupBy("w1", "w2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ab"),
            F.max("df1").alias("n_a"),
            F.max("df2").alias("n_b"),
        )
        .filter(F.col("n_ab") >= 10)
    )
    nd = toks.select("doc_id").distinct().count()
    pmi_q = F.floor(
        F.log(
            F.col("n_ab") * 1.0 * F.lit(nd) / (F.col("n_a") * 1.0 * F.col("n_b"))
        )
        * 1000000
    ).cast("long")
    scored = pairs.withColumn("pmi_q", pmi_q)
    rk = F.row_number().over(
        Window.orderBy(F.col("pmi_q").desc(), F.col("w1"), F.col("w2"))
    )
    return (
        scored.withColumn("rk", rk)
        .filter(F.col("rk") <= 30)
        .select(
            "w1", "w2", "n_ab", "n_a", "n_b",
            (F.col("pmi_q") / 1000000.0).alias("pmi"),
        )
    )


# ===========================================================================
# Dominant-period detection (lag-sweep autocorrelation),
# transition dwell-time table, sessionized bounce rate.
# ===========================================================================


@register(
    "w26_dominant_period",
    f"""
    WITH {_SQL_DAILY_MILLI_CTE},
    ks AS (SELECT unnest(generate_series(1, 10)) AS k),
    lagged AS (
      SELECT x.event_type, ks.k,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(CAST(x.a AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(SUM(CAST(y.a AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x.a AS HUGEINT) * CAST(y.a AS HUGEINT)) AS HUGEINT) AS sxy,
             CAST(SUM(CAST(x.a AS HUGEINT) * CAST(x.a AS HUGEINT)) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(y.a AS HUGEINT) * CAST(y.a AS HUGEINT)) AS HUGEINT) AS syy
      FROM d x
      JOIN ks ON TRUE
      JOIN d y ON y.event_type = x.event_type AND y.dy = x.dy + CAST(ks.k AS INTEGER)
      GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, k, n,
             CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
               / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE))
               * 1000000) AS BIGINT) AS r_q
      FROM lagged
      WHERE (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
    ),
    best AS (
      SELECT event_type, k, r_q,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY r_q DESC, k) AS rk
      FROM r
    )
    SELECT b.event_type, CAST(b.k AS BIGINT) AS best_lag,
           b.r_q / 1000000.0 AS best_r,
           r7.r_q / 1000000.0 AS weekly_r
    FROM best b LEFT JOIN r r7 ON r7.event_type = b.event_type AND r7.k = 7
    WHERE b.rk = 1
    """,
    survey_rows="ext:periodicity detection (lag-sweep autocorrelation — "
    "generalizes m19's single lag to an argmax over lags 1..10); M13, "
    "w21 (weekly decomposition), w25 (seasonal-naive)",
    description="Dominant-period detector: Pearson autocorrelation of the "
    "per-type daily series at every lag 1..10 (the sum-formulation over "
    "exact milli-integer daily totals — no mean-centering pass, every "
    "sufficient statistic an exact integer off a date-shifted self-join), "
    "reporting the argmax lag with a deterministic tiebreak plus the "
    "lag-7 value — the check that VALIDATES w25's seasonal-naive choice "
    "of 7 and w21's weekly decomposition instead of assuming it. The "
    "argmax ranks on the micro-unit-quantized integer so both engines "
    "pick identical lags; one aggregation + one 10-way lag join over "
    "the tiny daily frame.",
)
def w26_dominant_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = osk.materialize(_daily_milli(spark, sf_dir))
    ks = spark.range(1, 11).select(F.col("id").cast("int").alias("k"))
    x = d.toDF("event_type", "dy", "ax").crossJoin(F.broadcast(ks))
    y = d.toDF("event_type", "dy2", "ay")
    # sufficient statistics in DECIMAL(38,0): the daily micro-unit totals
    # grow with the data, so ax*ay products overflow int64 past ~3e9
    # micro-units (the 100× probe aborted here with
    # ARITHMETIC_OVERFLOW). DECIMAL keeps every statistic exact (~1e38
    # headroom); the oracle mirrors with HUGEINT, and both engines convert
    # the same exact integers to nearest-double only at the final
    # correlation step.
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    lagged = (
        x.join(
            y,
            (x.event_type == y.event_type)
            & (F.col("dy2") == F.date_add(F.col("dy"), F.col("k"))),
        )
        .drop(y.event_type)
        .groupBy("event_type", "k")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum(dec("ax")).alias("sx"),
            F.sum(dec("ay")).alias("sy"),
            F.sum(dec("ax") * dec("ay")).alias("sxy"),
            F.sum(dec("ax") * dec("ax")).alias("sxx"),
            F.sum(dec("ay") * dec("ay")).alias("syy"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    vx, vy = n * sxx - sx * sx, n * syy - sy * sy
    r = osk.materialize(
        lagged.filter((vx > 0) & (vy > 0)).select(
            "event_type",
            "k",
            F.floor(
                (n * sxy - sx * sy).cast("double")
                / F.sqrt(vx.cast("double") * vy.cast("double"))
                * 1000000
            )
            .cast("long")
            .alias("r_q"),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("event_type").orderBy(F.col("r_q").desc(), F.col("k"))
    )
    best = r.withColumn("rk", rk).filter(F.col("rk") == 1)
    r7 = r.filter(F.col("k") == 7).select(
        F.col("event_type"), F.col("r_q").alias("r7q")
    )
    return best.join(r7, "event_type", "left").select(
        "event_type",
        F.col("k").cast("long").alias("best_lag"),
        (F.col("r_q") / 1000000.0).alias("best_r"),
        (F.col("r7q") / 1000000.0).alias("weekly_r"),
    )


@register(
    "ev9_transition_dwell",
    """
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER w AS prev_type,
             LAG(ts) OVER w AS prev_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    dw AS (
      SELECT prev_type, event_type AS next_type,
             CAST(date_diff('second', prev_ts, ts) AS BIGINT) AS dwell_s,
             event_id
      FROM seq WHERE prev_type IS NOT NULL
    ),
    ranked AS (
      SELECT prev_type, next_type, dwell_s,
             ROW_NUMBER() OVER (PARTITION BY prev_type, next_type
                                ORDER BY dwell_s, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY prev_type, next_type) AS n
      FROM dw
    )
    SELECT prev_type, next_type, CAST(MAX(n) AS BIGINT) AS n_trans,
           MAX(CASE WHEN rn = (n + 1) // 2 THEN dwell_s END) AS median_dwell_s,
           FLOOR(SUM(dwell_s) * 1.0 / MAX(n) * 1000000) / 1000000.0
             AS mean_dwell_s
    FROM ranked GROUP BY 1, 2
    """,
    survey_rows="ext:transition dwell analysis (latency-annotated Markov "
    "edges — ev3's transition matrix with HOW LONG each hop takes); "
    "ev4 (conversion latency), W1 (lag), m27 (order statistics)",
    description="Dwell-time table on event transitions: for every "
    "(prev, next) event-type pair, the count, exact-order-statistic "
    "median, and mean of the seconds spent between the two events — "
    "ev3's transition matrix tells you WHERE users go, this tells you "
    "HOW LONG each hop takes (the pair that turns a Markov chain into "
    "a semi-Markov model, and the table behind 'users stall before "
    "purchase' diagnoses). One lag window per user (w1's single-shuffle "
    "shape), then per-pair ranking; the median is a ROW_NUMBER order "
    "statistic at an exact integer position (m27's discipline — no "
    "interpolation formula to diverge) with event_id tiebreak, and the "
    "mean is one floored division of an exact integer-seconds sum.",
)
def ev9_transition_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        "ts",
        "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("ts").over(w).alias("prev_ts"),
    ).filter(F.col("prev_type").isNotNull())
    dw = seq.select(
        "prev_type",
        F.col("event_type").alias("next_type"),
        (F.col("ts").cast("long") - F.col("prev_ts").cast("long")).alias("dwell_s"),
        "event_id",
    )
    wp = Window.partitionBy("prev_type", "next_type")
    ranked = dw.select(
        "prev_type",
        "next_type",
        "dwell_s",
        F.row_number()
        .over(wp.orderBy("dwell_s", "event_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    return ranked.groupBy("prev_type", "next_type").agg(
        F.max("n").cast("long").alias("n_trans"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("dwell_s"))
        ).alias("median_dwell_s"),
        (
            F.floor(F.sum("dwell_s") * 1.0 / F.max("n") * 1000000) / 1000000.0
        ).alias("mean_dwell_s"),
    )


@register(
    "a25_bounce_rate",
    """
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR date_diff('second', LAG(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_type, ts, event_id,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM seq
    ),
    firsts AS (
      SELECT user_id, session_id, event_type AS first_type
      FROM (
        SELECT user_id, session_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                  ORDER BY ts, event_id) AS rn
        FROM sess
      ) WHERE rn = 1
    ),
    counts AS (
      SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM sess GROUP BY 1, 2
    ),
    per_sess AS (
      SELECT c.user_id, c.session_id, c.n_events, f.first_type
      FROM counts c JOIN firsts f USING (user_id, session_id)
    )
    SELECT first_type,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounce,
           FLOOR(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*) * 1000000) / 1000000.0 AS bounce_rate
    FROM per_sess GROUP BY 1
    """,
    survey_rows="ext:bounce-rate analytics (single-event sessions per "
    "entry type — the product-analytics headline w9's sessionization "
    "feeds); w9, A4 (conditional rates)",
    description="Sessionized bounce rate by entry event type: w9's "
    "30-minute-gap sessionization (gap flag + running sum, one window "
    "shuffle on user_id), then per-session event counts and the first "
    "event with a deterministic (ts, event_id) argmin, rolled up into "
    "the fraction of single-event sessions per entry type — the "
    "bounce-rate panel every product dashboard pairs with the funnel "
    "(ev1) and retention (ev2) views. Counts exact, one floored "
    "division per group.",
)
def a25_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
    seq = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1)
        .otherwise(0)
        .alias("is_start"),
    )
    sess = seq.withColumn(
        "session_id",
        F.sum("is_start").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    # The session's first event IS the is_start=1 row (one per session), so
    # the entry type needs no string-min aggregate — a filter + equi-join
    # keeps the count in whole-stage hash aggregation (string min/max_by
    # forces SortAggregate), and both sides inherit the window's user_id
    # hash partitioning, so the join/agg add no Exchange.
    firsts = sess.filter(F.col("is_start") == 1).select(
        "user_id", "session_id", F.col("event_type").alias("first_type")
    )
    counts = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    per_sess = counts.join(firsts, ["user_id", "session_id"])
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return per_sess.groupBy("first_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        bounce.cast("long").alias("n_bounce"),
        (F.floor(bounce * 1.0 / F.count(F.lit(1)) * 1000000) / 1000000.0).alias(
            "bounce_rate"
        ),
    )


# ===========================================================================
# Golden-record entity clusters (er1's pairs closed into
# components), day-over-day movers board.
# ===========================================================================


@register(
    "er2_golden_record",
    rf"""
    WITH RECURSIVE {_SQL_PART_CANON},
    prs AS (
      SELECT a.canon_key AS id_a, b.canon_key AS id_b
      FROM canon a JOIN canon b ON a.blk = b.blk AND a.nm < b.nm
      WHERE levenshtein(a.nm, b.nm) <= 2
    ),
    nodes AS (
      SELECT id_a AS node, id_b AS nbr FROM prs
      UNION ALL SELECT id_b, id_a FROM prs
    ),
    reach AS (
      SELECT DISTINCT node, node AS label FROM nodes
      UNION
      SELECT n.node, r.label FROM nodes n JOIN reach r ON n.nbr = r.node
    ),
    comp AS (SELECT node, CAST(MIN(label) AS BIGINT) AS cluster_id
             FROM reach GROUP BY 1),
    members AS (
      SELECT c.cluster_id, k.nm, k.n_rec
      FROM comp c JOIN canon k ON c.node = k.canon_key
    ),
    golden AS (
      SELECT cluster_id, nm AS golden_name,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY n_rec DESC, nm) AS rn
      FROM members
    )
    SELECT m.cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_variants,
           CAST(SUM(m.n_rec) AS BIGINT) AS total_recs,
           MAX(g.golden_name) AS golden_name
    FROM members m
    JOIN golden g ON g.cluster_id = m.cluster_id AND g.rn = 1
    GROUP BY m.cluster_id
    """,
    survey_rows="ext:entity resolution golden record (er1's match pairs "
    "closed into clusters, one survivor per entity); er1, t10 "
    "(connected components), t25 (canonical selection)",
    description="Golden-record construction — the step AFTER record "
    "linkage: er1's within-block fuzzy match pairs (normalize, exact-"
    "collapse, block on trailing token, Levenshtein <= 2) are closed "
    "into connected components (duplicate chains a~b~c where a and c "
    "are 4 edits apart are one entity — pairwise output alone "
    "under-merges), and each cluster elects a golden name by highest "
    "record count with a deterministic tiebreak — the master-data "
    "artifact an MDM pipeline actually ships. Spark runs t10's "
    "size-routed components (driver union-find under 200k edges, else "
    "distributed min-label + pointer jumping); the oracle closes the "
    "same pairs with a recursive CTE, so the clustering is verified "
    "exactly, not just the pairs.",
)
def er2_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.dedup import connected_components

    canon = osk.materialize(_part_name_canon(spark, sf_dir))
    a = canon.select(
        F.col("nm").alias("na"), F.col("canon_key").alias("id_a"), "blk"
    )
    b = canon.select(
        F.col("nm").alias("nb"), F.col("canon_key").alias("id_b"), "blk"
    )
    prs = (
        a.join(b, "blk")
        .filter(F.col("na") < F.col("nb"))
        .filter(F.levenshtein("na", "nb") <= 2)
        .select("id_a", "id_b")
    )
    comp = connected_components(prs).toDF("node", "cluster_id")
    members = comp.join(
        canon.select(F.col("canon_key").alias("node"), "nm", "n_rec"), "node"
    )
    rn = F.row_number().over(
        Window.partitionBy("cluster_id").orderBy(F.col("n_rec").desc(), F.col("nm"))
    )
    golden = (
        members.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("cluster_id", F.col("nm").alias("golden_name"))
    )
    per = members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_variants"),
        F.sum("n_rec").cast("long").alias("total_recs"),
    )
    return per.join(golden, "cluster_id").select(
        "cluster_id", "n_variants", "total_recs", "golden_name"
    )


@register(
    "w27_daily_movers",
    f"""
    WITH {_SQL_DAILY_MILLI_CTE},
    delta AS (
      SELECT event_type, dy, a,
             LAG(a) OVER (PARTITION BY event_type ORDER BY dy) AS prev
      FROM d
    ),
    pct AS (
      SELECT event_type, CAST(dy AS VARCHAR) AS dy, a, prev,
             (1000000 * (a - prev)) // prev AS pct_q
      FROM delta WHERE prev IS NOT NULL AND prev > 0
    ),
    ranked AS (
      SELECT event_type, dy, a, prev, pct_q,
             ROW_NUMBER() OVER (ORDER BY ABS(pct_q) DESC, event_type, dy)
               AS rk
      FROM pct
    )
    SELECT event_type, dy, a AS total_milli, prev AS prev_milli,
           pct_q / 1000000.0 AS pct_change
    FROM ranked WHERE rk <= 10
    """,
    survey_rows="ext:movers board (largest day-over-day swings — the "
    "alerting shortlist dq4's z-score anomalies rank statistically, "
    "this ranks by raw business impact); W1 (lag), w24",
    description="Day-over-day movers board: the 10 largest relative "
    "swings in per-type daily totals — the 'what changed yesterday' "
    "shortlist every ops review starts from, complementing dq4/w24 "
    "(which flag statistical outliers) with a plain impact ranking. "
    "Daily totals are exact milli-integers, the percent change is "
    "integer-division-quantized BEFORE ranking, and the top-10 "
    "tiebreaks on (type, day) — deterministic end to end; one window "
    "over the tiny daily frame.",
)
def w27_daily_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _daily_milli(spark, sf_dir)
    prev = F.lag("a").over(Window.partitionBy("event_type").orderBy("dy"))
    pct = (
        d.select("event_type", F.col("dy").cast("string").alias("dy"), "a", prev.alias("prev"))
        .filter(F.col("prev").isNotNull() & (F.col("prev") > 0))
        .withColumn("pct_q", F.expr("(1000000 * (a - prev)) div prev"))
    )
    rk = F.row_number().over(
        Window.orderBy(F.abs(F.col("pct_q")).desc(), F.col("event_type"), F.col("dy"))
    )
    return (
        pct.withColumn("rk", rk)
        .filter(F.col("rk") <= 10)
        .select(
            "event_type",
            "dy",
            F.col("a").alias("total_milli"),
            F.col("prev").alias("prev_milli"),
            (F.col("pct_q") / 1000000.0).alias("pct_change"),
        )
    )


# ===========================================================================
# Image channel histogram + entropy (multimodal decode
# feature the exposure/contrast screens run on).
# ===========================================================================


def _mm9_sql() -> str:
    """DuckDB mirror of the mm9 pipeline: re-derive every md5 pixel byte
    (mm2's byte CTE), bucket into 16 intensity bins per channel,
    then compute the global per-(channel, bin) pixel counts and the mean
    per-image channel entropy — each entropy TERM floor-quantized to an
    integer BEFORE summing, so no float accumulation order exists."""
    n = mm.IMAGE_WIDTH * mm.IMAGE_HEIGHT * 3
    per_chan = mm.IMAGE_WIDTH * mm.IMAGE_HEIGHT
    return f"""
    WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
    {_md5_bytes_ctes('d', 'd.doc_id', n)},
    hist AS (
      SELECT doc_id, CAST(idx % 3 AS INTEGER) AS c,
             CAST(v // 16 AS INTEGER) AS bin,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM bytes GROUP BY 1, 2, 3
    ),
    terms AS (
      SELECT doc_id, c,
             CAST(SUM(CAST(FLOOR(1000000.0 * cnt / {per_chan}
                                 * LN({per_chan}.0 / cnt)) AS BIGINT))
               AS BIGINT) AS ent_q
      FROM hist GROUP BY 1, 2
    ),
    chan_ent AS (
      SELECT c,
             FLOOR(CAST(SUM(ent_q) AS DOUBLE) / COUNT(*)) / 1000000.0
               AS mean_entropy
      FROM terms GROUP BY 1
    ),
    global_hist AS (
      SELECT c, bin, CAST(SUM(cnt) AS BIGINT) AS n_pixels
      FROM hist GROUP BY 1, 2
    )
    SELECT g.c, g.bin, g.n_pixels, e.mean_entropy
    FROM global_hist g JOIN chan_ent e USING (c)
    """


@register(
    "mm9_channel_histogram",
    None,  # oracle attached below (generated byte re-derivation)
    survey_rows="ext:multimodal decode features (per-channel intensity "
    "histogram + entropy — the exposure/contrast screen); mm2 (decode), "
    "mm5 (resize), t18 (entropy discipline)",
    description="Image channel histogram + entropy: the PPM fixtures "
    "decode in Arrow-batched mapInPandas to per-(channel, bin) intensity "
    "counts (numpy bincount, fixed 3x16 rows out per image), and "
    "everything downstream is exact integer Spark SQL — global bin "
    "totals plus mean per-image channel entropy whose terms are "
    "floor-quantized integers BEFORE summing (t18's discipline: no "
    "float accumulation order). The exposure/contrast screen of an "
    "image-corpus pipeline: a spiked histogram (low entropy) flags "
    "flat/synthetic/corrupt images before they reach training, the "
    "vision-side analog of t6's text quality score. The oracle "
    "re-derives every md5 pixel byte (mm2's machinery), so decode -> "
    "histogram -> entropy is verified end to end.",
)
def mm9_channel_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_ppm_payloads, image_channel_histogram

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    media = attach_ppm_payloads(docs)
    hist = osk.materialize(image_channel_histogram(media))
    per_chan = 16 * 12
    term = F.floor(
        1000000.0 * F.col("cnt") / F.lit(per_chan)
        * F.log(F.lit(float(per_chan)) / F.col("cnt"))
    ).cast("long")
    terms = hist.groupBy("doc_id", "c").agg(F.sum(term).cast("long").alias("ent_q"))
    chan_ent = terms.groupBy("c").agg(
        (
            F.floor(F.sum("ent_q").cast("double") / F.count(F.lit(1))) / 1000000.0
        ).alias("mean_entropy")
    )
    global_hist = hist.groupBy("c", "bin").agg(
        F.sum("cnt").cast("long").alias("n_pixels")
    )
    return global_hist.join(F.broadcast(chan_ent), "c").select(
        "c", "bin", "n_pixels", "mean_entropy"
    )


CORPUS["mm9_channel_histogram"].oracle = _mm9_sql()


# ===========================================================================
# Interval-union coverage (overlap merge), runs test.
# ===========================================================================


@register(
    "w28_interval_coverage",
    """
    WITH iv AS (
      SELECT user_id, ts AS s,
             ts + INTERVAL 15 MINUTE AS e
      FROM events
    ),
    ordered AS (
      SELECT user_id, s, e,
             MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_e
      FROM iv
    ),
    grp AS (
      SELECT user_id, s, e,
             SUM(CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY s, e
                     ROWS UNBOUNDED PRECEDING) AS g
      FROM ordered
    ),
    merged AS (
      SELECT user_id, g, MIN(s) AS gs, MAX(e) AS ge
      FROM grp GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(date_diff('second', gs, ge)) AS BIGINT)
             AS covered_seconds
    FROM merged GROUP BY 1
    """,
    survey_rows="ext:interval union / overlap merge (the engagement-"
    "minutes shape: total covered time after merging overlapping "
    "activity windows); j11 (interval overlap), w9 (sessionization)",
    description="Interval-union coverage: each event opens a 15-minute "
    "activity window, overlapping windows per user merge into maximal "
    "covered intervals (the classic sweep: running MAX of interval ends "
    "with a 1-PRECEDING frame detects gap starts, a running sum labels "
    "the merged groups — one window shuffle, no self-join), and the "
    "output is each user's interval count and total covered seconds — "
    "the 'engagement minutes' / device-uptime metric that naive "
    "SUM(duration) double-counts whenever windows overlap. Distinct "
    "from w9 (which segments by gap >= threshold): this unions "
    "fixed-length windows, the billing/SLA semantics. All timestamp "
    "arithmetic is exact integer seconds.",
)
def w28_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 15 MINUTES")).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "e")
    ordered = iv.withColumn(
        "prev_max_e",
        F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1)),
    )
    grp = ordered.withColumn(
        "g",
        F.sum(
            F.when(
                F.col("prev_max_e").isNull() | (F.col("s") > F.col("prev_max_e")), 1
            ).otherwise(0)
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = grp.groupBy("user_id", "g").agg(
        F.min("s").alias("gs"), F.max("e").alias("ge")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.sum(F.col("ge").cast("long") - F.col("gs").cast("long"))
        .cast("long")
        .alias("covered_seconds"),
    )


@register(
    "m31_runs_test",
    f"""
    WITH {_SQL_DAILY_MILLI_CTE},
    sgn AS (
      SELECT event_type, dy,
             CASE WHEN a > LAG(a) OVER w THEN 1
                  WHEN a < LAG(a) OVER w THEN -1 END AS s
      FROM d WINDOW w AS (PARTITION BY event_type ORDER BY dy)
    ),
    seqd AS (
      SELECT event_type, dy, s,
             LAG(s) OVER (PARTITION BY event_type ORDER BY dy) AS prev_s
      FROM sgn WHERE s IS NOT NULL
    ),
    stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
             CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dn,
             CAST(SUM(CASE WHEN prev_s IS NULL OR s <> prev_s
                           THEN 1 ELSE 0 END) AS BIGINT) AS runs
      FROM seqd GROUP BY 1
    )
    SELECT event_type, n_up, n_dn, runs,
           FLOOR((runs - (2.0 * n_up * n_dn / n + 1))
             / SQRT(2.0 * n_up * n_dn * (2.0 * n_up * n_dn - n)
                    / (CAST(n AS DOUBLE) * n * (n - 1)))
             * 1000000) / 1000000.0 AS z_stat
    FROM stats
    WHERE n > 1 AND n_up > 0 AND n_dn > 0
      AND 2.0 * n_up * n_dn * (2.0 * n_up * n_dn - n) > 0
    """,
    survey_rows="ext:randomness diagnostics (Wald-Wolfowitz runs test on "
    "daily up/down movements — completes the nonparametric family with "
    "m15/m16/m21/m30); m19 (autocorrelation), w20 (CUSUM)",
    description="Wald-Wolfowitz runs test on the signs of day-over-day "
    "movements per event type: counts up-days, down-days, and RUNS "
    "(maximal same-sign streaks), and z-scores the run count against "
    "its null mean/variance — too few runs means trending (w20's CUSUM "
    "will fire), too many means oscillation (a data-pipeline artifact "
    "like alternating duplicate batches that m19's lag-1 correlation "
    "also hints at, diagnosed here distribution-free). Ties (equal "
    "consecutive days) drop on both engines identically via the "
    "NULL-sign filter; all counts exact integers, the z formula "
    "applied once with explicit DOUBLE casts.",
)
def m31_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _daily_milli(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("dy")
    prev_a = F.lag("a").over(w)
    sgn = d.select(
        "event_type",
        "dy",
        F.when(F.col("a") > prev_a, 1).when(F.col("a") < prev_a, -1).alias("s"),
    ).filter(F.col("s").isNotNull())
    seqd = sgn.withColumn("prev_s", F.lag("s").over(w))
    stats = seqd.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).cast("long").alias("n_up"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0)).cast("long").alias("n_dn"),
        F.sum(
            F.when(F.col("prev_s").isNull() | (F.col("s") != F.col("prev_s")), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("runs"),
    )
    n, nu, nd, runs = F.col("n"), F.col("n_up"), F.col("n_dn"), F.col("runs")
    mu = 2.0 * nu * nd / n + 1
    var = 2.0 * nu * nd * (2.0 * nu * nd - n) / (n.cast("double") * n * (n - 1))
    return (
        stats.filter((n > 1) & (nu > 0) & (nd > 0) & (2.0 * nu * nd * (2.0 * nu * nd - n) > 0))
        .select(
            "event_type",
            "n_up",
            "n_dn",
            "runs",
            q6((runs - mu) / F.sqrt(var)).alias("z_stat"),
        )
    )


# ===========================================================================
# Time-weighted average (step-function integral),
# id-sequence gap audit.
# ===========================================================================


@register(
    "w29_time_weighted_avg",
    """
    WITH seq AS (
      SELECT user_id, ts, event_id,
             CAST(FLOOR(value * 1000) AS BIGINT) AS v,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS nts
      FROM events WHERE value IS NOT NULL
    ),
    seg AS (
      SELECT user_id, v,
             CAST(date_diff('second', ts, nts) AS BIGINT) AS dt
      FROM seq WHERE nts IS NOT NULL
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(dt) AS BIGINT) AS span_seconds,
           FLOOR(CAST(SUM(v * dt) AS DOUBLE) / SUM(dt) / 1000 * 1000000)
             / 1000000.0 AS twap
    FROM seg WHERE dt >= 0 GROUP BY user_id HAVING SUM(dt) > 0
    """,
    survey_rows="ext:time-weighted average (step-function integral — the "
    "TWAP/IoT-telemetry mean where the plain AVG is wrong whenever "
    "sampling is irregular); W1 (lead), w23 (EWMA), w17 (grid resample)",
    description="Time-weighted average per user: each event's value holds "
    "until the user's next event (step-function semantics), so the mean "
    "is the integral sum(v*dt)/sum(dt) — the TWAP / sensor-telemetry "
    "statistic that differs from the plain AVG exactly when sampling is "
    "bursty (a flurry of readings must not dominate the quiet hours; "
    "irregular time series are why w17's grid resample exists, and this "
    "is the aggregate that respects them without resampling). One LEAD "
    "window per user, then exact integer milli-value x seconds products "
    "summed (magnitudes bounded by span x value scale), one explicit "
    "DOUBLE division at the end — no decimal-promotion rounding.",
)
def w29_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "ts",
        F.floor(F.col("value") * 1000).cast("long").alias("v"),
        F.lead("ts").over(w).alias("nts"),
    ).filter(F.col("nts").isNotNull())
    seg = seq.select(
        "user_id",
        "v",
        (F.col("nts").cast("long") - F.col("ts").cast("long")).alias("dt"),
    ).filter(F.col("dt") >= 0)
    return (
        seg.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.sum("dt").cast("long").alias("span_seconds"),
            (
                F.floor(
                    F.sum(F.col("v") * F.col("dt")).cast("double")
                    / F.sum("dt")
                    / 1000
                    * 1000000
                )
                / 1000000.0
            ).alias("twap"),
        )
        .filter(F.col("span_seconds") > 0)
    )


@register(
    "dq11_id_gap_audit",
    """
    WITH d AS (
      SELECT CAST(ts AS DATE) AS dy,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(MIN(event_id) AS BIGINT) AS lo,
             CAST(MAX(event_id) AS BIGINT) AS hi
      FROM events GROUP BY 1
    )
    SELECT CAST(dy AS VARCHAR) AS dy, n_rows, lo, hi,
           hi - lo + 1 - n_rows AS n_missing,
           CASE WHEN hi - lo + 1 - n_rows > 0 THEN 'gap' ELSE 'dense' END
             AS status
    FROM d
    """,
    survey_rows="ext:sequence-gap audit (missing ids inside the daily "
    "id range — the ingestion-loss detector); dq7 (time gaps), dq9 "
    "(order inversions), A12",
    description="Id-sequence gap audit: per day, compare the observed row "
    "count against the id range the day spans (max - min + 1) — a "
    "positive difference means ids inside the range never arrived, the "
    "cheapest possible dropped-batch detector for sources that assign "
    "monotonically increasing ids (Kafka offsets, DB sequences, CDC "
    "LSNs). Complements dq7 (gaps in TIME can be organic quiet hours; "
    "gaps in the ID SEQUENCE are always losses or reorders across the "
    "day boundary) and dq9 (which checks order, not presence). One "
    "scan-level aggregation, all integers.",
)
def dq11_id_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("dy0")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("event_id").cast("long").alias("lo"),
        F.max("event_id").cast("long").alias("hi"),
    )
    missing = F.col("hi") - F.col("lo") + 1 - F.col("n_rows")
    return d.select(
        F.col("dy0").cast("string").alias("dy"),
        "n_rows",
        "lo",
        "hi",
        missing.alias("n_missing"),
        F.when(missing > 0, "gap").otherwise("dense").alias("status"),
    )


@register(
    "t48_incremental_dedup_ledger",
    """
    WITH h AS (
      SELECT doc_id, doc_id // 50 AS batch, md5(text) AS ch
      FROM documents WHERE text IS NOT NULL
    ),
    first_seen AS (
      SELECT ch, MIN(batch) AS first_batch FROM h GROUP BY 1
    )
    SELECT h.batch,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN f.first_batch = h.batch THEN 1 ELSE 0 END)
             AS BIGINT) AS n_first_batch_content,
           CAST(SUM(CASE WHEN f.first_batch < h.batch THEN 1 ELSE 0 END)
             AS BIGINT) AS n_dup_of_earlier,
           FLOOR(SUM(CASE WHEN f.first_batch < h.batch THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*) * 1000000) / 1000000.0 AS stale_frac
    FROM h JOIN first_seen f USING (ch)
    GROUP BY h.batch
    """,
    survey_rows="ext:incremental dedup accounting (per-ingest-batch "
    "new-vs-duplicate ledger — the crawl-freshness table); t1 (exact "
    "dedup), S8 (duplicate-tolerant load), cdc2 (incremental rollup)",
    description="Incremental dedup ledger: docs arrive in batches (id "
    "ranges standing in for crawl days), each batch reports how many of "
    "its documents carry content FIRST SEEN in that batch vs duplicated "
    "from an earlier one — the 'how much of this crawl is actually new' "
    "table that decides whether a source is worth re-crawling, and the "
    "accounting view of S8's duplicate-tolerant load. First-seen is one "
    "min-aggregation on the content hash joined back (no window over "
    "the full corpus, no pairs); at 100 TB the first_seen frame IS the "
    "dedup ledger a production ingest keeps as a table and anti-joins "
    "against (S9), so the query doubles as its backfill.",
)
def t48_incremental_dedup_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    h = docs.select(
        F.expr("doc_id div 50").alias("batch"), F.md5("text").alias("ch")
    )
    first_seen = h.groupBy("ch").agg(F.min("batch").alias("first_batch"))
    j = h.join(first_seen, "ch")
    dup = F.sum(F.when(F.col("first_batch") < F.col("batch"), 1).otherwise(0))
    return j.groupBy("batch").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("first_batch") == F.col("batch"), 1).otherwise(0))
        .cast("long")
        .alias("n_first_batch_content"),
        dup.cast("long").alias("n_dup_of_earlier"),
        (F.floor(dup * 1.0 / F.count(F.lit(1)) * 1000000) / 1000000.0).alias(
            "stale_frac"
        ),
    )


@register(
    "j13_interpolation_join",
    """
    WITH ev AS (
      SELECT user_id % 4 AS grp, ts, event_id,
             CAST(FLOOR(value * 1000) AS BIGINT) AS v_m,
             0 AS is_cp
      FROM events WHERE value IS NOT NULL AND event_id % 50 <> 0
    ),
    cps AS (
      SELECT user_id % 4 AS grp, ts, event_id,
             CAST(FLOOR(value * 1000) AS BIGINT) AS v_m,
             1 AS is_cp
      FROM events WHERE value IS NOT NULL AND event_id % 50 = 0
    ),
    u AS (
      SELECT *,
             MAX(CASE WHEN is_cp = 1
                      THEN ((epoch_us(ts) // 1000000) * 1000000000 + event_id) END)
               OVER (PARTITION BY grp ORDER BY ts, is_cp DESC, event_id
                     ROWS UNBOUNDED PRECEDING) AS prev_key,
             MIN(CASE WHEN is_cp = 1
                      THEN ((epoch_us(ts) // 1000000) * 1000000000 + event_id) END)
               OVER (PARTITION BY grp ORDER BY ts, is_cp DESC, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_key
      FROM (SELECT * FROM ev UNION ALL SELECT * FROM cps)
    ),
    ck AS (
      SELECT grp, ((epoch_us(ts) // 1000000) * 1000000000 + event_id) AS key,
             (epoch_us(ts) // 1000000) AS cts, v_m AS cv
      FROM cps
    ),
    brk AS (
      SELECT u.grp, u.event_id, (epoch_us(u.ts) // 1000000) AS t, u.v_m,
             p.cts AS tp, p.cv AS vp, n.cts AS tn, n.cv AS vn
      FROM u
      JOIN ck p ON u.grp = p.grp AND u.prev_key = p.key
      JOIN ck n ON u.grp = n.grp AND u.next_key = n.key
      WHERE u.is_cp = 0 AND n.cts > p.cts
    ),
    interp AS (
      SELECT grp,
             ABS(v_m * 1000 - (vp * 1000
               + ((vn - vp) * 1000 * (t - tp)) // (tn - tp))) AS err_q
      FROM brk
    )
    SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_interp,
           FLOOR(CAST(SUM(err_q) AS DOUBLE) / COUNT(*)) / 1000000.0
             AS mae_interp
    FROM interp GROUP BY grp
    """,
    survey_rows="ext:temporal interpolation join (bracket each row with "
    "its previous AND next checkpoint, blend linearly — the sensor-"
    "calibration join); j7/j10 (as-of both directions), P11 "
    "(within-series interpolation)",
    description="Temporal interpolation join: every reading is bracketed "
    "by its previous and next checkpoint row (one union + one window "
    "per group — the as-of-join carry trick run in BOTH directions in "
    "a single shuffle, no range join), then linearly interpolated "
    "between them, reporting per-group how far actual values sit from "
    "the checkpoint-implied line (the drift-vs-calibration error a "
    "sensor pipeline tracks; P11 interpolates gaps WITHIN one series, "
    "this blends ACROSS a reference series). The blend is exact "
    "integer arithmetic end to end: milli-values, epoch seconds, and "
    "an integer-division ratio (identical truncation on both engines), "
    "so the interpolated micro-units match bit-for-bit. Checkpoint "
    "identity travels through the window as an encoded "
    "(epoch, event_id) integer key — MAX of a key is carry-forward of "
    "the latest checkpoint without needing a struct-typed window "
    "buffer.",
)
def j13_interpolation_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev0 = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = ev0.select(
        (F.col("user_id") % 4).alias("grp"),
        "ts",
        "event_id",
        F.floor(F.col("value") * 1000).cast("long").alias("v_m"),
        F.when(F.col("event_id") % 50 == 0, 1).otherwise(0).alias("is_cp"),
    )
    # (epoch-seconds, event_id) packed into one int64: seconds*1e9 tops out
    # near 2e18 (int64 max 9.2e18) and reserves event_id < 1e9 — roughly
    # sf1000 of this fixture's sequential ids (the previous 1e7 multiplier
    # bled event_id into the timestamp slot from sf10 up). The DuckDB
    # oracle packs with the same constant.
    key = F.col("ts").cast("long") * 1000000000 + F.col("event_id")
    w = Window.partitionBy("grp").orderBy(
        "ts", F.col("is_cp").desc(), "event_id"
    )
    # next_key is the min checkpoint key STRICTLY AFTER the current row.
    # Expressed over the REVERSED ordering as a growing frame ending one
    # row before current — the same frame set, but Spark evaluates growing
    # frames incrementally (O(n) per partition) whereas frames ending at
    # UNBOUNDED FOLLOWING recompute per row (O(n²)); with grp as the only
    # partition key that quadratic blows up at scale (caught by the 10×
    # scaling probe: one task burned 55 CPU-minutes in
    # UnboundedFollowingWindowFunctionFrame).
    w_rev = Window.partitionBy("grp").orderBy(
        F.col("ts").desc(), F.col("is_cp").asc(), F.col("event_id").desc()
    )
    u = base.withColumn(
        "prev_key",
        F.max(F.when(F.col("is_cp") == 1, key)).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).withColumn(
        "next_key",
        F.min(F.when(F.col("is_cp") == 1, key)).over(
            w_rev.rowsBetween(Window.unboundedPreceding, -1)
        ),
    )
    ck = base.filter(F.col("is_cp") == 1).select(
        "grp",
        key.alias("key"),
        F.col("ts").cast("long").alias("cts"),
        F.col("v_m").alias("cv"),
    )
    brk = (
        u.filter(F.col("is_cp") == 0)
        .join(
            ck.toDF("grp", "prev_key", "tp", "vp"),
            ["grp", "prev_key"],
        )
        .join(
            ck.toDF("grp", "next_key", "tn", "vn"),
            ["grp", "next_key"],
        )
        .filter(F.col("tn") > F.col("tp"))
        .select(
            "grp",
            F.col("ts").cast("long").alias("t"),
            "v_m",
            "tp",
            "vp",
            "tn",
            "vn",
        )
    )
    interp_q = F.col("vp") * 1000 + F.expr(
        "((vn - vp) * 1000 * (t - tp)) div (tn - tp)"
    )
    err = brk.select("grp", F.abs(F.col("v_m") * 1000 - interp_q).alias("err_q"))
    return err.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_interp"),
        (
            F.floor(F.sum("err_q").cast("double") / F.count(F.lit(1))) / 1000000.0
        ).alias("mae_interp"),
    )


# ===========================================================================
# G-test of independence, Simpson diversity index.
# ===========================================================================


@register(
    "m32_g_test",
    """
    WITH base AS (
      SELECT event_type, user_id % 5 AS cohort FROM events
    ),
    o AS (
      SELECT event_type, cohort, CAST(COUNT(*) AS BIGINT) AS obs
      FROM base GROUP BY 1, 2
    ),
    margins AS (
      SELECT o.event_type, o.cohort, o.obs,
             r.rt, c.ct, (SELECT COUNT(*) FROM base) AS n
      FROM o
      JOIN (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS rt
            FROM base GROUP BY 1) r USING (event_type)
      JOIN (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS ct
            FROM base GROUP BY 1) c USING (cohort)
    ),
    terms AS (
      SELECT CAST(FLOOR(2000000.0 * obs
                        * LN(CAST(obs AS DOUBLE) * n / (rt * ct)))
               AS BIGINT) AS gq,
             CASE WHEN obs * n > rt * ct THEN 1 ELSE 0 END AS attract
      FROM margins WHERE obs > 0
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM o) AS n_cells,
           CAST(SUM(attract) AS BIGINT) AS n_overrepresented,
           CAST(SUM(gq) AS BIGINT) / 1000000.0 AS g_stat
    FROM terms
    """,
    survey_rows="ext:log-likelihood-ratio independence test (G-test — "
    "m6's chi-square twin, better behaved for sparse cells and the "
    "additive-decomposition form used in collocation mining); M6, t47 "
    "(PMI terms)",
    description="G-test of independence between event type and user "
    "cohort: G = 2 * sum obs*ln(obs*N/(rowtotal*coltotal)) over the "
    "contingency cells — the likelihood-ratio twin of m6's chi-square, "
    "preferred when cells are sparse (no (O-E)^2/E blow-up for tiny "
    "expectations) and the additive form whose per-cell terms ARE "
    "t47's PMI weighted by observation count (the bridge from testing "
    "to collocation mining). Each term is floor-quantized to an "
    "integer micro-unit BEFORE summing (t18's discipline — no float "
    "accumulation order); counts and margins are exact integers off "
    "two hash aggregations and a broadcast margin join.",
)
def m32_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    base = ev.select("event_type", (F.col("user_id") % 5).alias("cohort"))
    base = osk.materialize(base)
    n = base.count()
    o = base.groupBy("event_type", "cohort").agg(
        F.count(F.lit(1)).cast("long").alias("obs")
    )
    r = base.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("rt"))
    c = base.groupBy("cohort").agg(F.count(F.lit(1)).cast("long").alias("ct"))
    m = o.join(F.broadcast(r), "event_type").join(F.broadcast(c), "cohort")
    gq = F.floor(
        2000000.0
        * F.col("obs")
        * F.log(F.col("obs").cast("double") * F.lit(n) / (F.col("rt") * F.col("ct")))
    ).cast("long")
    attract = F.when(
        F.col("obs") * F.lit(n) > F.col("rt") * F.col("ct"), 1
    ).otherwise(0)
    terms = m.filter(F.col("obs") > 0).select(gq.alias("gq"), attract.alias("at"))
    n_cells = o.count()
    return terms.agg(
        F.lit(n_cells).cast("long").alias("n_cells"),
        F.sum("at").cast("long").alias("n_overrepresented"),
        (F.sum("gq").cast("long") / 1000000.0).alias("g_stat"),
    )


@register(
    "a26_simpson_diversity",
    """
    WITH c AS (
      SELECT user_id % 5 AS cohort, event_type,
             CAST(COUNT(*) AS BIGINT) AS n_i
      FROM events GROUP BY 1, 2
    ),
    per AS (
      SELECT cohort,
             CAST(SUM(n_i) AS BIGINT) AS n,
             CAST(SUM(n_i * (n_i - 1)) AS BIGINT) AS s_pairs,
             CAST(COUNT(*) AS BIGINT) AS n_types
      FROM c GROUP BY 1
    )
    SELECT cohort, n, n_types,
           FLOOR((1.0 - CAST(s_pairs AS DOUBLE) / (n * (n - 1))) * 1000000)
             / 1000000.0 AS simpson_d
    FROM per WHERE n > 1
    """,
    survey_rows="ext:diversity index (Simpson's D over the event-type mix "
    "— the concentration complement of t41's Chao1 richness and t18's "
    "entropy); A12, m29 (Gini)",
    description="Simpson diversity index per user cohort: the probability "
    "that two randomly drawn events (without replacement) differ in "
    "type, 1 - sum n_i(n_i-1)/(N(N-1)) — the diversity summary a "
    "training-mixture dashboard shows beside richness (t41 Chao1: how "
    "many kinds) and entropy (t18: how surprising): Simpson reads as a "
    "plain probability and is insensitive to rare-type noise. The "
    "statistic is a ratio of exact integer pair counts with ONE float "
    "division (explicit DOUBLE cast — no decimal promotion), making it "
    "the rare diversity index that needs no logarithm at all.",
)
def a26_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy((F.col("user_id") % 5).alias("cohort"), "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_i")
    )
    per = c.groupBy("cohort").agg(
        F.sum("n_i").cast("long").alias("n"),
        F.sum(F.col("n_i") * (F.col("n_i") - 1)).cast("long").alias("s_pairs"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    d = 1.0 - F.col("s_pairs").cast("double") / (F.col("n") * (F.col("n") - 1))
    return per.filter(F.col("n") > 1).select(
        "cohort", "n", "n_types", q6(d).alias("simpson_d")
    )


@register(
    "dq12_cardinality_drift",
    f"""
    WITH wk AS (
      SELECT (CAST(epoch_us(ts) // 1000000 AS BIGINT) - 1704067200)
               // 604800 AS week,
             user_id, event_type,
             {_SQL_ITEM}
      FROM events
    ),
    per AS (
      SELECT week, col, CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct
      FROM (
        SELECT week, 'user_id' AS col, CAST(user_id AS VARCHAR) AS v FROM wk
        UNION ALL
        SELECT week, 'event_type', event_type FROM wk
        UNION ALL
        SELECT week, 'item', CAST(item AS VARCHAR) FROM wk
          WHERE item IS NOT NULL
      ) GROUP BY 1, 2
    ),
    lagged AS (
      SELECT week, col, n_distinct,
             LAG(n_distinct) OVER (PARTITION BY col ORDER BY week)
               AS prev_distinct
      FROM per
    )
    SELECT week, col, n_distinct, prev_distinct,
           (1000000 * (n_distinct - prev_distinct)) // prev_distinct
             / 1000000.0 AS drift_frac
    FROM lagged WHERE prev_distinct > 0
    """,
    survey_rows="ext:cardinality-drift audit (week-over-week distinct "
    "counts per key column — the silent-enum-change detector); A12, "
    "dq8 (column profile), m23 (PSI)",
    description="Cardinality-drift audit: exact distinct counts of each "
    "key column (user, event type, item) per week, with the "
    "week-over-week drift fraction — the detector for silent generator "
    "or upstream-enum changes (a new client version doubling item ids, "
    "a source dropping half its users) that value-distribution drift "
    "(m23 PSI / m24 JS) misses because those compare FREQUENCIES, not "
    "key SPACES. One multi-column unpivot (stack) into a single "
    "distinct aggregation — a shape that scales by swapping "
    "COUNT(DISTINCT) for the t45 HLL sketch per (week, column) at "
    "100 TB, documented here as the route; drift is integer-division-"
    "quantized. Week boundaries are integer epoch arithmetic pinned to "
    "the 2024-01-01 corpus origin, identical on both engines.",
)
def dq12_cardinality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    item = F.try_variant_get(F.try_parse_json("props"), "$.k", "int")
    week = F.expr("(cast(ts as long) - 1704067200) div 604800")
    wk = ev.select(
        week.alias("week"),
        F.col("user_id").cast("string").alias("user_id"),
        "event_type",
        item.cast("string").alias("item"),
    )
    stacked = (
        wk.select("week", F.lit("user_id").alias("col"), F.col("user_id").alias("v"))
        .unionAll(
            wk.select("week", F.lit("event_type").alias("col"), F.col("event_type").alias("v"))
        )
        .unionAll(
            wk.filter(F.col("item").isNotNull()).select(
                "week", F.lit("item").alias("col"), F.col("item").alias("v")
            )
        )
    )
    per = stacked.groupBy("week", "col").agg(
        F.count_distinct("v").cast("long").alias("n_distinct")
    )
    w = Window.partitionBy("col").orderBy("week")
    lagged = per.select(
        "week",
        "col",
        "n_distinct",
        F.lag("n_distinct").over(w).alias("prev_distinct"),
    ).filter(F.col("prev_distinct") > 0)
    # first-week rows are dropped, not NULL-filled: a NULL numeric cell
    # materializes as 'None' (Spark object) vs 'nan' (DuckDB float64)
    # under the driver's pandas stringify — found by the reseed probe
    drift = F.expr("(1000000 * (n_distinct - prev_distinct)) div prev_distinct")
    return lagged.select(
        "week",
        "col",
        "n_distinct",
        "prev_distinct",
        (drift / 1000000.0).alias("drift_frac"),
    )


# ===========================================================================
# Exact similarity self-join via prefix filtering — the
# lossless candidate-pruning route for exact Jaccard at scale (contrast:
# t2's doc-freq cap changes the answer; t7's MinHash trades recall).
# ===========================================================================


@register(
    "t49_prefix_filter_jaccard",
    _ngram_jaccard_pairs_sql(False),
    survey_rows="ext:exact all-pairs similarity via prefix filtering "
    "(Bayardo WWW'07) — the lossless exact-join scale route beside t2 "
    "(answer-changing doc-freq cap) and t7 (recall-trading MinHash)",
    description="Exact word-3-gram Jaccard >= 0.5 pairs via PREFIX "
    "FILTERING: each doc's shingles are ranked by global rarity "
    "(doc-frequency asc, shingle asc) and only the first n - ceil(t*n) + 1 "
    "participate in the candidate self-join — any qualifying pair must "
    "collide inside these prefixes (the suffixes are too small to hold a "
    ">= ceil(t*n) intersection), so exact verification on candidates is "
    "LOSSLESS. The oracle is the UNFILTERED brute-force inverted join: the "
    "driver's hash-compare is therefore a machine-checked proof that the "
    "filter dropped nothing. Frequent shingles sort to the END of the "
    "rarity order and fall outside prefixes, so the candidate explosion "
    "t2 controls with an answer-CHANGING doc-freq cap is controlled here "
    "for free, exactly. Shuffles: df agg + one doc window + prefix "
    "self-join + the standard verify join; no driver-side collection.",
)
def t49_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import prefix_filter_jaccard_pairs

    return prefix_filter_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.5)


# ===========================================================================
# The low-cardinality-window scale routings as GRADED queries. The
# full-corpus 100x sweep (SCALING.md) showed that windows
# partitioned by a 2-5-value column cap parallelism at the key count; the
# routings (asof_join's bucket_seconds, windows.bucketed_row_number /
# bucketed_ntile) are answer-identical two-level decompositions, so they
# share their exact twins' oracles — the driver's hash-compare is then a
# machine-checked identity proof at grading scale, upgrading the contract
# tests' evidence class.
# ===========================================================================


@register(
    "j14_bucketed_asof_join",
    CORPUS["j7_asof_join"].oracle,
    survey_rows="J2 (as-of generalization) — the bucket_seconds scale "
    "routing of j7, driver-graded against the same ASOF oracle",
    description="j7's as-of join through the LOW-CARDINALITY-KEY routing: "
    "asof_join(bucket_seconds=86400) computes a local carry per (key, "
    "day-bucket) in parallel plus a buckets-sized carry-in frame, instead "
    "of one single-threaded sorted partition per key (4 keys = 4 busy "
    "cores and a spill at 100x; 17.3x -> 2.9x at the probe). The oracle "
    "is j7's — identical answers are the routing's contract.",
)
def j14_bucketed_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _checkpoint_asof(spark, sf_dir, False, 86400.0)


@register(
    "w28_bucketed_systematic_sample",
    CORPUS["w11_stratified_systematic_sample"].oracle,
    survey_rows="W7 (stratified extension) — w11 through the two-level "
    "rank routing, driver-graded against the same oracle",
    description="w11's stratified systematic sample through "
    "windows.bucketed_row_number: local rank per (stratum, event_id "
    "range) + prefix-count offsets instead of one window per stratum "
    "(5 strata = 5 busy cores; 12.1x -> 1.6x at the probe). Same oracle "
    "as w11 — the hash-compare proves the two-level rank is identical.",
)
def w28_bucketed_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _systematic_sample(spark, sf_dir, 10_000)


@register(
    "a27_bucketed_equi_depth",
    CORPUS["a22_equi_depth_histogram"].oracle,
    survey_rows="A3/M10/W6; ext:equi-depth histogram — a22 through the "
    "bucketed_ntile routing, driver-graded against the same oracle",
    description="a22's equi-depth histogram through windows.bucketed_ntile: "
    "ntile(4) derived arithmetically from the two-level rank + stratum "
    "counts (first N%4 tiles take one extra row) instead of one NTILE "
    "window per event_type (11.5x -> 3.6x at the probe). Same oracle as "
    "a22 — identical bucket assignment is the derivation's contract.",
)
def a27_bucketed_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _equi_depth_histogram(spark, sf_dir, 10.0)


# ===========================================================================
# Routing twins — five scale routings the 100× probes verified by wall-clock,
# each run as its own corpus query with
# a DuckDB oracle that mirrors the routing's deterministic contract exactly
# (the j14/w28/a27 standard: driver hash-compare = machine-checked proof).
# j11b/m28b/e6b reproduce the cap/sample predicate in SQL; t38b/e3b rerun the
# full audit SQL on the collapsed representative set.
# ===========================================================================


@register(
    "j11b_interval_overlap_capped",
    _copresence_sql(64),
    survey_rows="J-family ext: interval overlap self-join — j11's "
    "max_bucket_occupancy routing, graded against a derived oracle of the "
    "cap's deterministic contract",
    description="j11's co-presence join through the hot-bucket routing: "
    "interval_overlap_pairs(max_bucket_occupancy=64) keeps each hour "
    "bucket's first 64 intervals under the total (start, user, session) "
    "order before pairing, bounding work and output at sum-over-buckets "
    "64^2/2 — TRUE co-present pairs are quadratic in concurrent users by "
    "definition, so past some occupancy no join shape beats the output "
    "size (the exact path aborted the 100x probe; capped ran 2.6 s). The "
    "capped answer is a deterministic SUBSET of j11's, and the oracle "
    "reproduces the same explode-cap-join pipeline in SQL, so the driver "
    "hash-compare proves the cap's contract, not just its speed.",
)
def j11b_interval_overlap_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _copresence(spark, sf_dir, 64)


@register(
    "m28b_kendall_tau_sampled",
    _kendall_tau_sql(10),
    survey_rows="ext:rank statistics — m28's hash_sample_mod routing, "
    "graded against the same tau-b SQL on the sampled entity set",
    description="m28's Kendall tau-b through the deterministic 1/10 "
    "entity sample: kendall_tau_b(hash_sample_mod=10) keeps users whose "
    "md5 hash's low 31 bits are 0 mod 10 BEFORE the i<j pair join (pair "
    "work / 100; the exact pair step is users^2 BY SEMANTICS — 30.3x at "
    "the 100x probe). Sampling entities i.i.d. preserves pair "
    "exchangeability, so the sampled tau-b estimates the same population "
    "correlation — and because the sample predicate is a pure hash "
    "identity, the oracle applies the identical WHERE clause and the "
    "driver hash-compare proves the routed path end to end.",
)
def m28b_kendall_tau_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _kendall_tau(spark, sf_dir, 10)


@register(
    "e6b_jl_audit_sampled",
    None,  # generated oracle attached below (same generator as e6, mod 4)
    survey_rows="ext:random-projection distance preservation — e6's "
    "hash_sample_mod routing, graded with the sample predicate mirrored "
    "into the generated oracle",
    description="e6's JL distortion audit through the deterministic 1/4 "
    "id sample: jl_projection_audit(hash_sample_mod=4) keeps ids whose "
    "md5 hash's low 31 bits are 0 mod 4 on BOTH pair sides (pair work "
    "/ 16; the e6 modulus sample is PROPORTIONAL so exact pair work is "
    "quadratic — 25x at the 100x sweep, 3.7x routed). The distortion "
    "distribution is a statistical measurement whose precision is set by "
    "the pair count, not the corpus, so the subsample is the measurement "
    "a 100 TB run wants; the oracle applies the identical hash predicate "
    "so the driver grade covers the routed path bit for bit.",
)
def e6b_jl_audit_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import jl_projection_audit

    return jl_projection_audit(_t(spark, sf_dir, "embeddings"), hash_sample_mod=4)


CORPUS["e6b_jl_audit_sampled"].oracle = _e6_oracle_sql(sample_mod=4)


@register(
    "t38b_sketch_audit_dedup_first",
    _t38_sketch_audit_sql(dedup_first=True),
    survey_rows="ext:sketch-quality audit — t38's exact_dedup_first "
    "routing, graded with the collapse mirrored into the generated oracle",
    description="t38's MinHash estimator audit through the duplicate-mass "
    "routing: sketch_accuracy_audit(exact_dedup_first=True) collapses "
    "verbatim md5(text) copies to their lowest-id representative in one "
    "linear shuffle, then audits the representative-level candidate "
    "distribution (on duplicate-heavy corpora every band bucket holds "
    "whole duplicate clusters, so the raw candidate set grows with the "
    "duplication factor squared — 29.4x at the 100x probe, 1.5x routed). "
    "NOT answer-identical to t38 by design: duplicate pairs all share one "
    "(est, exact) point and carry zero new information about the hash "
    "family, so the rep-level audit is the calibration a 100 TB run "
    "actually wants. The oracle reruns the full generated audit SQL on "
    "the same collapsed set, so the driver grade proves the routed "
    "semantics exactly.",
)
def t38b_sketch_audit_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import sketch_accuracy_audit

    docs = _t(spark, sf_dir, "documents")
    return sketch_accuracy_audit(
        docs, bands=8, exact_dedup_first=True
    )


@register(
    "e3b_knn_consistency_routed",
    _knn_consistency_sql(True),
    survey_rows="ext:noisy-label detection — e3's ann_bits + "
    "exact_dedup_first routing, graded against a generated oracle that "
    "reproduces the LSH bucketing and the collapse",
    description="e3's kNN label-consistency audit through BOTH its scale "
    "routings: knn_label_consistency(ann_bits=6, exact_dedup_first=True) "
    "collapses identical (vector, label) rows to their lowest-id "
    "representative (identical vectors with CONFLICTING labels still face "
    "each other — that is the noisy-label signal), buckets the survivors "
    "by 6-bit random-hyperplane LSH, and ranks each vector's top-5 within "
    "its same-bucket candidates (sum-over-buckets occupancy^2, never n^2 "
    "— the exact path could not finish the 100x probe; routed ran 1.3x). "
    "Recall < 1 by construction: cross-bucket neighbors are missed and "
    "singleton-bucket vectors drop out of n_vecs — the s2->s3 "
    "recall-for-scale contract. The oracle regenerates the same LCG "
    "hyperplanes and collapse in SQL, so the driver grade is a "
    "machine-checked proof of the routed pipeline.",
)
def e3b_knn_consistency_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _knn_consistency(spark, sf_dir, True)


@register(
    "mm10_png_decode_features",
    _mm2_decode_sql(fmt="png"),
    survey_rows="ext:multimodal-decode — compressed-format (PNG) decode, "
    "previously codec-gated; mm2's oracle verifies the pixels",
    description="REAL compressed-image decode with no codec library: the "
    "md5-pixel fixture encodes to PNG (stdlib zlib DEFLATE; scanline "
    "filter r%5, so None/Sub/Up/Average/Paeth ALL appear in every image), "
    "and operators/multimodal.py::decode_png walks the chunks, inflates, "
    "and unfilters in numpy inside the same Arrow-batched mapInPandas as "
    "mm2. The graded output is encoding-independent (dims + the "
    "per-channel mean/std feature block), so the md5-arithmetic oracle "
    "proves the DEFLATE+unfilter round trip reproduces every pixel — "
    "closing the 'compressed-format decode' gap for PNG; JPEG's "
    "DCT pipeline stays honestly codec-gated.",
)
def mm10_png_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _image_feature_sum(spark, sf_dir, "png", 5)


def _mm11_g711_sql() -> str:
    """DuckDB mirror of the G.711 decode pipeline: the fixture's companded
    stream is the md5 byte sequence itself (one byte = one sample), so the
    oracle re-derives every byte and applies the SAME closed-form ITU-T
    expansions — μ-law: t = ((u%16)·8 + 132)·2^seg on the complemented
    byte; A-law: the xor-0x55 segment/mantissa form — then recomputes
    mm3's time-domain feature block over the expanded int16 samples."""
    return f"""
    WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
    {_md5_bytes_ctes('d', 'd.doc_id', mm.AUDIO_SAMPLES)},
    samples AS (
      SELECT doc_id, idx AS si,
        CASE WHEN doc_id % 10 = 0 THEN
          -- μ-law: complement, then ((mantissa<<3)+132)<<seg, signed re-bias
          CASE WHEN (255 - v) >= 128
               THEN 132 - ((((255 - v) % 16) * 8 + 132) * (1 << (((255 - v) // 16) % 8)))
               ELSE ((((255 - v) % 16) * 8 + 132) * (1 << (((255 - v) // 16) % 8))) - 132
          END
        ELSE
          -- A-law: xor 0x55, segment 0/1 add-only, else shift
          CASE WHEN xor(v, 85) >= 128 THEN 1 ELSE -1 END *
          CASE (xor(v, 85) // 16) % 8
            WHEN 0 THEN (xor(v, 85) % 16) * 16 + 8
            WHEN 1 THEN (xor(v, 85) % 16) * 16 + 264
            ELSE ((xor(v, 85) % 16) * 16 + 264)
                 * (1 << ((xor(v, 85) // 16) % 8 - 1))
          END
        END AS s
      FROM bytes
    ),
    {_pcm_features_sql("CASE WHEN doc_id % 10 = 0 THEN 'ulaw' ELSE 'alaw' END AS fmt")}"""


@register(
    "mm11_g711_audio_decode",
    _mm11_g711_sql(),
    survey_rows="ext:multimodal-audio — compressed (G.711 μ-law/A-law) "
    "decode, previously codec-gated; mm3's feature oracle verifies the "
    "expanded samples",
    description="REAL compressed-audio decode with no codec library: the "
    "md5-byte fixture wraps as an 8-bit G.711 WAV whose format code "
    "alternates per doc (μ-law for doc_id%10==0, A-law otherwise), and "
    "decode_wav expands it through the closed-form ITU-T tables "
    "(multimodal.py::_g711_luts) inside the same Arrow-batched "
    "mapInPandas as mm3, then computes the time-domain feature block. "
    "The oracle re-derives every companded byte AND applies the same "
    "bit-arithmetic expansion in SQL — a machine-checked proof that the "
    "μ-law complement/bias/shift and A-law xor/segment forms are "
    "implemented exactly, closing the 'non-PCM audio' gap for "
    "telephony formats; float/ADPCM stay honestly gated.",
)
def mm11_g711_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_g711_payloads, decode_audio_features

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    feats = decode_audio_features(attach_g711_payloads(docs))
    fmt = F.when(F.col("doc_id") % 10 == 0, "ulaw").otherwise("alaw").alias("fmt")
    return _audio_features(feats, fmt)


def _mm12_adpcm_sql() -> str:
    """DuckDB mirror of the IMA ADPCM decode: a RECURSIVE CTE replays the
    per-nibble prediction state machine — diff = (step>>3) + bit-weighted
    step fractions, sign from bit 3, predictor clamped to int16, step
    index walked through the 89-entry IMA table (embedded as VALUES) —
    over the same md5 nibble stream the fixture wraps. t23's
    recursive-CTE precedent, applied to a codec."""
    from ..operators.multimodal import _IMA_STEPS

    n_nibbles = mm.IMA_ADPCM_BYTES * 2
    steps_rows = ", ".join(f"({i}, {int(s)})" for i, s in enumerate(_IMA_STEPS))
    return f"""
    WITH RECURSIVE d AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
    {_md5_bytes_ctes('d', 'd.doc_id', mm.IMA_ADPCM_BYTES)},
    nib AS (
      SELECT doc_id, idx * 2 AS k, v % 16 AS n FROM bytes
      UNION ALL
      SELECT doc_id, idx * 2 + 1 AS k, v // 16 AS n FROM bytes
    ),
    steps(i, st) AS (VALUES {steps_rows}),
    adpcm AS (
      SELECT doc_id, -1 AS k, 0 AS pred, doc_id % 89 AS idx FROM d
      UNION ALL
      SELECT a.doc_id, a.k + 1,
             CAST(GREATEST(-32768, LEAST(32767,
               a.pred + (CASE WHEN nb.n >= 8 THEN -1 ELSE 1 END)
                 * (s.st // 8 + (nb.n % 2) * (s.st // 4)
                    + ((nb.n // 2) % 2) * (s.st // 2)
                    + ((nb.n // 4) % 2) * s.st))) AS INT),
             CAST(GREATEST(0, LEAST(88,
               a.idx + CASE nb.n % 8 WHEN 4 THEN 2 WHEN 5 THEN 4
                                     WHEN 6 THEN 6 WHEN 7 THEN 8
                                     ELSE -1 END)) AS INT)
      FROM adpcm a
      JOIN nib nb ON nb.doc_id = a.doc_id AND nb.k = a.k + 1
      JOIN steps s ON s.i = a.idx
      WHERE a.k < {n_nibbles - 1}
    ),
    samples AS (SELECT doc_id, k + 1 AS si, pred AS s FROM adpcm),
    {_pcm_features_sql()}"""


@register(
    "mm12_adpcm_audio_decode",
    _mm12_adpcm_sql(),
    survey_rows="ext:multimodal-audio — IMA ADPCM (WAV format 0x11) "
    "decode; the oracle replays the prediction state machine as a "
    "recursive CTE",
    description="REAL adaptive-predictive audio decode with no codec "
    "library: the fixture wraps md5 nibbles as a one-block IMA ADPCM WAV "
    "(predictor 0, starting step index doc_id%89 so the whole step table "
    "is exercised corpus-wide), decode_wav walks the block structure and "
    "runs the per-nibble prediction recursion "
    "(multimodal.py::_ima_adpcm_decode_block), and the time-domain "
    "feature block reduces the expanded samples. The oracle is a "
    "RECURSIVE CTE over the identical state machine — 249 iterations of "
    "clamped integer prediction joined to the embedded 89-entry step "
    "table — so the driver hash-compare proves a STATEFUL codec decode "
    "end-to-end, completing the WAV family (PCM16 + G.711 + IMA ADPCM; "
    "float/MS-ADPCM stay honestly gated).",
)
def mm12_adpcm_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_adpcm_payloads, decode_audio_features

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    feats = decode_audio_features(attach_adpcm_payloads(docs))
    return _audio_features(feats)


@register(
    "mm13_jpeg_lossless_decode",
    _mm2_decode_sql(width=12, height=8, fmt="jpegl", mod=10),
    survey_rows="ext:multimodal-decode — lossless (SOF3 Huffman DPCM) "
    "JPEG decode, previously codec-gated; mm2's md5-pixel oracle "
    "verifies the samples bit-exactly",
    description="REAL lossless-JPEG decode with no codec library: the "
    "md5-pixel fixture encodes as SOF3 Huffman DPCM "
    "(multimodal.py::encode_jpeg_lossless) with the T.81 predictor "
    "varying per doc (1 + doc_id%7, so ALL seven predictors appear in "
    "the graded corpus), and decode_jpeg's _decode_lossless_scan "
    "reverses it inside the same Arrow-batched mapInPandas as mm2/mm10. "
    "Lossless decode has zero rounding latitude, so the md5-arithmetic "
    "oracle proves the DPCM round trip reproduces every sample exactly "
    "— clearing the 'lossless JPEG' codec gate; arithmetic coding and "
    "webp remain honestly gated. Sized 12x8 @ doc_id%10 because the "
    "per-sample Huffman walk is Python-side (the decoder docstring "
    "points large corpora at the JVM image source).",
)
def mm13_jpeg_lossless_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_ppm_payloads, decode_image_features

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    media = attach_ppm_payloads(docs, width=12, height=8, fmt="jpegl")
    feats = decode_image_features(media)
    return feats.select(
        "doc_id",
        F.lit(12).cast("int").alias("width"),
        F.lit(8).cast("int").alias("height"),
        F.round(
            F.aggregate("feature", F.lit(0.0), lambda a, x: a + x), 6
        ).alias("feat_sum"),
    )


@register(
    "mm14_webp_lossless_decode",
    _mm2_decode_sql(fmt="webpl", mod=20),
    survey_rows="ext:multimodal-decode — WebP-lossless (VP8L) decode, "
    "previously codec-gated; mm2's md5-pixel oracle verifies the pixels "
    "bit-exactly",
    description="REAL WebP-lossless decode with no codec library: the "
    "md5-pixel fixture encodes as a RIFF/VP8L stream "
    "(operators/vp8l.py::encode_webp_lossless) whose feature combination "
    "rotates per doc through plain literals, LZ77 runs, subtract-green, "
    "the 14-mode spatial predictor transform, the signed cross-channel "
    "color transform, the color cache, and meta prefix groups — so every "
    "decoder path (operators/vp8l.py::decode_webp: canonical prefix "
    "codes with DEFLATE-style code-length coding, the 120-entry 2D "
    "distance map, all four inverse transforms) appears in the graded "
    "corpus. VP8L is lossless with zero rounding latitude, so the "
    "md5-arithmetic oracle proves the full bitstream round trip — "
    "clearing the 'webp' codec gate for the lossless half; lossy VP8 "
    "stays honestly gated. ImageIO has no WebP plugin (tests/"
    "test_vp8l.py::test_jvm_or_gate), so this is the ONLY decode route "
    "in this environment, not a twin of the JVM source. Sized 16x12 @ "
    "doc_id%20 because the entropy decode is per-symbol Python (same "
    "sizing posture as mm13).",
)
def mm14_webp_lossless_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _image_feature_sum(spark, sf_dir, "webpl", 20)


def _mm15_avi_sql() -> str:
    """DuckDB mirror of the AVI/MJPEG pipeline: frame pixels are md5 bytes
    keyed ``doc_id*16 + frame``, so the oracle re-derives every byte and
    recomputes the per-frame channel sums — proving the RIFF container
    walk AND the per-frame lossless-JPEG decode reproduce every pixel."""
    n = mm.AVI_WIDTH * mm.AVI_HEIGHT * 3
    return f"""
    WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
    fr AS (
      SELECT d.doc_id, f.f
      FROM d, (SELECT unnest(generate_series(0, {mm.AVI_FRAMES - 1})) AS f) f
    ),
    {_md5_bytes_ctes('fr', 'doc_id * 16 + f', n, carry=', f')}
    SELECT doc_id, CAST(f AS INT) AS frame_idx,
           CAST(SUM(CASE WHEN idx % 3 = 0 THEN v ELSE 0 END) AS BIGINT) AS r_sum,
           CAST(SUM(CASE WHEN idx % 3 = 1 THEN v ELSE 0 END) AS BIGINT) AS g_sum,
           CAST(SUM(CASE WHEN idx % 3 = 2 THEN v ELSE 0 END) AS BIGINT) AS b_sum
    FROM bytes GROUP BY 1, 2
    """


@register(
    "mm15_avi_mjpeg_frames",
    _mm15_avi_sql(),
    survey_rows="ext:multimodal-video — compressed video CONTAINER "
    "(RIFF/AVI MJPEG) decode, previously gated; the md5-pixel oracle "
    "verifies every frame's pixels through the container walk",
    description="REAL compressed-video-container decode with no codec "
    "library: each doc's fixture is a RIFF/AVI whose '00dc' chunks are "
    "lossless-JPEG frames (multimodal.py::encode_avi_mjpeg over "
    "encode_jpeg_lossless, the T.81 predictor rotating per frame), and "
    "decode_avi_mjpeg walks the chunk tree to the 'movi' list and "
    "decodes every frame through decode_jpeg inside the same "
    "Arrow-batched mapInPandas fan-out as mm4 (one input row -> "
    "n_frames output rows). Lossless frames have zero rounding "
    "latitude, so the oracle's per-frame channel sums prove container "
    "framing + entropy decode end-to-end — narrowing the "
    "'compressed video containers' gate to inter-frame codecs "
    "(H.26x/VP9), which stay honestly gated.",
)
def mm15_avi_mjpeg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_avi_payloads, decode_video_channel_sums

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return decode_video_channel_sums(attach_avi_payloads(docs))


@register(
    "mm16_gif_decode",
    _mm2_decode_sql(fmt="gif", mod=25),
    survey_rows="ext:multimodal-decode — GIF (LZW) decode, previously "
    "codec-gated; mm2's md5-pixel oracle verifies the pixels bit-exactly",
    description="REAL GIF decode with no codec library: the md5-pixel "
    "fixture encodes as GIF89a (operators/gif.py::encode_gif — real LZW "
    "with dictionary growth and mid-stream clears; interlace and "
    "local-palette variants rotate across the corpus), and decode_gif "
    "reverses it (variable-width LSB-first LZW incl. the KwKwK "
    "self-reference, 4-pass de-interlace, palette lookup) inside the "
    "same Arrow-batched mapInPandas as mm2/mm10/mm13/mm14. Palette "
    "decode has zero rounding latitude, so the md5-arithmetic oracle "
    "proves the LZW round trip exactly; UNLIKE lossless-JPEG/WebP this "
    "format also has a third-party conformance oracle in-environment — "
    "tests/test_gif.py pins the numpy decode bit-equal to Spark's JVM "
    "ImageIO decode of the same payloads.",
)
def mm16_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _image_feature_sum(spark, sf_dir, "gif", 25)


def _mm17_flac_sql() -> str:
    """DuckDB mirror of the FLAC pipeline: the fixture codes the SAME md5
    int16 samples as mm3, and FLAC is lossless, so the oracle is mm3's
    sample re-derivation + feature block (minus n_bytes — the compressed
    payload length depends on the rotating subframe strategy)."""
    return f"""
    WITH {_audio_sample_ctes(mod=10)},
    {_pcm_features_sql()}"""


@register(
    "mm17_flac_audio_decode",
    _mm17_flac_sql(),
    survey_rows="ext:multimodal-audio — FLAC decode, previously "
    "codec-gated; mm3's sample-level oracle verifies the expanded PCM "
    "bit-exactly",
    description="REAL FLAC decode with no codec library: the fixture "
    "codes mm3's md5 int16 samples as FLAC (operators/flac.py::"
    "encode_flac) with the subframe strategy rotating per doc across "
    "verbatim / fixed orders 0-4 / quantized LPC, both Rice-parameter "
    "methods, multi-partition and multi-frame layouts, and escape "
    "partitions — and operators/flac.py::decode_flac reverses it "
    "(CRC-8-verified frame headers, CRC-16-verified bodies, Rice "
    "residual decode, fixed/LPC prediction recursion, STREAMINFO MD5 "
    "integrity check) inside the same Arrow-batched mapInPandas as "
    "mm3/mm11/mm12. FLAC is lossless with zero rounding latitude, so "
    "the md5-arithmetic oracle proves the full bitstream round trip — "
    "clearing the 'FLAC' audio gate; perceptual codecs (MP3/AAC/Opus) "
    "stay honestly gated.",
)
def mm17_flac_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_flac_payloads, decode_audio_features

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    feats = decode_audio_features(attach_flac_payloads(docs))
    return _audio_features(feats)


@register(
    "mm18_tiff_decode",
    _mm2_decode_sql(fmt="tiff", mod=25),
    survey_rows="ext:multimodal-decode — baseline TIFF (LZW/PackBits) "
    "decode, previously codec-gated; mm2's md5-pixel oracle verifies "
    "the pixels bit-exactly",
    description="REAL baseline-TIFF decode with no codec library: the "
    "md5-pixel fixture encodes as TIFF (operators/tiff.py::encode_tiff) "
    "with the compression (none / LZW / PackBits), horizontal-"
    "differencing predictor, byte order (II/MM), and strip layout "
    "rotating per doc, and decode_tiff reverses it (IFD walk, strip "
    "reassembly, the TIFF-LZW EARLY-CHANGE width convention — JVM-"
    "calibrated: tests/test_tiff.py pins the numpy codec bit-equal to "
    "Spark's ImageIO decode through TWO code-width bumps, which caught "
    "a real off-by-one the self-round-trip could not) inside the same "
    "Arrow-batched mapInPandas as the other image queries. Palette "
    "formats aside, TIFF is byte-lossless here, so the md5-arithmetic "
    "oracle proves the strip/LZW round trip exactly; tiled/planar/"
    "16-bit TIFF stay honestly gated.",
)
def mm18_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _image_feature_sum(spark, sf_dir, "tiff", 25)


def _mm19_msadpcm_sql() -> str:
    """DuckDB mirror of the MS-ADPCM decode: a RECURSIVE CTE replays the
    two-sample prediction recursion — pred = trunc((s1·c1 + s2·c2)/256)
    (C-style truncation toward zero, matching the WAVE-spec pseudocode
    and reference decoders) with the coefficient pair selected by
    doc_id%7, plus signed_nibble·delta clamped to int16, delta adapted
    through the 16-entry table with ONLY the spec's lower clamp at 16
    plus the decoder's unreachable 1e15 saturation (multimodal.py::
    _MS_DELTA_CAP — keeps this CTE's BIGINT state in range on md5-random
    nibbles without affecting any decodable sample) — over the same md5
    nibble stream (HIGH nibble first, unlike IMA) the fixture wraps.
    mm12's recursive-codec precedent with a 3-variable state."""
    n_nibbles = mm.MS_ADPCM_BYTES * 2
    return f"""
    WITH RECURSIVE d AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
    {_md5_bytes_ctes('d', 'd.doc_id', mm.MS_ADPCM_BYTES)},
    nib AS (
      SELECT doc_id, idx * 2 AS k, v // 16 AS n FROM bytes
      UNION ALL
      SELECT doc_id, idx * 2 + 1 AS k, v % 16 AS n FROM bytes
    ),
    coef(ci, c1, c2) AS (VALUES
      (0, 256, 0), (1, 512, -256), (2, 0, 0), (3, 192, 64),
      (4, 240, 0), (5, 460, -208), (6, 392, -232)),
    adapt(ai, av) AS (VALUES
      (0, 230), (1, 230), (2, 230), (3, 230), (4, 307), (5, 409),
      (6, 512), (7, 614), (8, 768), (9, 614), (10, 512), (11, 409),
      (12, 307), (13, 230), (14, 230), (15, 230)),
    ms AS (
      SELECT doc_id, -1 AS k,
             CAST((doc_id * 29) % 1000 AS BIGINT) AS s1,
             CAST(-((doc_id * 13) % 1000) AS BIGINT) AS s2,
             CAST(16 + doc_id % 100 AS BIGINT) AS delta
      FROM d
      UNION ALL
      SELECT m.doc_id, m.k + 1,
        GREATEST(-32768, LEAST(32767,
          CAST(TRUNC((m.s1 * c.c1 + m.s2 * c.c2) / 256.0) AS BIGINT)
          + (CASE WHEN nb.n >= 8 THEN nb.n - 16 ELSE nb.n END) * m.delta)),
        m.s1,
        LEAST(1000000000000000, GREATEST(16, (a.av * m.delta) // 256))
      FROM ms m
      JOIN nib nb ON nb.doc_id = m.doc_id AND nb.k = m.k + 1
      JOIN coef c ON c.ci = m.doc_id % 7
      JOIN adapt a ON a.ai = nb.n
      WHERE m.k < {n_nibbles - 1}
    ),
    samples AS (
      SELECT doc_id, 0 AS si, CAST(-((doc_id * 13) % 1000) AS BIGINT) AS s FROM d
      UNION ALL
      SELECT doc_id, 1, CAST((doc_id * 29) % 1000 AS BIGINT) FROM d
      UNION ALL
      SELECT doc_id, k + 2, s1 FROM ms WHERE k >= 0
    ),
    {_pcm_features_sql()}"""


@register(
    "mm19_msadpcm_audio_decode",
    _mm19_msadpcm_sql(),
    survey_rows="ext:multimodal-audio — MS-ADPCM (WAV format 0x02) "
    "decode; the oracle replays the two-sample prediction recursion as "
    "a recursive CTE",
    description="REAL MS-ADPCM decode with no codec library: the fixture "
    "wraps md5 nibbles as a one-block MS-ADPCM WAV whose header rotates "
    "the coefficient pair (doc_id%7 — all seven standard predictors "
    "graded corpus-wide), initial delta, and header samples per doc; "
    "decode_wav dispatches format 0x02 to "
    "multimodal.py::_ms_adpcm_decode_block (C-style truncating-division "
    "prediction over TWO history samples per the WAVE spec pseudocode, "
    "int16 sample clamp, adaptation-table delta walk with only the "
    "spec's lower clamp plus an unreachable 1e15 oracle-range "
    "saturation), and the feature block reduces the expanded samples. "
    "The oracle is a RECURSIVE CTE over the identical 3-variable state "
    "machine — completing the WAV family (PCM16 + G.711 + IMA + "
    "MS-ADPCM + float32; extensible headers stay honestly gated).",
)
def mm19_msadpcm_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_msadpcm_payloads, decode_audio_features

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    feats = decode_audio_features(attach_msadpcm_payloads(docs))
    return _audio_features(feats)


def _mm20_float_wav_sql() -> str:
    """DuckDB mirror of the float-PCM WAV decode: the fixture's float
    samples are the md5 int16 samples scaled by 1/32768 — exact dyadic
    rationals in float32 AND float64 — so the oracle re-derives them
    from integer md5 arithmetic and divides once. Every intermediate is
    exact: s² ≤ 2³⁰, the 256-term sum ≤ 2³⁸ < 2⁵³, and the /2³⁰ and /256
    divisions are by powers of two, so both engines hand the SAME
    float64 to the correctly-rounded SQRT. n_bytes replays the header
    rotation (44-byte classic vs 68-byte extensible fmt; 4- vs 8-byte
    samples)."""
    n_bytes = f"""CAST((CASE WHEN doc_id % 30 = 20 THEN 68 ELSE 44 END)
                + {mm.AUDIO_SAMPLES} * (CASE WHEN doc_id % 20 = 10 THEN 8 ELSE 4 END)
                AS BIGINT) AS n_bytes"""
    return f"""
    WITH {_audio_sample_ctes(mod=10)},
    {_pcm_features_sql(n_bytes, full_scale=32768)}"""


@register(
    "mm20_float_wav_decode",
    _mm20_float_wav_sql(),
    survey_rows="ext:multimodal-audio — IEEE float-PCM WAV (format 3, "
    "32/64-bit) + WAVE_FORMAT_EXTENSIBLE header unwrap, previously "
    "codec-gated; exact-dyadic fixture keeps the oracle in integer "
    "arithmetic",
    description="REAL float-PCM WAV decode: "
    "the fixture writes the md5 int16 samples scaled by 1/32768 as "
    "format-3 WAV — exact dyadic float32/float64 values, bit "
    "reinterpretation with no entropy coding — rotating 32-/64-bit "
    "width and classic vs WAVE_FORMAT_EXTENSIBLE fmt headers per doc "
    "(multimodal.py::encode_wav_float / attach_float_wav_payloads); "
    "decode_wav dispatches format 3 (and unwraps the 0xFFFE "
    "KSDATAFORMAT GUID) and decode_audio_features(float_features=True) "
    "reduces in float64 with a double peak. Completes the WAV family: "
    "PCM16 + G.711 mu/A + IMA + MS-ADPCM + float32/64 + extensible "
    "headers; non-KSDATAFORMAT GUIDs stay honestly gated.",
)
def mm20_float_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        attach_float_wav_payloads,
        decode_audio_features,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    feats = decode_audio_features(
        attach_float_wav_payloads(docs), float_features=True
    )
    return _audio_features(feats, "n_bytes")


@register(
    "mm21_png_variants_decode",
    _mm2_decode_sql(fmt="pngv", mod=25),
    survey_rows="ext:multimodal-decode — full PNG spec matrix "
    "(palette/16-bit/Adam7/RGBA), previously gated to 8-bit "
    "non-interlaced; mm2's md5-pixel oracle verifies the pixels "
    "bit-exactly",
    description="REAL full-matrix PNG decode: the md5-pixel "
    "fixture rotates the PNG spec grid per doc — 8/16-bit truecolor, "
    "PLTE palette, RGBA with a deterministic alpha ramp (alpha dropped "
    "on decode, pixels intact), each plain and Adam7-interlaced "
    "(multimodal.py::encode_png combos, indexed by did//25 per the gcd "
    "lesson) — and decode_png reverses it: bounded DEFLATE inflate, "
    "all five unfilters at the variant's byte-per-pixel distance, "
    "sub-byte/16-bit sample unpacking, PLTE lookup, 7-pass Adam7 "
    "reassembly. Every variant is also bit-exact against Spark's JVM "
    "ImageIO decode (tests/test_png_matrix.py), the same external "
    "oracle as GIF/TIFF/JPEG. Pixels are identical across variants, so "
    "the analytic md5 oracle grades the whole rotation.",
)
def mm21_png_variants_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _image_feature_sum(spark, sf_dir, "pngv", 25)


def _mm22_stereo_wav_sql() -> str:
    """DuckDB mirror of the stereo-WAV per-channel pipeline: the fixture
    interleaves the md5 int16 stream as L/R frames (sample 2k left,
    2k+1 right), so channel membership is si % 2 and the per-channel
    features re-derive with the mm3 CTE chain grouped by (doc, channel);
    zero crossings LAG within the channel's own frame order."""
    return f"""
    WITH {_audio_sample_ctes(mm.STEREO_FRAMES * 2, mod=10)},
    {_pcm_features_sql(channels=2)}"""


@register(
    "mm22_stereo_wav_channels",
    _mm22_stereo_wav_sql(),
    survey_rows="ext:multimodal-audio — multichannel WAV decode "
    "(previously mono-gated) with per-channel feature reduction",
    description="REAL stereo-WAV decode: decode_wav now "
    "accepts any channel count for the interleaved sample formats "
    "(PCM16 / float / G.711), returning (frames, channels) in FLAC's "
    "convention — ADPCM stays honestly mono-gated because its blocks "
    "interleave per-channel STATE, not samples. The fixture writes the "
    "md5 int16 stream as L/R frames and multimodal.py::"
    "decode_audio_channel_features reduces each channel independently "
    "inside the Arrow batch (one row per doc x channel, zero shuffle); "
    "the oracle re-derives channel membership as si % 2 over the mm3 "
    "CTE chain with channel-partitioned LAG for the zero crossings.",
)
def mm22_stereo_wav_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        attach_stereo_wav_payloads,
        decode_audio_channel_features,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    feats = decode_audio_channel_features(attach_stereo_wav_payloads(docs))
    return _audio_features(feats, "channel")


@register(
    "mm23_tiff_extended_decode",
    _mm2_decode_sql(fmt="tiffx", mod=25),
    survey_rows="ext:multimodal-decode — tiled / 16-bit / planar-2 TIFF "
    "(previously gated); mm2's md5-pixel oracle verifies the pixels "
    "bit-exactly",
    description="REAL extended-TIFF decode: the md5-pixel "
    "fixture rotates the TIFF 6.0 extension matrix per doc — tiled "
    "layouts (square and odd edge-padded tiles), 16-bit samples in "
    "either byte order (x257 scale, high-byte inverse), planar "
    "configuration 2 (plane-major unit ordering), crossed with "
    "LZW/PackBits/none and the predictor (operators/tiff.py::"
    "encode_tiff combos indexed did//25) — and decode_tiff reverses "
    "each: per-unit decompression, unit-local horizontal differencing "
    "at both depths, edge-tile clipping, plane reassembly. Conformance: "
    "tiled/planar/16-bit are bit-exact vs the JVM ImageIO decode; the "
    "predictor-2@16-bit stream (combo 3) is one ImageIO itself REJECTS "
    "(tests/test_tiff.py records the rejection), so the graded corpus "
    "covers a stream whose only in-env decode is this one.",
)
def mm23_tiff_extended_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _image_feature_sum(spark, sf_dir, "tiffx", 25)


def _mm24_avi_av_sql() -> str:
    """DuckDB mirror of the A/V container demux: the audio track carries
    the SAME md5 int16 samples as mm3 (PCM16 survives the AVI muxing
    bit-exactly), so the oracle is the mm3 feature block plus the
    constant frame count the fixture muxes."""
    return f"""
    WITH {_audio_sample_ctes(mod=10)},
    {_pcm_features_sql(f'CAST({mm.AVI_AV_FRAMES} AS BIGINT) AS n_frames')}"""


@register(
    "mm24_avi_audio_demux",
    _mm24_avi_av_sql(),
    survey_rows="ext:multimodal-video — A/V container demux: the AVI "
    "audio track ('auds' strl + interleaved '01wb' chunks) decodes "
    "through the WAV dispatch",
    description="REAL A/V container demux: the fixture muxes "
    "lossless-JPEG video frames AND a PCM16 audio track into one AVI "
    "(multimodal.py::encode_avi_mjpeg audio extension — per-frame "
    "interleaved '01wb' chunks, the standard muxing shape); "
    "decode_avi_audio walks hdrl to the 'auds' strl, maps its position "
    "to the NNwb stream number, concatenates the stream's chunks, and "
    "wraps the strf (a WAVEFORMATEX, byte-compatible with a WAV fmt "
    "body) in a RIFF/WAVE shell so decode_wav dispatches it — every "
    "supported WAV coding demuxes from AVI for free. "
    "decode_av_features reduces frame count + audio features in one "
    "Arrow pass; the oracle is mm3's sample re-derivation plus the "
    "muxed frame count.",
)
def mm24_avi_audio_demux(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_avi_av_payloads, decode_av_features

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    feats = decode_av_features(attach_avi_av_payloads(docs))
    return _audio_features(feats, "n_frames")


@register(
    "mm25_bmp_variants_decode",
    _mm2_decode_sql(fmt="bmpv", mod=25),
    survey_rows="ext:multimodal-decode — BMP variant matrix (32-bit, "
    "palette, RLE8, top-down), previously 24-bit-only; mm2's md5-pixel "
    "oracle verifies the pixels bit-exactly",
    description="REAL BMP variant decode: decode_bmp grew "
    "from uncompressed-24-bit-only to the common BITMAPINFOHEADER "
    "matrix — 32-bit BGRA (alpha dropped), 1/4/8-bit palette with the "
    "BGRX color table, Microsoft RLE8 (encoded/absolute runs, "
    "end-of-line/bitmap and delta escapes), and both row orders. The "
    "fixture rotates six RGB-preserving variants per doc "
    "(multimodal.py::encode_bmp, a real RLE8-writing conformance "
    "encoder; indexed did//25), every one bit-exact against the JVM "
    "ImageIO decode (tests/test_bmp.py). Sub-byte palettes need few "
    "colors, so they grade at unit level; RLE4/16-bit stay honestly "
    "gated.",
)
def mm25_bmp_variants_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _image_feature_sum(spark, sf_dir, "bmpv", 25)


@register(
    "mm26_warc_ingest",
    """
    SELECT doc_id,
           CAST(3 AS BIGINT) AS n_records,
           CAST(1 AS BIGINT) AS n_responses,
           CAST(200 AS BIGINT) AS status,
           CAST(octet_length(encode(COALESCE(text, ''))) AS BIGINT) AS body_bytes,
           md5(COALESCE(text, '')) AS body_md5
    FROM documents WHERE doc_id % 10 = 0
    """,
    survey_rows="ext:training-data ingestion — WARC (ISO 28500 / Common "
    "Crawl) archive parse: gzip-member walk, record headers, HTTP "
    "response payload extraction",
    description="REAL WARC ingestion: the fixture wraps each "
    "document's own text as a Common Crawl-shaped archive (warcinfo + "
    "request + response records, per-record gzip members — every "
    "id%20==10 doc stays plain so both layouts grade; operators/"
    "warc.py::encode_warc, deterministic ids); parse_warc walks the "
    "gzip members with stdlib zlib via unused_data, parses version "
    "lines / headers / Content-Length blocks, and http_response_body "
    "splits the HTTP/1.1 message — the md5 of the recovered payload "
    "octets must equal DuckDB's md5 of the source text, proving the "
    "container round trip byte-exactly (including multibyte UTF-8). "
    "At 100 TB each WARC file is one split and records never cross "
    "files, so the parse is embarrassingly parallel with zero shuffle.",
)
def mm26_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_warc_payloads, parse_warc_features

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    feats = parse_warc_features(attach_warc_payloads(docs))
    return feats.select(
        "doc_id", "n_records", "n_responses", "status", "body_bytes", "body_md5"
    )


def _mm27_webdataset_sql() -> str:
    """DuckDB mirror of the WebDataset-shard ingest: the image member is
    the md5-pixel PNG (pixel sum re-derived with md5 hex arithmetic, the
    mm2 CTE chain), the caption is the document's own text (md5 of its
    UTF-8 octets), and the label/member-count are fixture constants."""
    n = mm.IMAGE_WIDTH * mm.IMAGE_HEIGHT * 3
    return f"""
    WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
    {_md5_bytes_ctes('d', 'd.doc_id', n)},
    px AS (SELECT doc_id, SUM(v) AS pixel_sum FROM bytes GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(3 AS BIGINT) AS n_members,
           CAST({mm.IMAGE_WIDTH} AS INT) AS width,
           CAST({mm.IMAGE_HEIGHT} AS INT) AS height,
           CAST(px.pixel_sum AS BIGINT) AS pixel_sum,
           CAST(octet_length(encode(COALESCE(d.text, ''))) AS BIGINT) AS caption_bytes,
           md5(COALESCE(d.text, '')) AS caption_md5,
           CAST(d.doc_id % 10 AS BIGINT) AS label
    FROM d JOIN px ON px.doc_id = d.doc_id
    """


@register(
    "mm27_webdataset_ingest",
    _mm27_webdataset_sql(),
    survey_rows="ext:training-data ingestion — WebDataset tar shards "
    "(the LAION image/caption pairing format): stdlib-tarfile member "
    "walk, sample-key grouping, per-modality decode",
    description="REAL WebDataset ingestion: the fixture "
    "writes each doc as a tar shard in the WebDataset convention — one "
    "sample key with .png (md5-pixel image through the REAL PNG "
    "encoder), .txt (the document's own text as the caption) and .cls "
    "(label) members, deterministic mtimes; parse_webdataset_features "
    "reads the members with stdlib tarfile, groups by sample key, "
    "decodes the image through decode_png, and reduces image + caption "
    "+ label features in one shuffle-free Arrow pass. The caption md5 "
    "must equal DuckDB's md5 of the source text and the pixel sum must "
    "re-derive from md5 hex arithmetic — both sides of the multimodal "
    "pairing proven byte-exact through the container.",
)
def mm27_webdataset_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        attach_webdataset_payloads,
        parse_webdataset_features,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    feats = parse_webdataset_features(attach_webdataset_payloads(docs))
    return feats.select(
        "doc_id", "n_members", "width", "height", "pixel_sum",
        "caption_bytes", "caption_md5", "label",
    )


def _mm28_patchify_sql() -> str:
    """DuckDB mirror of the patch tokenization: byte idx → channel
    (idx%3), pixel (idx//3), pixel → (x, y) → 4×4 patch cell (x//4, y//4);
    per-cell channel means divide an exact small-int sum by the
    power-of-two patch area, so both engines produce identical float64
    without rounding."""
    n = mm.IMAGE_WIDTH * mm.IMAGE_HEIGHT * 3
    return f"""
    WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
    {_md5_bytes_ctes('d', 'd.doc_id', n)},
    px AS (
      SELECT doc_id, idx % 3 AS c,
             ((idx // 3) // {mm.IMAGE_WIDTH}) // 4 AS py,
             ((idx // 3) % {mm.IMAGE_WIDTH}) // 4 AS px_,
             v
      FROM bytes
    )
    SELECT doc_id,
           CAST(py AS INT) AS patch_y,
           CAST(px_ AS INT) AS patch_x,
           SUM(CASE WHEN c = 0 THEN v ELSE 0 END) / 16.0 AS r_mean,
           SUM(CASE WHEN c = 1 THEN v ELSE 0 END) / 16.0 AS g_mean,
           SUM(CASE WHEN c = 2 THEN v ELSE 0 END) / 16.0 AS b_mean
    FROM px GROUP BY doc_id, py, px_
    """


@register(
    "mm28_vit_patchify",
    _mm28_patchify_sql(),
    survey_rows="ext:multimodal-preprocessing — ViT patch tokenization "
    "(non-overlapping grid, per-patch channel means), the standard "
    "vision-transformer input shape",
    description="REAL patch tokenization: decode each image "
    "and split it into the non-overlapping 4x4 ViT grid, one output row "
    "per patch with per-channel means (multimodal.py::"
    "patchify_features — rows-out > rows-in through the Arrow iterator, "
    "zero shuffle, the same fan-out contract as frame sampling). Patch "
    "means divide an exact small-int sum by the power-of-two patch "
    "area, so Spark's numpy means and DuckDB's SUM/16.0 are bit-exact "
    "float64 with no rounding step — the oracle re-derives every byte "
    "with md5 hex arithmetic and regroups it by patch cell.",
)
def mm28_vit_patchify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_ppm_payloads, patchify_features

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    media = attach_ppm_payloads(docs)
    return patchify_features(media).select(
        "doc_id", "patch_y", "patch_x", "r_mean", "g_mean", "b_mean"
    )


def _st13_streaming_media_sql() -> str:
    """Batch mirror of the streaming media decode: same md5 sample
    re-derivation as mm3 (the decode is stateless, so streaming
    micro-batching cannot change a single value), n_bytes = the 44-byte
    WAV header + 2 bytes/sample."""
    return f"""
    WITH {_audio_sample_ctes(mod=10)},
    {_pcm_features_sql(f'CAST({44 + 2 * mm.AUDIO_SAMPLES} AS BIGINT) AS n_bytes')}"""


@register(
    "st13_streaming_media_decode",
    _st13_streaming_media_sql(),
    survey_rows="§2.8 streaming × ext:multimodal — stateless media "
    "decode inside Structured Streaming micro-batches",
    description="Streaming multimodal ingest: the documents "
    "stream (parquet file source) flows through the SAME Arrow-batched "
    "mapInPandas attach/decode operators the batch corpus grades "
    "(attach_wav_payloads → decode_audio_features) — stateless "
    "transforms are legal in streams, so the decode pipeline serves "
    "micro-batch ingestion unchanged, append-mode with no watermark or "
    "state. Run to completion over the finite source, the output must "
    "equal the batch oracle row-for-row: micro-batch boundaries cannot "
    "change a single decoded sample. This is the shape a production "
    "crawl→decode pipeline takes when fed incrementally.",
)
def st13_streaming_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_wav_payloads, decode_audio_features
    from ..streaming.ingest import _table_stream, run_stream_to_memory

    docs = _table_stream(spark, sf_dir, "documents.parquet")
    docs = docs.filter(F.col("doc_id") % 10 == 0)
    feats = _audio_features(decode_audio_features(attach_wav_payloads(docs)), "n_bytes")
    return run_stream_to_memory(feats, output_mode="append")


def _sql_normalize_ws(text: str) -> str:
    """SQL twin of operators/html.py::normalize_text_ws's final chain over
    the expression ``text``: runs of horizontal whitespace become one
    space, spaces around and runs of newlines collapse, and the ends are
    trimmed."""
    return f"""trim(
               regexp_replace(
                 regexp_replace(
                   regexp_replace({text}, '[ \t\r\f\v]+', ' ', 'g'),
                   ' *\n *', chr(10), 'g'),
                 '\n+', chr(10), 'g'),
               ' ' || chr(10))"""


def _html_xt_cte() -> str:
    """The expected-extraction CTE shared by the crawl-text family
    (mm29 extraction identity, mm31 quality-over-extraction): assemble
    the expected text from the RAW document text — title line, text,
    link line, footer line — and apply the SAME whitespace-normalization
    regex chain operators/html.py::normalize_text_ws ends with."""
    assembled = (
        "'Doc ' || CAST(doc_id AS VARCHAR) || ' & friends' || chr(10) || "
        "COALESCE(text, '') || chr(10) || 'prev next' || chr(10) || "
        "'footer <tag> zone A'"
    )
    return f"""    WITH x AS (
      SELECT doc_id,
             {_sql_normalize_ws(assembled)} AS xt
      FROM documents WHERE doc_id % 10 = 0
    )"""


def _mm29_html_extract_sql() -> str:
    """DuckDB mirror of the HTML→text extraction: the fixture's four
    markup variants are EXTRACTION-INVARIANT (tests/test_html.py pins
    all four against expected_extraction), so the oracle assembles the
    expected text from the RAW document text — title line, text, link
    line, footer line — and applies the SAME whitespace-normalization
    regex chain the extractor ends with. Engines agree on md5 of the
    UTF-8 octets and on character length."""
    return f"""
{_html_xt_cte()}
    SELECT doc_id,
           'Doc ' || CAST(doc_id AS VARCHAR) || ' & friends' AS title,
           CAST(2 AS BIGINT) AS n_links,
           'http://example.com/doc/' || CAST(doc_id - 10 AS VARCHAR) AS first_link,
           CAST(length(xt) AS BIGINT) AS text_chars,
           md5(xt) AS text_md5
    FROM x
    """


def _html_extract(docs: DataFrame, charset: bool, transfer: bool) -> DataFrame:
    """mm29's crawl extraction over every tenth document of a batch or
    stream source. ``charset`` serves the pages in rotating charsets and
    decodes per the Content-Type header; ``transfer`` adds the rotating
    transfer and content codings and removes them first."""
    from ..operators.multimodal import (
        attach_html_warc_payloads,
        extract_html_features,
    )

    docs = docs.filter(F.col("doc_id") % 10 == 0)
    feats = extract_html_features(
        attach_html_warc_payloads(
            docs, charset_rotation=charset, transfer_rotation=transfer
        ),
        honor_charset=charset,
        decode_transfer=transfer,
    )
    return feats.select(
        "doc_id", "title", "n_links", "first_link", "text_chars", "text_md5"
    )


@register(
    "mm29_html_text_extract",
    _mm29_html_extract_sql(),
    survey_rows="ext:training-data ingestion — crawl HTML→text "
    "extraction (tag stripping, script/style/comment removal, "
    "block-level text assembly, title + link extraction), the step "
    "every Common Crawl pipeline runs after mm26's payload recovery",
    description="REAL crawl text extraction: the fixture "
    "renders each document's own text as HTML in four "
    "extraction-invariant markup variants (lowercase, "
    "uppercase+attributes+self-closing-BR, headless with fake close "
    "tags inside script strings, entity/comment noise with a numeric "
    "character reference — operators/html.py::build_fixture_html) and "
    "serves it through the Common Crawl WARC shape (encode_warc, "
    "per-record gzip except id%20==10); extract_html_features walks "
    "the archive, splits the HTTP response, and runs the from-scratch "
    "extractor (comment/script/style/head removal, block-tags→line-"
    "breaks, inline-tag strip, named+numeric entity decode, "
    "deterministic whitespace normalization). The oracle re-assembles "
    "the expected text from the raw column with the IDENTICAL "
    "normalization chain — md5 + char-length must match byte-exactly. "
    "One Arrow pass, zero shuffle: the extraction is as parallel as "
    "the scan itself at 100 TB.",
)
def mm29_html_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _html_extract(_t(spark, sf_dir, "documents"), False, False)


def _bpe_merge_ctes(byte_level: bool) -> str:
    """SQL twin of the lowest-rank-first BPE encoder over a ``vocab(w)``
    CTE (a WITH RECURSIVE fragment): the ``merges`` table
    (operators/text.py::BPE_MERGES, or BYTE_BPE_MERGES when
    ``byte_level``), the ``bpe`` recursion and ``counts(w, n_tok,
    n_byt)``. Each word starts as a ``|``-separated symbol string — its
    characters, or its UTF-8 octets as the uppercase hex pairs
    byte_bpe_apply emits — and each step replaces the current merge's
    ``|a|b|`` pattern at its LEFTMOST occurrence (``regexp_replace``
    without 'g': replace-ALL would mis-pair self-merges like ``(a,a)``
    over ``aaaaa`` because a match consumes its trailing separator),
    advancing to the next merge once none remain. Tokens = separators
    - 1; bytes = the word's UTF-8 octets."""
    from ..operators.text import BPE_MERGES, BYTE_BPE_MERGES

    table = BYTE_BPE_MERGES if byte_level else BPE_MERGES
    vals = ", ".join(
        f"({i}, '\\|{a}\\|{b}\\|', '|{a}{b}|')" for i, (a, b) in enumerate(table)
    )
    symbols = "hex(encode(w)), '(..)'" if byte_level else "w, '(.)'"
    return f"""merges (mi, f, r) AS (VALUES {vals}),
    bpe AS (
      SELECT w, '|' || regexp_replace({symbols}, '\\1|', 'g') AS s, 0 AS mi
      FROM vocab
      UNION ALL
      SELECT b.w,
             CASE WHEN regexp_replace(b.s, m.f, m.r) <> b.s
                  THEN regexp_replace(b.s, m.f, m.r) ELSE b.s END,
             CASE WHEN regexp_replace(b.s, m.f, m.r) <> b.s
                  THEN b.mi ELSE b.mi + 1 END
      FROM bpe b JOIN merges m ON m.mi = b.mi
    ),
    counts AS (
      SELECT w,
             CAST(length(s) - length(replace(s, '|', '')) - 1 AS BIGINT)
               AS n_tok,
             CAST(octet_length(encode(w)) AS BIGINT) AS n_byt
      FROM bpe WHERE mi = {len(table)}
    )"""


def _t50_bpe_ctes() -> str:
    """The recursive BPE CTE chain shared by t50 (per-doc stats) and
    t51 (mixture budget over BPE tokens): distinct [a-z]+ words →
    :func:`_bpe_merge_ctes` → per-word token counts."""
    return f"""    WITH RECURSIVE
    d AS (
      SELECT doc_id, lower(COALESCE(text, '')) AS t
      FROM documents
    ),
    occ AS (
      SELECT doc_id, unnest(regexp_extract_all(t, '[a-z]+')) AS w FROM d
    ),
    vocab AS (SELECT DISTINCT w FROM occ),
    {_bpe_merge_ctes(byte_level=False)}"""


def _t50_bpe_sql() -> str:
    """Recursive-CTE BPE oracle sharing operators/text.py::BPE_MERGES:
    each distinct word becomes a ``|``-separated symbol string; the
    recursion replaces the current merge's ``|a|b|`` pattern one
    LEFTMOST occurrence per step (``regexp_replace`` without 'g' —
    replace-ALL would mis-pair self-merges like ``(a,a)`` over
    ``aaaaa`` because a match consumes its trailing separator), then
    advances to the next merge once none remain — provably equal to
    the engine's lowest-rank-first BPE under the
    operands-exist-before-use invariant (hypothesis-pinned in
    tests/test_bpe.py). Token count per word = separators - 1."""
    return f"""
{_t50_bpe_ctes()}
    SELECT o.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(c.n_tok) AS BIGINT) AS n_tokens,
           ROUND(SUM(c.n_tok) * 1.0 / COUNT(*), 6) AS tokens_per_word
    FROM occ o JOIN counts c USING (w)
    GROUP BY o.doc_id
    """


@register(
    "t50_bpe_encode",
    _t50_bpe_sql(),
    survey_rows="ext:text-analysis — BPE merge application (tokenize "
    "with a learned merge table), completing the tokenizer story t33's "
    "merge statistics start",
    description="REAL BPE encoding: apply the static "
    "rank-ordered merge table (operators/text.py::BPE_MERGES — each "
    "merge's operands exist before use, the invariant real BPE "
    "training guarantees) to every [a-z]+ word with the standard "
    "lowest-rank-first GPT-2 encoder loop, via the distinct-word "
    "route: the vocabulary is orders smaller than the corpus (Heaps' "
    "law), so the Arrow-batched Python tokenizer runs |vocab| times — "
    "the dedup family's collapse-first routing applied to "
    "tokenization. Scale shape (a sweep caught 28.5×/decade on "
    "the naive plan): word occurrences NEVER shuffle on the "
    "Zipf-skewed word key — they collapse to (doc, word)→cnt behind a "
    "map-side combine, then join the tokenized vocab BROADCAST "
    "(shuffle route documented for vocabularies past executor "
    "memory); 3.2×/decade after the fix. The oracle replays the "
    "merges as a recursive-CTE leftmost-REPLACE over |-separated "
    "symbols, an independent derivation proven equivalent by "
    "hypothesis (tests/test_bpe.py).",
)
def t50_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import bpe_token_stats

    docs = _t(spark, sf_dir, "documents")
    return bpe_token_stats(docs).select(
        "doc_id", "n_words", "n_tokens", "tokens_per_word"
    )


@register(
    "mm30_url_canonicalize",
    """
    WITH d AS (
      SELECT doc_id, (doc_id // 10) % 5 AS r
      FROM documents WHERE doc_id % 10 = 0
    )
    SELECT doc_id,
           CASE r
             WHEN 0 THEN 'http://example.com/doc/' || CAST(doc_id AS VARCHAR) || '?a=1&b=2'
             WHEN 1 THEN 'https://www.example.org/doc/' || CAST(doc_id AS VARCHAR) || '/'
             WHEN 2 THEN 'http://cdn.example.net/doc/' || CAST(doc_id AS VARCHAR) || '?y=8&z=9&z=1'
             WHEN 3 THEN 'http://example.com:8080/doc/' || CAST(doc_id AS VARCHAR)
             ELSE 'https://example.com/doc/' || CAST(doc_id AS VARCHAR)
           END AS url,
           CASE r
             WHEN 1 THEN 'www.example.org'
             WHEN 2 THEN 'cdn.example.net'
             ELSE 'example.com'
           END AS host,
           CAST(CASE r WHEN 0 THEN 2 WHEN 2 THEN 3 ELSE 0 END AS BIGINT) AS n_params,
           (r <> 2) AS changed
    FROM d
    """,
    survey_rows="ext:training-data ingestion — URL canonicalization "
    "(RFC 3986 §6) + host-level grouping key over WARC-Target-URI "
    "headers, the CCNet-style crawl dedup key",
    description="REAL crawl-URL canonicalization: the "
    "fixture's WARC response headers carry messy URIs (uppercase "
    "scheme/host, default ports, unsorted and duplicate query keys, "
    "fragments, dot segments — warc.py::messy_fixture_url, five "
    "variants rotated by id, one already-canonical so sort stability "
    "is graded too); canonicalize_url_features walks the records and "
    "normalizes each WARC-Target-URI (lowercase scheme/host, drop "
    "default port + fragment, RFC 3986 §5.2.4 dot-segment removal, "
    "stable query-key sort) and derives the host grouping key. The "
    "oracle re-derives every canonical form as a constant of the doc "
    "id. One Arrow pass, zero shuffle — at 100 TB this runs inside "
    "the same scan as the WARC parse it follows.",
)
def mm30_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        attach_crawl_url_payloads,
        canonicalize_url_features,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    feats = canonicalize_url_features(attach_crawl_url_payloads(docs))
    return feats.select("doc_id", "url", "host", "n_params", "changed")


def _mm31_crawl_quality_sql() -> str:
    """Quality scoring over the EXTRACTED text: the xt CTE is the shared
    crawl-text expected-extraction chain (byte-identical to mm29's), and
    the quality expressions are t6's SQL mirrors applied to xt instead
    of the raw column — the chained oracle for the full CCNet shape.
    keep compares the UNROUNDED double (both engines evaluate the same
    IEEE expression tree), so the boolean can't disagree with itself."""

    def mark(word: str) -> str:
        return (
            "len(list_filter(regexp_split_to_array(lower(xt), '[^a-z]+'), "
            f"x -> x = '{word}'))"
        )

    stops = " + ".join(mark(w) for w in ["the", "and", "of", "to", "a"])
    return f"""
{_html_xt_cte()},
    f AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(trim(xt), '\\s+'), x -> x <> '')) AS n_tokens,
             length(xt) AS n_chars,
             len(regexp_extract_all(xt, '[^\\w\\s]')) AS n_punct,
             {stops} AS n_stop
      FROM x
    ),
    q AS (
      SELECT doc_id, n_tokens, n_chars,
             (LEAST(n_tokens / 100.0, 1.0)
              + (1.0 - LEAST(COALESCE(CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars END, 0.0) * 5.0, 1.0))
              + LEAST(COALESCE(CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens END, 0.0) * 4.0, 1.0)
             ) / 3.0 AS quality
      FROM f
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_chars AS BIGINT) AS n_chars,
           ROUND(quality, 6) AS quality,
           (quality >= 0.5) AS keep
    FROM q
    """


@register(
    "mm31_crawl_quality_pipeline",
    _mm31_crawl_quality_sql(),
    survey_rows="ext:training-data ingestion — the chained CCNet shape: "
    "WARC parse → HTML→text extraction → quality scoring/filter "
    "decision on the EXTRACTED text",
    description="The full crawl-filtering chain: documents "
    "render through the HTML fixture into WARC archives (mm29's "
    "container), extract_html_text_column materializes the extracted "
    "text as a COLUMN in one Arrow pass, and t6's quality machinery "
    "(length/punct/stopword terms, operators/text.py::quality_score) "
    "runs JVM-side on it, emitting per-doc features plus the keep/drop "
    "decision a production pipeline filters on. The oracle chains "
    "mm29's expected-extraction CTE (shared generator, byte-identical) "
    "into t6's SQL quality mirrors — extraction identity AND scoring "
    "identity graded together. keep compares the unrounded double on "
    "both engines, so the filter decision is deterministic. Zero "
    "shuffle: extraction + scoring ride the scan.",
)
def mm31_crawl_quality_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        attach_html_warc_payloads,
        extract_html_text_column,
    )
    from ..operators.text import quality_features, quality_score

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    xt = extract_html_text_column(attach_html_warc_payloads(docs))
    f = quality_features(F.col("xtext"))
    q = quality_score(F.col("xtext"))
    return xt.select(
        "doc_id",
        f["n_tokens"].cast("long").alias("n_tokens"),
        f["n_chars"].cast("long").alias("n_chars"),
        F.round(q, 6).alias("quality"),
        (q >= 0.5).alias("keep"),
    )


def _t51_bpe_budget_sql() -> str:
    """t40's alpha=0.5 mixture-allocation tail over t50's BPE token
    counts (shared recursive CTE chain, byte-identical): per-source BPE
    tokens → sqrt-smoothed weights floor-quantized to integer
    micro-units (exact BIGINT normalizer) → mixture shares + repeat
    factors for the fixed training budget. Docs with zero [a-z] words
    contribute nothing (inner semantics, same as t50)."""
    return f"""
{_t50_bpe_ctes()},
    per_doc AS (
      SELECT o.doc_id, CAST(SUM(c.n_tok) AS BIGINT) AS n_tokens
      FROM occ o JOIN counts c USING (w)
      GROUP BY o.doc_id
    ),
    src AS (
      SELECT d2.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(p.n_tokens) AS BIGINT) AS n_tokens
      FROM per_doc p JOIN documents d2 USING (doc_id)
      GROUP BY 1
    ),
    {_SQL_MIXTURE_BUDGET}
    """


@register(
    "t51_bpe_mixture_budget",
    _t51_bpe_budget_sql(),
    survey_rows="ext:training mixture allocation × ext:BPE — the "
    "tokenizer feeds the data-mixing table end-to-end (t50's real BPE "
    "counts replace t40's whitespace proxy)",
    description="Mixture budget over REAL tokenizer output (closing "
    "the t50→t44-family loop): per-source "
    "BPE token totals (t50's distinct-word pipeline with the source "
    "column threaded through the same grouping keys — functionally "
    "dependent on doc_id, so zero extra shuffle) drive t40's "
    "alpha=0.5 smoothed allocation: sqrt weights floor-quantized to "
    "integer micro-units so the normalizer is an exact BIGINT sum, "
    "then mixture shares and per-source repeat factors for a fixed "
    "2M-token budget. The oracle chains the shared recursive BPE CTE "
    "(byte-identical to t50's) into t40's allocation tail.",
)
def t51_bpe_mixture_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import bpe_token_stats

    docs = _t(spark, sf_dir, "documents")
    per_doc = bpe_token_stats(docs, carry_cols=("source",))
    src = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    return _mixture_budget(src)


@register(
    "mm32_charset_transfer_decode",
    CORPUS["mm29_html_text_extract"].oracle,
    survey_rows="ext:training-data ingestion — header-driven charset "
    "decode of crawl payloads (Content-Type charset parameter, BOM "
    "fallback): a large fraction of the real web is not UTF-8",
    description="Charset-honoring crawl extraction: the same "
    "pages as mm29, but SERVED in rotating transfer encodings — UTF-8, "
    "UTF-16 (LE + BOM), ISO-8859-1 where the page is Latin-1-encodable "
    "— with the charset declared in the HTTP Content-Type header "
    "exactly as crawl servers declare it; extraction first resolves "
    "the codec (header parameter → BOM sniff → UTF-8 default, "
    "warc.py::http_charset/http_response_message) and decodes before "
    "parsing. The EXTRACTED TEXT is transfer-encoding-invariant, so "
    "mm29's oracle grades this path unchanged — the routed-twin "
    "discipline (j14/t38b) applied to transfer encodings: same "
    "expected answer, different physical decode path. Zero shuffle.",
)
def mm32_charset_transfer_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _html_extract(_t(spark, sf_dir, "documents"), True, False)


@register(
    "st14_streaming_crawl_extract",
    CORPUS["mm29_html_text_extract"].oracle,
    survey_rows="§2.8 streaming × ext:training-data ingestion — crawl "
    "HTML→text extraction inside Structured Streaming micro-batches "
    "(the incremental-crawl production shape)",
    description="Streaming crawl extraction (the st13 pattern "
    "applied to the text pipeline): the documents stream flows through "
    "the SAME attach→parse→extract operators mm29 grades — stateless "
    "transforms are legal in streams, so the extraction pipeline "
    "serves incremental crawl ingestion unchanged, append-mode, no "
    "watermark or state. Run to completion over the finite source, "
    "the output must equal mm29's batch oracle row-for-row: "
    "micro-batch boundaries cannot change a single extracted byte.",
)
def st14_streaming_crawl_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.ingest import _table_stream, run_stream_to_memory

    docs = _table_stream(spark, sf_dir, "documents.parquet")
    return run_stream_to_memory(_html_extract(docs, False, False), output_mode="append")


@register(
    "mm33_robots_policy",
    """
    WITH d AS (
      SELECT doc_id, (doc_id // 10) % 4 AS v
      FROM documents WHERE doc_id % 10 = 0
    )
    SELECT doc_id,
           CASE v
             WHEN 0 THEN TRUE
             WHEN 1 THEN (CAST(doc_id AS VARCHAR) LIKE '1%')
             WHEN 2 THEN FALSE
             ELSE TRUE
           END AS allowed,
           CASE v
             WHEN 1 THEN (CASE WHEN CAST(doc_id AS VARCHAR) LIKE '1%'
                               THEN '/doc/1*' ELSE '/doc/' END)
             WHEN 2 THEN '/doc/*0$'
             ELSE ''
           END AS rule,
           CAST(CASE v WHEN 3 THEN 2 ELSE 1 END AS BIGINT) AS n_groups
    FROM d
    """,
    survey_rows="ext:training-data ingestion — robots.txt policy "
    "evaluation (RFC 9309), the crawl-politeness gate applied before a "
    "URL enters the corpus",
    description="REAL robots.txt evaluation: each archive "
    "carries the host's robots.txt as its response record (fetched "
    "from /robots.txt, as crawlers record it); operators/robots.py "
    "parses groups (consecutive User-agent lines, comments, unknown "
    "directives ignored), selects the group by longest agent-token "
    "prefix ('*' = specificity 0), and decides the document's URL "
    "path by longest-matching pattern with Allow winning ties and "
    "'*'/'$' wildcard semantics — all per RFC 9309 §2.2. The four "
    "fixture variants each pin one spec feature (non-matching "
    "wildcard group; Allow-vs-Disallow longest match split on the id's "
    "leading digit; an anchored '*0$' pattern; foreign-group "
    "selection with an empty Disallow), so the oracle re-derives every "
    "decision as a constant of the doc id. Zero shuffle — the "
    "politeness gate rides the WARC scan.",
)
def mm33_robots_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        attach_robots_warc_payloads,
        robots_policy_features,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    feats = robots_policy_features(attach_robots_warc_payloads(docs))
    return feats.select("doc_id", "allowed", "rule", "n_groups")


def _t52_extracted_lang_sql() -> str:
    """t4's marker-word language-ID mirrors applied to the EXTRACTED
    text (the shared xt CTE, byte-identical to mm29's): every page's
    scaffold contributes the same deterministic tokens on both engines
    (the footer's lone 'A' counts one English 'a' marker per doc), so
    the confusion counts grade the chained extract→classify path."""
    return f"""
{_html_xt_cte()},
    scores AS (
      SELECT d.lang,
             {_lang_scores_sql('x.xt')}
      FROM x JOIN documents d USING (doc_id)
    )
    {_SQL_LANG_CONFUSION}
    """


@register(
    "t52_extracted_lang_id",
    _t52_extracted_lang_sql(),
    survey_rows="ext:lang-id × ext:training-data ingestion — language "
    "identification over EXTRACTED crawl text (the CCNet routing step "
    "that decides which language pipeline a page enters)",
    description="Chained extract→classify: the WARC→HTML→"
    "text pipeline's output column feeds t4's marker-word language ID "
    "(text.py::lang_id, JVM column expressions — CJK short-circuit, "
    "marker-count arg-max with ascending-code tie-break), producing "
    "the confusion table against the labeled language. The oracle "
    "chains mm29's expected-extraction CTE (shared generator, "
    "byte-identical) into t4's scoring mirrors; the fixture scaffold "
    "adds the same deterministic tokens on both engines. One Arrow "
    "extraction pass + one confusion aggregation; the doc-keyed label "
    "join is the only other exchange.",
)
def t52_extracted_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        attach_html_warc_payloads,
        extract_html_text_column,
    )
    from ..operators.text import lang_id

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    xt = extract_html_text_column(attach_html_warc_payloads(docs))
    labeled = xt.join(docs.select("doc_id", "lang"), "doc_id")
    return (
        labeled.withColumn("lang_guess", lang_id(F.col("xtext")))
        .groupBy(F.col("lang_guess"), F.col("lang").alias("lang_actual"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "mm34_transfer_decoding",
    CORPUS["mm29_html_text_extract"].oracle,
    survey_rows="ext:training-data ingestion — HTTP transfer decoding "
    "of crawl payloads (Transfer-Encoding: chunked dechunking, "
    "Content-Encoding: gzip/deflate inflation): Common Crawl stores "
    "responses as-served, where both are everyday",
    description="Full as-served crawl decode chain: the "
    "same pages as mm29, but the HTTP body is SERVED through five "
    "rotating wire shapes — identity, chunked (uneven chunk sizes, a "
    "chunk extension, a trailer field), gzip, zlib-wrapped deflate, "
    "and gzip-then-chunked — ON TOP of mm32's three charset encodings "
    "and mm29's four markup variants (all 60 combinations appear; "
    "rotations indexed did//10, coprime mods). Extraction removes "
    "transfer codings first (warc.py::http_decode_body — RFC 7230 "
    "§3.3.1 removal order, bomb-capped inflation, typed truncation "
    "errors), then resolves the charset, then parses. The EXTRACTED "
    "TEXT is wire-shape-invariant, so mm29's oracle grades the whole "
    "matrix unchanged — the routed-twin discipline (mm32/j14/t38b) a "
    "third time. Zero shuffle; the decode rides the WARC scan.",
)
def mm34_transfer_decoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _html_extract(_t(spark, sf_dir, "documents"), True, True)


@register(
    "mm39_cdx_index",
    """
    WITH d AS (
      SELECT doc_id, (doc_id // 10) % 5 AS r
      FROM documents WHERE doc_id % 10 = 0
    )
    SELECT doc_id,
           CASE r
             WHEN 0 THEN 'com,example)/doc/' || CAST(doc_id AS VARCHAR)
                         || '?a=1&b=2'
             WHEN 1 THEN 'org,example,www)/doc/' || CAST(doc_id AS VARCHAR)
                         || '/'
             WHEN 2 THEN 'net,example,cdn)/doc/' || CAST(doc_id AS VARCHAR)
                         || '?y=8&z=9&z=1'
             WHEN 3 THEN 'com,example:8080)/doc/' || CAST(doc_id AS VARCHAR)
             ELSE 'com,example)/doc/' || CAST(doc_id AS VARCHAR)
           END AS surt,
           md5('crawl body ' || CAST(doc_id AS VARCHAR)) AS digest,
           'text/plain' AS mime,
           TRUE AS range_fetch_ok
    FROM d
    """,
    survey_rows="ext:training-data ingestion — CDX archive indexing "
    "(SURT keys + range-addressable record offsets), the Common Crawl "
    "artifact that makes a 100 TB archive store fetchable per-record "
    "without scanning",
    description="CDX index emission (completing the Common "
    "Crawl artifact triple: WARC read+write, WET write, CDX index): "
    "per response record, the SURT key (host labels reversed "
    "comma-joined over the CANONICALIZED URL — one host's pages sort "
    "contiguously; the five messy mm30 URI variants exercise the "
    "canonicalization inside the key), the payload md5 digest, the "
    "HTTP media type, and the record's (offset, length) span into the "
    "archive bytes (gzip-member boundaries in the Common Crawl "
    "layout). Offsets depend on gzip framing and are not "
    "SQL-derivable, so the span is AUDITED inside the graded row: the "
    "operator re-fetches exactly payload[offset:offset+length], "
    "re-parses the slice standalone, and range_fetch_ok carries the "
    "digest comparison — the oracle expects TRUE, so any offset bug "
    "hash-fails the gate. Zero shuffle.",
)
def mm39_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        attach_crawl_url_payloads,
        cdx_index_features,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    feats = cdx_index_features(attach_crawl_url_payloads(docs))
    return feats.select("doc_id", "surt", "digest", "mime", "range_fetch_ok")


def _mm38_admission_sql() -> str:
    """Joint oracle for the admission chain: mm33's robots decision
    constants (variant ``(doc_id//10)%4``) × mm36's status constants
    (variant ``%5``) gate mm29's expected-extraction md5 — all three
    re-derived from doc_id and the raw text, no HTML/robots parser on
    the SQL side."""
    allowed = (
        "CASE (doc_id // 10) % 4 WHEN 0 THEN TRUE "
        "WHEN 1 THEN (CAST(doc_id AS VARCHAR) LIKE '1%') "
        "WHEN 2 THEN FALSE ELSE TRUE END"
    )
    status = (
        "CASE (doc_id // 10) % 5 WHEN 0 THEN 200 WHEN 1 THEN 301 "
        "WHEN 2 THEN 302 WHEN 3 THEN 404 ELSE 503 END"
    )
    return f"""
{_html_xt_cte()}
    SELECT doc_id,
           {allowed} AS allowed,
           CAST({status} AS BIGINT) AS status,
           ({allowed} AND (doc_id // 10) % 5 = 0) AS admitted,
           CASE WHEN {allowed} AND (doc_id // 10) % 5 = 0
                THEN md5(xt) END AS text_md5
    FROM x
    """


@register(
    "mm38_crawl_admission",
    _mm38_admission_sql(),
    survey_rows="ext:training-data ingestion — the END-TO-END per-page "
    "admission decision (robots.txt policy × HTTP status → extraction) "
    "from a single crawl segment archive, the composition every "
    "segment processor runs",
    description="Chained crawl admission: each archive is a "
    "realistic SEGMENT carrying both the host's /robots.txt response "
    "(mm33's four policy variants) and the page response (mm29's four "
    "markup variants, SERVED through mm36's five status shapes). The "
    "operator evaluates RFC 9309 against the page's URL path, gates on "
    "status (only 200 is content), and runs the full extraction for "
    "ADMITTED pages — refused pages emit NULL text. The oracle derives "
    "robots and status decisions as doc-id constants and gates the "
    "shared expected-extraction md5 with them; the joint rotation "
    "covers all 20 policy×status combinations. Zero shuffle — robots, "
    "status and extraction amortize one scan, the production segment-"
    "processor shape at 100 TB.",
)
def mm38_crawl_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        attach_crawl_segment_payloads,
        crawl_admission_features,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    feats = crawl_admission_features(attach_crawl_segment_payloads(docs))
    return feats.select("doc_id", "allowed", "status", "admitted", "text_md5")


def _mm37_wet_sql() -> str:
    """The expected-extraction CTE reduced to the WET sink's identity
    columns: the text that went INTO the conversion record must come
    back byte-exactly (char length + md5)."""
    return f"""
{_html_xt_cte()}
    SELECT doc_id,
           CAST(length(xt) AS BIGINT) AS text_chars,
           md5(xt) AS text_md5
    FROM x
    """


@register(
    "mm37_wet_conversion_sink",
    _mm37_wet_sql(),
    survey_rows="ext:training-data ingestion — WET conversion-record "
    "sink (the Common Crawl extracted-text companion format, ISO 28500 "
    "conversion records): the output format a production extraction "
    "pipeline writes",
    description="WET sink round-trip: the WARC→HTML→text "
    "chain's extracted column is WRITTEN as Common Crawl WET "
    "conversion records (warc.py::encode_wet — WARC-Refers-To naming "
    "the source response id, text/plain UTF-8 blocks, per-record gzip "
    "rotating) and read back through the standard WARC walker; the "
    "recovered text must equal the expected extraction byte-exactly "
    "(the mm29 oracle's identity columns). This grades the SINK "
    "direction the crawl family's other queries don't: "
    "decode(encode(extracted)) == extracted, container overhead "
    "included. Zero shuffle.",
)
def mm37_wet_conversion_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        attach_html_warc_payloads,
        extract_html_text_column,
        wet_conversion_features,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    xt = extract_html_text_column(attach_html_warc_payloads(docs))
    return wet_conversion_features(xt).select(
        "doc_id", "text_chars", "text_md5"
    )


@register(
    "st15_streaming_transfer_decode",
    CORPUS["mm29_html_text_extract"].oracle,
    survey_rows="§2.8 streaming × ext:training-data ingestion — the "
    "FULL as-served decode chain (chunked/gzip/deflate transfer "
    "decoding + charset resolution + extraction) inside Structured "
    "Streaming micro-batches",
    description="Streaming twin of mm34 (the st14 pattern): "
    "the documents stream flows through attach(charset+transfer "
    "rotation) → extract(decode_transfer, honor_charset) — stateless "
    "transforms, append-mode, no watermark. Run to completion, the "
    "output must equal mm29's batch oracle row-for-row: micro-batch "
    "boundaries cannot change a single dechunked, inflated, decoded, "
    "extracted byte.",
)
def st15_streaming_transfer_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..streaming.ingest import _table_stream, run_stream_to_memory

    docs = _table_stream(spark, sf_dir, "documents.parquet")
    return run_stream_to_memory(_html_extract(docs, True, True), output_mode="append")


@register(
    "mm36_http_status_frontier",
    """
    WITH d AS (
      SELECT doc_id, (doc_id // 10) % 5 AS v
      FROM documents WHERE doc_id % 10 = 0
    )
    SELECT doc_id,
           CAST(CASE v WHEN 0 THEN 200 WHEN 1 THEN 301 WHEN 2 THEN 302
                       WHEN 3 THEN 404 ELSE 503 END AS BIGINT) AS status,
           CASE v
             WHEN 1 THEN 'http://example.com/doc/'
                         || CAST(doc_id AS VARCHAR) || '?a=1&b=2'
             WHEN 2 THEN 'http://example.com/doc/'
                         || CAST(doc_id AS VARCHAR) || '/new'
             ELSE NULL
           END AS location,
           CAST(CASE v WHEN 4 THEN 120 ELSE NULL END AS BIGINT)
             AS retry_after,
           (v = 0) AS keep
    FROM d
    """,
    survey_rows="ext:training-data ingestion — HTTP status handling + "
    "redirect-frontier resolution (3xx Location canonicalization, "
    "Retry-After backoff, 200-only corpus admission), the step between "
    "fetch and extraction in every crawler",
    description="Crawl-frontier status step: responses "
    "rotate five real status shapes — 200 content; 301 with a MESSY "
    "absolute Location (uppercase scheme/host, default port, unsorted "
    "query, fragment); 302 with a root-RELATIVE Location resolved "
    "against the WARC-Target-URI (RFC 3986 §5, everyday server "
    "behavior); 404 error page; 503 with Retry-After. Redirect "
    "targets canonicalize through the SAME RFC 3986 §6 normalizer as "
    "mm30's dedup keys, so frontier URLs and crawled URLs compare "
    "equal; only 200 bodies keep. The oracle re-derives every status, "
    "canonical target and backoff as constants of the doc id. Zero "
    "shuffle — the gate rides the WARC scan.",
)
def mm36_http_status_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        attach_status_warc_payloads,
        http_status_features,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    feats = http_status_features(attach_status_warc_payloads(docs))
    return feats.select("doc_id", "status", "location", "retry_after", "keep")


def _t54_paragraph_dedup_sql() -> str:
    """Paragraph-granularity dedup over the EXTRACTED crawl text: the
    shared xt CTE (byte-identical to mm29's) splits on newlines into
    paragraphs; ownership = min doc id per md5(paragraph); an instance
    is a duplicate when a lower-id document owns its hash. The fixture
    scaffold makes the expectation sharp: 'prev next' and the footer
    line repeat across EVERY page (owned by the lowest fixture id),
    the title line is unique per page, and the article line duplicates
    exactly when the raw text does."""
    return f"""
{_html_xt_cte()},
    p AS (
      SELECT doc_id, md5(para) AS h
      FROM (
        SELECT doc_id, unnest(string_split(xt, chr(10))) AS para FROM x
      ) WHERE para <> ''
    ),
    own AS (SELECT h, MIN(doc_id) AS owner FROM p GROUP BY h)
    SELECT p.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_paras,
           CAST(SUM(CASE WHEN own.owner < p.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup,
           ROUND(SUM(CASE WHEN own.owner < p.doc_id THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS dup_ratio
    FROM p JOIN own USING (h)
    GROUP BY p.doc_id
    """


@register(
    "t54_paragraph_dedup",
    _t54_paragraph_dedup_sql(),
    survey_rows="ext:dedup × ext:training-data ingestion — "
    "paragraph-granularity dedup over extracted crawl text (the CCNet "
    "unit: boilerplate lines repeat host-wide, article text does not), "
    "closing the extract→dedup loop",
    description="Chained extract→paragraph-dedup: the "
    "WARC→HTML→text pipeline's output column splits into newline "
    "paragraphs; each instance is a duplicate when a lower-id document "
    "owns the same md5 (deterministic first-owner survivorship, the t1 "
    "discipline at paragraph grain). The fixture scaffold pins the "
    "semantics — 'prev next' and the footer line repeat across every "
    "page (n_dup=2 everywhere but the lowest id), titles never "
    "duplicate, article lines duplicate exactly when the raw text "
    "does. Scale shape: paragraph keys are Zipf-hot (a host's footer "
    "is once-per-page), so instances never shuffle on the key — "
    "owners aggregate min(id) behind map-side combine and join back "
    "(this fixture is the boilerplate-dominated shape where the owner "
    "table is vocabulary-like, so the planner broadcasts it). "
    "The oracle chains "
    "mm29's expected-extraction CTE into the same split/own/join "
    "shape.",
)
def t54_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import paragraph_dedup_stats
    from ..operators.multimodal import (
        attach_html_warc_payloads,
        extract_html_text_column,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    xt = extract_html_text_column(attach_html_warc_payloads(docs))
    return paragraph_dedup_stats(xt, text_col="xtext").select(
        "doc_id", "n_paras", "n_dup", "dup_ratio"
    )


def _mm35_main_text_sql() -> str:
    """DuckDB mirror of link-density boilerplate removal: the four
    noise variants are KEPT-TEXT-INVARIANT (tests/test_html.py pins all
    four against expected_main_text), so the oracle assembles the
    expected kept text from the RAW document text — heading line, text,
    archive-sentence line — applies the IDENTICAL whitespace chain
    (the _html_xt_cte discipline), and re-derives the block counts as
    constants of the noise variant (content contributes 3 blocks, or 2
    when the text normalizes to empty)."""
    assembled = (
        "'Doc ' || CAST(doc_id AS VARCHAR) || ' article' || chr(10) || "
        "COALESCE(text, '') || chr(10) || "
        "'See the archive for earlier reporting and context.'"
    )
    return f"""
    WITH x AS (
      SELECT doc_id,
             (doc_id // 10) % 4 AS v,
             {_sql_normalize_ws(assembled)} AS kt,
             CASE WHEN length(trim(
               regexp_replace(COALESCE(text, ''), '[ \t\r\n\f\v]+', ' ', 'g'),
               ' ')) > 0 THEN 3 ELSE 2 END AS nk,
             CASE (doc_id // 10) % 4
               WHEN 0 THEN 2 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 3
             END AS nd
      FROM documents WHERE doc_id % 10 = 0
    )
    SELECT doc_id,
           CAST(length(kt) AS BIGINT) AS kept_chars,
           md5(kt) AS kept_md5,
           CAST(nk + nd AS BIGINT) AS n_blocks,
           CAST(nd AS BIGINT) AS n_dropped
    FROM x
    """


@register(
    "mm35_boilerplate_removal",
    _mm35_main_text_sql(),
    survey_rows="ext:training-data ingestion — boilerplate / "
    "main-content detection (block-level link-density scoring, the "
    "trafilatura/jusText family), the step a CCNet pipeline runs "
    "between extraction and quality scoring",
    description="Main-content detection: each page wraps "
    "the document's text in one of four rotating LINK-DENSE noise "
    "shapes — nav+footer, a four-item link sidebar (every <li> its own "
    "block), cookie banner + breadcrumbs, nav+pagination+footer — "
    "around three CONSTANT content blocks, one of which carries a "
    "short link inside long text (density below threshold: the rule "
    "measures density, not link presence). extract_main_text splits "
    "the body at block-tag boundaries and drops blocks where "
    "3*link_chars > text_chars (integer arithmetic, no float "
    "threshold). The kept text is NOISE-VARIANT-INVARIANT, so the "
    "oracle assembles it from the raw column with the shared "
    "normalization chain and re-derives the keep/drop counts as "
    "variant constants. Zero shuffle — the scoring rides the WARC "
    "scan like mm29/mm31.",
)
def mm35_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        attach_boilerplate_warc_payloads,
        extract_main_text_features,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    feats = extract_main_text_features(attach_boilerplate_warc_payloads(docs))
    return feats.select(
        "doc_id", "kept_chars", "kept_md5", "n_blocks", "n_dropped"
    )


#: Deterministic multilingual augmentation for the byte-level BPE
#: fixture: the synthetic documents are pure ASCII, so each document
#: gains a constant language-tagged suffix whose UTF-8 bytes exercise
#: the 2-byte (Latin-1 supplement) and 3-byte (CJK) sequences the
#: byte-level merge table targets. A CONSTANT per language keeps the
#: augmentation expressible identically in both engines.
def _augmented_docs(
    spark: SparkSession, sf_dir: str, suffixes: tuple[tuple[str, str], ...]
) -> DataFrame:
    """t53/t55's ``(doc_id, aug_text)``: each document's text (empty when
    NULL) with its language's suffix from ``suffixes`` appended."""
    docs = _t(spark, sf_dir, "documents")
    aug = F.coalesce(F.col("text"), F.lit(""))
    case = F.lit("")
    for lang, suffix in reversed(suffixes):
        case = F.when(F.col("lang") == lang, F.lit(suffix)).otherwise(case)
    return docs.select("doc_id", F.concat(aug, case).alias("aug_text"))


def _augmented_docs_sql(suffixes: tuple[tuple[str, str], ...]) -> str:
    """SQL twin of :func:`_augmented_docs`: ``WITH RECURSIVE d(doc_id,
    t)``."""
    aug = " ".join(
        "WHEN '{}' THEN '{}'".format(lang, suffix.replace("'", "''"))
        for lang, suffix in suffixes
    )
    return f"""WITH RECURSIVE
    d AS (
      SELECT doc_id,
             COALESCE(text, '') || CASE lang {aug} ELSE '' END AS t
      FROM documents
    )"""


_T53_AUG = (
    ("de", " über schön für"),
    ("fr", " été déjà"),
    ("es", " señor año"),
    ("zh", " 的是的 是的"),
)


def _t53_byte_bpe_sql() -> str:
    """Recursive-CTE byte-level BPE oracle: each distinct pretoken's
    UTF-8 octets (``hex(encode(w))`` — uppercase two-hex-digit symbols,
    the exact alphabet operators/text.py::byte_bpe_apply emits) become
    a ``|``-separated symbol string; the recursion is t50's
    leftmost-single-replace loop verbatim over the byte merge table
    (operators/text.py::BYTE_BPE_MERGES), proven equivalent to the
    lowest-rank-first encoder by the hypothesis matrix over byte
    alphabets (tests/test_bpe.py). Pretokens mirror
    BYTE_PRETOKEN_RE (CJK per-codepoint, else whitespace-split, case
    preserved); token count = separators - 1; byte count =
    ``octet_length(encode(w))``."""
    return f"""
    {_augmented_docs_sql(_T53_AUG)},
    occ AS (
      SELECT doc_id,
             unnest(regexp_extract_all(t, '[一-鿿]|[^\\s一-鿿]+')) AS w
      FROM d
    ),
    vocab AS (SELECT DISTINCT w FROM occ),
    {_bpe_merge_ctes(byte_level=True)}
    SELECT o.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_pretok,
           CAST(SUM(c.n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(c.n_byt) AS BIGINT) AS n_bytes,
           ROUND(SUM(c.n_byt) * 1.0 / SUM(c.n_tok), 6) AS bytes_per_token
    FROM occ o JOIN counts c USING (w)
    GROUP BY o.doc_id
    """


@register(
    "t53_byte_bpe_encode",
    _t53_byte_bpe_sql(),
    survey_rows="ext:text-analysis — byte-level BPE encoding (GPT-2 "
    "posture: the 256-octet base alphabet tokenizes EVERY Unicode "
    "string), generalizing t50 past [a-z]+ so non-Latin text actually "
    "tokenizes",
    description="Byte-level BPE: pretokens are CJK "
    "codepoints or whitespace-delimited runs (case preserved — "
    "BYTE_PRETOKEN_RE, identical Java/RE2 regex), their UTF-8 octets "
    "run the lowest-rank-first merge loop over a byte merge table "
    "spanning ASCII digraphs, 2-byte Latin-1-supplement letters, "
    "3-byte CJK sequences, and one merge that CROSSES a character "
    "boundary ('ü'+'b') — the byte-level property character BPE "
    "cannot express. The fixture augments each document with a "
    "constant language-tagged multilingual suffix (the synthetic "
    "corpus is pure ASCII) expressed identically in both engines. "
    "Routing is t50's skew-safe shape verbatim: "
    "occurrences NEVER shuffle — the distinct vocabulary "
    "byte-tokenizes ONCE in an Arrow pass and joins back map-side "
    "against the broadcast table, the only exchanges being the "
    "map-combined vocab distinct and per-doc aggregate. The "
    "oracle replays the merges as a recursive-CTE "
    "leftmost-replace over hex-pair symbols (hypothesis-proven "
    "equivalent over byte alphabets, tests/test_bpe.py).",
)
def t53_byte_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import byte_bpe_token_stats

    docs = _augmented_docs(spark, sf_dir, _T53_AUG)
    return byte_bpe_token_stats(docs, text_col="aug_text").select(
        "doc_id", "n_pretok", "n_tokens", "n_bytes", "bytes_per_token"
    )


# ---------------------------------------------------------------------------

#: t55 fixture augmentation (same discipline as _T53_AUG: one CONSTANT
#: suffix per language, expressible identically in both engines) —
#: content chosen to exercise every GPT-2 pattern alternative:
#: lowercase contractions, an UPPERCASE non-contraction ('S), a
#: punctuation run swallowing an apostrophe (!!'t), digit/letter/digit
#: splits (42km2), double spaces (the \s+(?!\S) lookahead), trailing
#: spaces (the EOS whitespace branch), 2-byte letters (ü é ñ ß), the
#: So/Po symbol classes (° ¿), and CJK runs (LETTERS under \p{L} — one
#: pretoken, unlike t53's per-codepoint approximation).
_T55_AUG = (
    ("en", " it's we'll they're  can't 42km2 !!'t 'S  "),
    ("de", " übers Straße 3.14 N°5"),
    ("fr", " l'été déjà-vu  100% "),
    ("es", " señor año's ¿qué?"),
    ("zh", " 的是的 是的"),
)

#: The oracle's per-position token step — the GPT-2 grammar as ordered
#: CASE branches (RE2 has no lookahead, so the oracle cannot run the
#: regex; this recursive scanner IS the pattern, proven equivalent to
#: the Python reference scanner and the JVM regex by
#: tests/test_gpt2_pretoken.py): 3-char then 2-char contraction
#: literals (disjoint second chars, so order within the two groups is
#: immaterial), the three ' ?CLASS+' runs, the run-minus-last-char
#: whitespace rule before a non-space, and the whole-run EOS branch.
#: The terminal ELSE can only fire on a char outside every class
#: (impossible — the classes partition the alphabet) and guarantees
#: the recursion advances.
_T55_TOK_CASE = """
      CASE
        WHEN substr(t, pos, 3) IN ('''re', '''ve', '''ll') THEN substr(t, pos, 3)
        WHEN substr(t, pos, 2) IN ('''s', '''t', '''m', '''d') THEN substr(t, pos, 2)
        WHEN regexp_extract(substr(t, pos), '^ ?\\p{L}+') <> ''
          THEN regexp_extract(substr(t, pos), '^ ?\\p{L}+')
        WHEN regexp_extract(substr(t, pos), '^ ?\\p{N}+') <> ''
          THEN regexp_extract(substr(t, pos), '^ ?\\p{N}+')
        WHEN regexp_extract(substr(t, pos), '^ ?[^\\s\\p{L}\\p{N}]+') <> ''
          THEN regexp_extract(substr(t, pos), '^ ?[^\\s\\p{L}\\p{N}]+')
        WHEN length(regexp_extract(substr(t, pos), '^\\s+')) >= 2
             AND pos + length(regexp_extract(substr(t, pos), '^\\s+')) <= length(t)
          THEN substr(t, pos, length(regexp_extract(substr(t, pos), '^\\s+')) - 1)
        WHEN regexp_extract(substr(t, pos), '^\\s+') <> ''
          THEN regexp_extract(substr(t, pos), '^\\s+')
        ELSE substr(t, pos, 1)
      END
"""


def _t55_gpt2_sql() -> str:
    """GPT-2-exact pretokenize + byte-BPE oracle: a recursive-CTE
    position scanner (:data:`_T55_TOK_CASE`) emits each document's
    pretokens IN ORDER; the signature block pins the full token
    sequence (md5 over unit-separator-joined tokens, space-led and
    char-sum counts), and the byte-BPE block replays t53's
    hex-pair leftmost-replace recursion over the DISTINCT pretokens
    (fixture whitespace is ASCII-only, where RE2's ASCII ``\\s`` and
    the JVM's (?U) class agree — the full-Unicode equivalence is
    pinned by the BMP probe + hypothesis suite in
    tests/test_gpt2_pretoken.py)."""
    return f"""
    {_augmented_docs_sql(_T55_AUG)},
    scan AS (
      SELECT doc_id, t, 1 AS pos, 0 AS idx, CAST('' AS VARCHAR) AS tok
      FROM d
      UNION ALL
      SELECT doc_id, t, pos + length(tok2) AS pos, idx + 1 AS idx, tok2 AS tok
      FROM (
        SELECT doc_id, t, pos, idx, {_T55_TOK_CASE} AS tok2
        FROM scan WHERE pos <= length(t)
      ) stepped
    ),
    toks AS (SELECT doc_id, idx, tok FROM scan WHERE idx >= 1),
    vocab AS (SELECT DISTINCT tok AS w FROM toks),
    {_bpe_merge_ctes(byte_level=True)},
    sig AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_pretok,
             CAST(COUNT(*) FILTER (WHERE tok LIKE ' %') AS BIGINT)
               AS n_space_led,
             CAST(SUM(length(tok)) AS BIGINT) AS sum_chars,
             md5(string_agg(tok, chr(31) ORDER BY idx)) AS toks_md5
      FROM toks GROUP BY doc_id
    ),
    stats AS (
      SELECT o.doc_id,
             CAST(SUM(c.n_tok) AS BIGINT) AS n_tokens,
             CAST(SUM(c.n_byt) AS BIGINT) AS n_bytes,
             ROUND(SUM(c.n_byt) * 1.0 / SUM(c.n_tok), 6) AS bytes_per_token
      FROM toks o JOIN counts c ON c.w = o.tok
      GROUP BY o.doc_id
    )
    SELECT s.doc_id, s.n_pretok, s.n_space_led, s.sum_chars, s.toks_md5,
           st.n_tokens, st.n_bytes, st.bytes_per_token
    FROM sig s JOIN stats st USING (doc_id)
    """


@register(
    "t55_gpt2_pretokenize",
    _t55_gpt2_sql(),
    survey_rows="ext:text-analysis — GPT-2-EXACT byte-BPE "
    "pretokenization (contraction suffixes, leading-space attachment, "
    "the \\s+(?!\\S) trailing-whitespace lookahead, full-Unicode "
    "letter/number classes), closing the tokenizer "
    "north-star gap past t53's whitespace+CJK approximation",
    description="GPT-2-exact pretokenization: the engine "
    "runs the famous pattern verbatim as a JVM regexp under (?U) "
    "(java.util.regex has the lookahead RE2 lacks); pretokens feed "
    "byte_bpe_token_stats(pretoken_re=GPT2_PRETOKEN_RE) on the t53 "
    "broadcast-vocab route (GPT-2 pretokens stay Heaps-bounded — "
    "space-led forms roughly double the vocabulary). The oracle "
    "cannot run a lookahead regex, so it IS the grammar: a "
    "recursive-CTE position scanner with ordered CASE alternatives "
    "(contractions before class runs, run-minus-last-char whitespace "
    "before non-space, whole-run at EOS), proven equivalent to the "
    "Python reference scanner and the JVM pattern by the full-BMP "
    "whitespace probe + hypothesis matrix (tests/test_gpt2_pretoken."
    "py). Output pins the ORDERED token sequence per document (md5 "
    "over unit-separator-joined pretokens) plus space-led/char-sum "
    "counts and the byte-BPE token/byte totals. The signature rides "
    "the scan (zero shuffle); the BPE side keeps t53's zero-exchange "
    "broadcast join; the doc-keyed sig⋈stats join is AQE-sized.",
)
def t55_gpt2_pretokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.gpt2 import GPT2_PRETOKEN_RE
    from ..operators.text import byte_bpe_token_stats

    docs = _augmented_docs(spark, sf_dir, _T55_AUG)
    stats = byte_bpe_token_stats(
        docs, text_col="aug_text", pretoken_re=GPT2_PRETOKEN_RE
    )
    sig = docs.select(
        "doc_id",
        F.regexp_extract_all(
            F.col("aug_text"), F.lit(GPT2_PRETOKEN_RE), 0
        ).alias("p"),
    ).select(
        "doc_id",
        F.expr("cast(size(filter(p, x -> startswith(x, ' '))) as long)").alias(
            "n_space_led"
        ),
        F.expr("cast(aggregate(p, 0L, (a, x) -> a + length(x)) as long)").alias(
            "sum_chars"
        ),
        F.md5(F.concat_ws("\x1f", F.col("p")).cast("binary")).alias(
            "toks_md5"
        ),
    )
    return stats.join(sig, "doc_id").select(
        "doc_id", "n_pretok", "n_space_led", "sum_chars", "toks_md5",
        "n_tokens", "n_bytes", "bytes_per_token",
    )


def _t56_bpe_train_sql() -> str:
    """Unrolled BPE merge-training oracle (the g1 unrolled-iteration
    discipline): 5 chained CTE blocks, each = weighted OVERLAPPING
    adjacent-pair counts over the doubled-separator segmentation,
    argmax with the (count DESC, pa, pb) tie-break, then ONE plain
    ``replace`` applying the merge left-to-right-greedily (the
    doubled-separator encoding makes resume-after-replacement exactly
    L2R greedy, self-pairs included — operators/bpe_train.py module
    docstring; the same property tests/test_bpe_train.py pins in
    Python). Recursion-free by construction."""
    parts = [
        """
    d AS (SELECT lower(COALESCE(text, '')) AS t FROM documents),
    occ AS (SELECT unnest(regexp_extract_all(t, '[a-z]+')) AS w FROM d),
    v0 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM occ GROUP BY w),
    s0 AS (SELECT cnt, regexp_replace(w, '(.)', '|\\1|', 'g') AS s FROM v0)"""
    ]
    for i in range(1, 6):
        parts.append(f"""
    p{i} AS (
      SELECT split_part(pr, chr(9), 1) AS pa,
             split_part(pr, chr(9), 2) AS pb,
             SUM(cnt) AS pc
      FROM (
        SELECT cnt,
               unnest(list_transform(range(1, len(l)),
                                     x -> l[x] || chr(9) || l[x + 1])) AS pr
        FROM (SELECT cnt, str_split(trim(s, '|'), '||') AS l FROM s{i - 1})
      )
      GROUP BY pa, pb
    ),
    m{i} AS (SELECT pa, pb, pc FROM p{i}
             ORDER BY pc DESC, pa ASC, pb ASC LIMIT 1),
    s{i} AS (
      SELECT v.cnt,
             replace(v.s, '|' || m.pa || '||' || m.pb || '|',
                     '|' || m.pa || m.pb || '|') AS s
      FROM s{i - 1} v, m{i} m
    ),
    t{i} AS (
      SELECT CAST(SUM(cnt * ((length(s) - length(replace(s, '|', ''))) // 2))
                  AS BIGINT) AS tok
      FROM s{i}
    )""")
    unions = "\n    UNION ALL\n".join(
        f"""    SELECT {i} AS it, m.pa AS sym_a, m.pb AS sym_b,
           CAST(m.pc AS BIGINT) AS pair_cnt, t.tok AS vocab_tokens
    FROM m{i} m, t{i} t"""
        for i in range(1, 6)
    )
    return "    WITH" + ",".join(parts) + "\n" + unions


@register(
    "t56_bpe_train_merges",
    _t56_bpe_train_sql(),
    survey_rows="ext:text-analysis — BPE merge-table TRAINING (the "
    "full Sennrich learn loop t33's single iteration starts: count "
    "pairs -> take best -> re-segment -> repeat), closing the "
    "apply-side-only gap",
    description="BPE merge training: k=5 learn iterations "
    "over the distinct-word vocabulary with occurrence weights "
    "(collapse-first — the Python-free loop runs on vocab-sized data, "
    "Heaps-bounded at 100 TB). Each iteration is one map-combined "
    "pair-count shuffle + a ONE-ROW argmax collect (inherent to BPE "
    "training: each round's counts depend on the previous merge), "
    "then a JVM literal replace re-segments via the doubled-separator "
    "encoding ('|c||a||t|'), whose resume-after-replacement semantics "
    "IS left-to-right greedy merging, self-pairs included. Pair "
    "counts are OVERLAPPING (Sennrich posture: 'aaa' contributes "
    "(a,a) twice); ties break (count DESC, pair ASC) identically in "
    "both engines. Output per iteration: the learned pair, its count, "
    "and the occurrence-weighted corpus token total AFTER the merge — "
    "pinning the apply side of every round, not just the argmax. The "
    "oracle unrolls the k iterations as plain chained CTEs with the "
    "identical replace (recursion-free); the learned table fed back "
    "through bpe_apply_symbols reproduces the segmentation "
    "(tests/test_bpe_train.py).",
)
def t56_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe_train import bpe_train_merges

    docs = _t(spark, sf_dir, "documents")
    return bpe_train_merges(docs, k=5)


@register(
    "mm41_sitemap_discovery",
    """
    WITH d AS (
      SELECT doc_id, (doc_id // 10) % 4 AS v
      FROM documents WHERE doc_id % 10 = 0
    ),
    locs AS (
      SELECT doc_id, v,
        CASE v
          WHEN 0 THEN [
            'http://example.com/doc/' || CAST(doc_id AS VARCHAR) || '?a=1&b=2',
            'http://example.com/doc/' || CAST(doc_id AS VARCHAR) || '/x',
            'http://example.com/doc/~user/' || CAST(doc_id AS VARCHAR)]
          WHEN 1 THEN [
            'http://example.com/sm/' || CAST(doc_id AS VARCHAR) || '-1.xml',
            'http://example.com/sm/' || CAST(doc_id AS VARCHAR) || '-2.xml']
          WHEN 2 THEN [
            'http://example.com/doc/' || CAST(doc_id AS VARCHAR) || '/a',
            'http://example.com/doc/' || CAST(doc_id AS VARCHAR) || '/b']
          ELSE [
            'http://example.com/doc/' || CAST(doc_id AS VARCHAR) || '?x=~&y=2']
        END AS l
      FROM d
    )
    SELECT doc_id,
           CAST(2 AS BIGINT) AS n_directives,
           'http://example.com/sm/' || CAST(doc_id AS VARCHAR) || '.xml'
             AS first_sitemap,
           CASE v WHEN 1 THEN 'sitemapindex' ELSE 'urlset' END AS kind,
           CAST(len(l) AS BIGINT) AS n_locs,
           l[1] AS first_loc,
           md5(array_to_string(l, chr(31))) AS locs_md5
    FROM locs
    """,
    survey_rows="ext:training-data ingestion — sitemap discovery "
    "(robots.txt Sitemap directives + urlset/sitemapindex XML "
    "parsing + canonicalized frontier URLs), completing the "
    "fetch-side frontier beside mm36's redirects",
    description="Sitemap discovery: archives carry a "
    "robots.txt advertising two Sitemap directives (the first messy — "
    "uppercase scheme/host, default port) plus the sitemap document "
    "itself, rotating the protocol's real shapes: entity-escaped / "
    "whitespace+dot-segment / percent-encoded locs; a sitemapindex of "
    "child sitemaps; lastmod/changefreq/priority noise elements; a "
    "GZIP-SERVED urlset (Content-Encoding: gzip — .xml.gz) decoded "
    "through the same HTTP chain as mm34 bodies. Every discovered URL "
    "canonicalizes through the RFC 3986 normalizer mm30/mm36 use, so "
    "sitemap URLs, redirect targets and crawled URLs compare equal in "
    "the frontier; the md5 over unit-separator-joined canonical locs "
    "pins the FULL list. The oracle re-derives every canonical URL as "
    "constants of the doc id. One Arrow pass, zero shuffle.",
)
def mm41_sitemap_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        attach_sitemap_warc_payloads,
        sitemap_features,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    feats = sitemap_features(attach_sitemap_warc_payloads(docs))
    return feats.select(
        "doc_id", "n_directives", "first_sitemap", "kind", "n_locs",
        "first_loc", "locs_md5",
    )


@register(
    "mm42_warc_revisit_dedup",
    """
    WITH d AS (
      SELECT doc_id,
             doc_id % 30 <> 0 AS dup,
             (doc_id // 30) * 30 AS leader,
             doc_id // 30 AS g
      FROM documents WHERE doc_id % 10 = 0
    )
    SELECT doc_id,
           CAST(CASE WHEN dup THEN 2 ELSE 1 END AS BIGINT) AS n_records,
           dup AS is_revisit,
           CAST(CASE WHEN dup THEN leader END AS BIGINT) AS refers_to_doc,
           TRUE AS digest_ok,
           md5('shared corpus text for group ' || CAST(g AS VARCHAR))
             AS resolved_md5
    FROM d
    """,
    survey_rows="ext:training-data ingestion — WARC revisit records "
    "(ISO 28500 §6.7.2 identical-payload-digest profile): write-side "
    "dedup-by-reference and read-side payload reconstruction, the "
    "Common Crawl archive dedup mechanism",
    description="WARC revisit round trip: docs form "
    "3-member duplicate groups sharing one payload; each archive "
    "stores the group leader's FULL response (with its sha1-base32 "
    "payload digest) and — for non-leaders — a revisit record "
    "referencing the leader (WARC-Profile identical-payload-digest, "
    "WARC-Refers-To + Refers-To-Target-URI/Date, block = HTTP headers "
    "only, payload elided) — t54's first-capture-owns dedup decision "
    "in the archive format. The reader verifies EVERY declared digest "
    "— a response's against its own payload, a revisit's against the "
    "referenced response's payload after re-linking — and "
    "reconstructs the usable payload "
    "(md5-pinned against the group constant). Both archive layouts "
    "rotate (per-record gzip members / plain concatenation). The "
    "oracle re-derives membership, reference, digest verdict and "
    "resolved-payload md5 as constants of the doc id. One Arrow "
    "pass, zero shuffle; cross-file resolution at scale is a join on "
    "the emitted refers_to id.",
)
def mm42_warc_revisit_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        attach_revisit_warc_payloads,
        revisit_features,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    feats = revisit_features(attach_revisit_warc_payloads(docs))
    return feats.select(
        "doc_id", "n_records", "is_revisit", "refers_to_doc", "digest_ok",
        "resolved_md5",
    )
