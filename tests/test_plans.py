"""Physical-plan shape assertions — the 100 TB posture checks.

Correctness tests prove the answers; these prove the *plans*: filters reach
the parquet scan, projections prune columns, dimensions broadcast, arg-min
aggregations hash (not sort), and window ops shuffle once. A regression here
is a scale regression even when results stay right.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from youbike_etl_pipeline_spark.plans.corpus import CORPUS
from youbike_etl_pipeline_spark.plans.executed import executed_plans, operator_counts


def plan_text(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark, sf_small):
    df = CORPUS["p6_filter_predicates"].fn(spark, sf_small)
    txt = plan_text(df)
    assert "PushedFilters: [" in txt
    # at least the range predicate on l_shipdate is pushed
    assert "l_shipdate" in txt.split("PushedFilters")[1].split("]")[0]


def test_column_pruning_reaches_scan(spark, sf_small):
    df = CORPUS["flagship_segment_health"].fn(spark, sf_small)
    txt = plan_text(df)
    # orders scan must read only the two join keys, not the whole table
    orders_reads = [
        seg.split("\n")[0]
        for seg in txt.split("ReadSchema: ")[1:]
        if "o_orderkey" in seg.split("\n")[0]
    ]
    assert orders_reads and all(
        "o_totalprice" not in r and "o_orderdate" not in r for r in orders_reads
    )


def test_dimension_joins_broadcast(spark, sf_small):
    txt = plan_text(CORPUS["j1_fact_dim_revenue"].fn(spark, sf_small))
    assert txt.count("BroadcastHashJoin") >= 3  # customer, nation, region
    assert "SortMergeJoin" not in txt


def test_nn_join_has_no_pair_explosion(spark, sf_small):
    # j5 uses the O(n log n) sort-merge NN: no cross product of any kind
    txt = plan_text(CORPUS["j5_nearest_neighbor_join"].fn(spark, sf_small))
    assert "BroadcastNestedLoopJoin" not in txt
    assert "CartesianProduct" not in txt


def test_generic_nn_operator_is_hash_agg_not_sort(spark, sf_small):
    # the generic (arbitrary-distance) NN operator: cross product reduced by
    # a primitive-buffer HashAggregate, never a SortAggregate
    from pyspark.sql import functions as F

    from youbike_etl_pipeline_spark.operators.joins import nearest_neighbor_join

    supp = spark.read.parquet(f"{sf_small}/supplier.parquet").select("s_suppkey", "s_acctbal")
    part = spark.read.parquet(f"{sf_small}/part.parquet").select("p_partkey", "p_retailprice")
    dist = F.abs(F.col("s_acctbal") - F.col("p_retailprice"))
    nn = nearest_neighbor_join(supp, part, "s_suppkey", dist, right_keep=["p_partkey"])
    txt = plan_text(nn)
    assert "HashAggregate" in txt
    assert "SortAggregate" not in txt
    assert "BroadcastNestedLoopJoin" in txt


def test_tpch_q1_partial_aggregation(spark, sf_small):
    txt = plan_text(CORPUS["a1_tpch_q1_pricing_summary"].fn(spark, sf_small), "simple")
    # map-side partial + final: two HashAggregate nodes around one Exchange
    assert txt.count("HashAggregate") >= 2
    assert "partial_sum" in txt  # map-side combine before the shuffle


def test_lag_query_single_shuffle(spark, sf_small):
    txt = plan_text(CORPUS["w1_lag_delta_per_user"].fn(spark, sf_small))
    # one Exchange for the window partition; the groupBy reuses it
    assert txt.count("Exchange hashpartitioning") <= 2


def test_topk_no_global_sort(spark, sf_small):
    txt = plan_text(CORPUS["w8_top_k_limit"].fn(spark, sf_small))
    assert "TakeOrderedAndProject" in txt


def test_numeric_nn_join_has_no_single_partition_window(spark, sf_small):
    """The 1-D NN join must run range-bucketed windows (partitioned by the
    bucket id), never a global single-partition sort — the round-1
    scale-killer this plan shape guards against."""
    from youbike_etl_pipeline_spark.plans.corpus import CORPUS

    plan = (
        CORPUS["j5_nearest_neighbor_join"]
        .fn(spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_ks_ecdf_no_large_single_partition_window(spark, sf_small):
    """KS ECDF cumulative counts are bucketed; the only single-partition
    exchange allowed is over the tiny bucket-totals frame."""
    from youbike_etl_pipeline_spark.stats.inference import ks_two_sample

    ev = spark.read.parquet(f"{sf_small}/orders.parquet")
    plan = (
        ks_two_sample(ev, "o_orderstatus", "o_totalprice", "O")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the per-value window must be hash-partitioned on the bucket id
    assert "windowspecdefinition(__b" in plan


def test_q18_semi_join_before_fact_join(spark, sf_small):
    """Q18's IN-subquery plans as a semi join on the pre-aggregated key set,
    so the fact join only sees filtered orders."""
    from youbike_etl_pipeline_spark.plans.corpus import CORPUS

    plan = (
        CORPUS["q18_large_volume_customers"]
        .fn(spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftSemi" in plan


def test_asof_join_single_shuffle_no_range_explosion(spark, sf_small):
    txt = plan_text(CORPUS["j7_asof_join"].fn(spark, sf_small))
    assert "CartesianProduct" not in txt and "BroadcastNestedLoopJoin" not in txt


# --- round-4 training-pipeline operators -----------------------------------


def test_vocab_topk_is_partial_agg_plus_topk(spark, sf_small):
    """t21 must map-side combine (shuffle |vocab|, not |tokens|) and take
    the top-k without a global sort."""
    txt = plan_text(CORPUS["t21_vocab_topk"].fn(spark, sf_small))
    assert "partial_count" in txt or "partial" in txt.lower()
    assert "TakeOrderedAndProject" in txt


def test_quantization_has_no_shuffle(spark, sf_small):
    """e1 is a pure per-row map over the scan — any Exchange is a
    regression (the filter must also reach the parquet scan)."""
    txt = plan_text(CORPUS["e1_embedding_quantization"].fn(spark, sf_small))
    assert "Exchange" not in txt
    assert "PushedFilters: [" in txt


def test_mixture_resample_broadcasts_counts(spark, sf_small):
    """t24's per-group count table must broadcast — a shuffled join on the
    group key would move the whole corpus for a 5-row dim."""
    txt = plan_text(CORPUS["t24_mixture_resample"].fn(spark, sf_small))
    assert "BroadcastHashJoin" in txt


def test_chunking_has_single_aggregation_shuffle(spark, sf_small):
    """t20 fans out chunks with generate/explode (no join for the lang
    lookup beyond the doc table itself) — the plan must contain Generate
    and no BroadcastNestedLoop/Cartesian."""
    txt = plan_text(CORPUS["t20_context_chunking"].fn(spark, sf_small))
    assert "Generate" in txt
    assert "CartesianProduct" not in txt and "BroadcastNestedLoop" not in txt


def test_stream_static_join_broadcasts_dim(spark, sf_small):
    """st7's customer dim broadcasts under the stream: the planner picks a
    broadcast hash join for the micro-batch join st7 itself runs."""
    plans = executed_plans(
        spark, lambda: CORPUS["st7_stream_static_join"].fn(spark, sf_small).collect()
    )
    ops = operator_counts(plans)
    assert ops["BroadcastHashJoin"] >= 1, ops
    assert not ops["SortMergeJoin"] and not ops["ShuffledHashJoin"], ops


def test_q6_all_predicates_pushed_no_join(spark, sf_small):
    """q6 is the canonical pushdown benchmark: every predicate must reach
    the parquet scan and the plan must contain no join or exchange beyond
    the final single-row aggregation."""
    txt = plan_text(CORPUS["q6_forecast_revenue"].fn(spark, sf_small))
    pushed = txt.split("PushedFilters")[1].split("]")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"
    assert "Join" not in txt


def test_q4_semi_join_not_aggregate_dedup(spark, sf_small):
    """q4's EXISTS must decorrelate to a LEFT SEMI hash join (one pass over
    lineitem), not a distinct+inner-join."""
    txt = plan_text(CORPUS["q4_order_priority_check"].fn(spark, sf_small))
    assert "LeftSemi" in txt
    assert "CartesianProduct" not in txt


def test_q8_dims_broadcast_single_fact_shuffle(spark, sf_small):
    """q8 joins five dims onto the orders x lineitem fact join: every dim
    must broadcast; the only shuffle joins allowed are on the fact keys."""
    txt = plan_text(CORPUS["q8_national_market_share"].fn(spark, sf_small))
    assert txt.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt


def test_q10_topk_is_take_ordered(spark, sf_small):
    """q10's ORDER BY + LIMIT over the grouped result must compile to
    TakeOrderedAndProject, not a global sort."""
    txt = plan_text(CORPUS["q10_returned_items"].fn(spark, sf_small))
    assert "TakeOrderedAndProject" in txt


def test_ev1_funnel_shuffles_only_on_user(spark, sf_small):
    """ev1's three chained aggregations all hash-partition on user_id —
    no other partitioning key may appear in any exchange."""
    txt = plan_text(CORPUS["ev1_funnel_conversion"].fn(spark, sf_small))
    # NB: formatted plans print the node as "Exchange" with the key in an
    # "Arguments: hashpartitioning(...)" line — splitting on the combined
    # string matched nothing and made this loop vacuous (fixed round 4)
    keys = [seg.split(",")[0] for seg in txt.split("hashpartitioning(")[1:]]
    assert keys, "expected at least one shuffle"
    for key in keys:
        assert "user_id" in key, f"unexpected shuffle key: {key}"
    assert "CartesianProduct" not in txt


def test_mm4_frame_sample_no_shuffle(spark, sf_small):
    """mm4 is scan -> mapInPandas fan-out -> project: a shuffle anywhere
    means the fan-out stopped being partition-local."""
    txt = plan_text(CORPUS["mm4_frame_sample"].fn(spark, sf_small))
    assert "Exchange" not in txt
    assert "MapInPandas" in txt or "mapInPandas" in txt.lower()


def test_q2_groupwise_min_hash_aggs_and_broadcast_dims(spark, sf_small):
    """q2's correlated-MIN decorrelation must be two hash aggregations plus
    an equi-join back — no sort-based aggregate, no cartesian — and the
    part/supplier/nation dims must broadcast."""
    txt = plan_text(CORPUS["q2_min_cost_supplier"].fn(spark, sf_small))
    assert "HashAggregate" in txt
    assert txt.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt


def test_q9_single_fact_shuffle_dims_broadcast(spark, sf_small):
    """q9 is a 5-way star join: part/supplier/nation broadcast, orders joins
    on the orderkey shuffle — no SortMergeJoin on a dim, no cartesian."""
    txt = plan_text(CORPUS["q9_product_type_profit"].fn(spark, sf_small))
    assert txt.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in txt
    # the part LIKE filter must reach the part scan, not run post-join
    pushed_segments = txt.split("PushedFilters: [")[1:]
    assert any("p_name" in seg.split("]")[0] for seg in pushed_segments) or (
        "StringContains" in txt
    )


def test_q11_threshold_is_one_row_broadcast(spark, sf_small):
    """q11's scalar threshold must arrive as a broadcast of the one-row
    aggregate (BNLJ against a single-row build side), never a shuffle or a
    driver collect baked into the plan as a literal."""
    txt = plan_text(CORPUS["q11_important_part_value"].fn(spark, sf_small))
    assert "BroadcastNestedLoopJoin" in txt or "BroadcastHashJoin" in txt
    assert "CartesianProduct" not in txt


def test_q12_single_join_single_agg(spark, sf_small):
    """q12 must be exactly one join (lineitem x orders) and one aggregation
    — the date-lateness predicate references both sides so it evaluates
    post-join, but everything else stays a two-shuffle plan."""
    txt = plan_text(CORPUS["q12_late_shipment_priority"].fn(spark, sf_small))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt


def test_q16_anti_join_then_distinct_count(spark, sf_small):
    """q16's NOT IN must compile to a broadcast LEFT ANTI join (keys are
    non-null), with the part attribute filters pushed to the part scan."""
    txt = plan_text(CORPUS["q16_supplier_part_count"].fn(spark, sf_small))
    assert "LeftAnti" in txt
    assert "CartesianProduct" not in txt


def test_q21_exists_pair_is_equi_joins_on_orderkey(spark, sf_small):
    """q21's EXISTS / NOT EXISTS must both be orderkey equi-joins (semi +
    anti) with the suppkey inequality as a join residual — a cartesian or
    BNLJ here means the decorrelation degenerated to per-row probing."""
    txt = plan_text(CORPUS["q21_suppliers_kept_waiting"].fn(spark, sf_small))
    assert "LeftSemi" in txt
    assert "LeftAnti" in txt
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt


def test_t27_sequences_single_user_shuffle(spark, sf_small):
    """t27 must be one hash-partitioning on user_id feeding the array
    aggregation — no join, no global sort (ordering happens inside each
    group's collected array)."""
    txt = plan_text(CORPUS["t27_user_event_sequences"].fn(spark, sf_small))
    keys = [seg.split(",")[0] for seg in txt.split("hashpartitioning(")[1:]]
    assert keys, "expected the user_id shuffle"
    for key in keys:
        assert "user_id" in key, f"unexpected shuffle key: {key}"
    assert "Join" not in txt


def test_t28_negative_sampling_pool_is_broadcast_not_cross_matrix(spark, sf_small):
    """t28's candidate generation must be users x broadcast-pool (a bounded
    BroadcastNestedLoopJoin), never a CartesianProduct over the full item
    table, and the positives must arrive as an equi anti-join."""
    txt = plan_text(CORPUS["t28_negative_sampling"].fn(spark, sf_small))
    assert "CartesianProduct" not in txt
    assert "LeftAnti" in txt
    # the pool side of the cross product is a LIMIT-16 subtree
    assert "BroadcastNestedLoopJoin" in txt or "BroadcastHashJoin" in txt


def test_t29_adaptive_filter_single_source_shuffle(spark, sf_small):
    """t29's rank window and the final aggregation both partition on
    source — one logical key, no join."""
    txt = plan_text(CORPUS["t29_adaptive_quality_filter"].fn(spark, sf_small))
    keys = [seg.split(",")[0] for seg in txt.split("hashpartitioning(")[1:]]
    assert keys, "expected the source shuffle"
    for key in keys:
        assert "source" in key, f"unexpected shuffle key: {key}"
    assert "Join" not in txt


def test_w16_cumulative_window_over_aggregate_not_raw_rows(spark, sf_small):
    """w16's global ordered window must consume the per-hour AGGREGATE (rows
    bounded by the time range), never the raw events — the plan therefore
    shows the single-partition window downstream of a hash aggregation."""
    txt = plan_text(CORPUS["w16_user_acquisition_curve"].fn(spark, sf_small))
    assert "Join" not in txt
    agg_pos = txt.find("HashAggregate")
    win_pos = txt.find("Window")
    assert agg_pos != -1 and win_pos != -1
    # formatted plans list operators leaves-first: the aggregate must appear
    # as a deeper (earlier-executed) node than the window consuming it
    assert "hashpartitioning" in txt


def test_dq4_stats_broadcast_back_onto_daily(spark, sf_small):
    """dq4's per-type stats frame is 5 rows — it must broadcast back onto
    the daily aggregate, not shuffle it."""
    txt = plan_text(CORPUS["dq4_volume_anomalies"].fn(spark, sf_small))
    assert "BroadcastHashJoin" in txt
    assert "SortMergeJoin" not in txt
    assert "CartesianProduct" not in txt


def test_ev3_single_user_shuffle_bounded_agg(spark, sf_small):
    """ev3's lead window shuffles once on user_id; the transition count
    aggregates a |types|^2-bounded frame — no join anywhere."""
    txt = plan_text(CORPUS["ev3_transition_matrix"].fn(spark, sf_small))
    assert "Join" not in txt
    keys = [seg.split(",")[0] for seg in txt.split("hashpartitioning(")[1:]]
    assert any("user_id" in k for k in keys), keys
    # the only other shuffle is the bounded from/to-type aggregation
    assert all("user_id" in k or "event_type" in k for k in keys), keys


def test_cdc2_merge_is_decimal_until_projection(spark, sf_small):
    """cdc2's partial sums must stay DECIMAL through the full-outer merge
    (a double partial-sum pair can drift a ulp vs the one-shot sum the
    oracle computes); the double cast appears only in the final project."""
    df = CORPUS["cdc2_incremental_rollup"].fn(spark, sf_small)
    txt = plan_text(df)
    assert "FullOuter" in txt or "full_outer" in txt.lower()
    # schema contract: exact merge feeds double output columns
    assert dict(df.dtypes)["sum_value"] == "double"
    assert dict(df.dtypes)["n"] == "bigint"


def test_j11_overlap_join_is_bucket_equi_join(spark, sf_small):
    """j11's interval self-join must arrive as an equi-join on the hour
    bucket with the overlap predicate as a residual filter — a cartesian
    or BNLJ means the grid decomposition degenerated to all-pairs."""
    txt = plan_text(CORPUS["j11_interval_overlap_join"].fn(spark, sf_small))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    assert "Join" in txt


def test_dq5_every_relation_is_anti_join(spark, sf_small):
    """dq5 audits 7 FK relations: each must be a LEFT ANTI join (6 of them
    broadcast; lineitem->orders shuffles on the fact key) — no cartesian,
    no inner-join + null-filter fallback."""
    txt = plan_text(CORPUS["dq5_referential_integrity"].fn(spark, sf_small))
    assert txt.count("LeftAnti") >= 7
    assert "CartesianProduct" not in txt


def test_w17_scaffold_reuses_user_partitioning_no_driver_calendar(spark, sf_small):
    """w17's hour scaffold must be generated distributed (Generate/explode
    of sequence()), never collected to the driver; every shuffle keys on
    user_id (the hourly agg, span agg, scaffold join, fill window, and
    rollup all share it)."""
    txt = plan_text(CORPUS["w17_regular_grid_resample"].fn(spark, sf_small))
    assert "Generate" in txt  # sequence+explode scaffold
    assert "CartesianProduct" not in txt
    keys = [seg.split(",")[0] for seg in txt.split("hashpartitioning(")[1:]]
    assert keys and all("user_id" in k for k in keys), keys


def test_a21_windows_run_over_customer_aggregate(spark, sf_small):
    """a21's cumulative/total windows must consume the per-customer
    aggregate (customers-per-nation sized), with broadcast dims and no
    cartesian."""
    txt = plan_text(CORPUS["a21_pareto_concentration"].fn(spark, sf_small))
    assert "BroadcastHashJoin" in txt
    assert "CartesianProduct" not in txt
    assert "Window" in txt and "HashAggregate" in txt


def test_m14_single_partition_window_only_on_digit_frame(spark, sf_small):
    """m14's only single-partition exchange may carry the 9-row digit
    frame — the raw orders scan must aggregate first."""
    txt = plan_text(CORPUS["m14_benford_first_digit"].fn(spark, sf_small))
    agg_pos = txt.find("HashAggregate")
    win_pos = txt.find("Window")
    assert agg_pos != -1 and win_pos != -1
    assert "Join" not in txt


def test_t30_segments_join_is_equi_not_cartesian(spark, sf_small):
    """t30's boilerplate membership is one equi-join on the segment string
    plus hash aggregations — pair enumeration (cartesian or BNLJ over
    segments) would make it quadratic like t2."""
    txt = plan_text(CORPUS["t30_boilerplate_segments"].fn(spark, sf_small))
    assert "HashAggregate" in txt
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt


def test_t31_corpus_mean_is_single_row_broadcast(spark, sf_small):
    """t31's corpus-mean threshold must arrive as a 1-row broadcast
    (BroadcastNestedLoopJoin over a scalar aggregate is fine), and model
    scoring must be equi-joins — no cartesian over docs x model."""
    txt = plan_text(CORPUS["t31_lm_perplexity_filter"].fn(spark, sf_small))
    assert "CartesianProduct" not in txt
    assert "HashAggregate" in txt


def test_t32_sharding_is_map_plus_single_agg(spark, sf_small):
    """t32 content sharding is a pure map + one aggregation: exactly one
    shuffle key (the shard id), no joins, no sort."""
    txt = plan_text(CORPUS["t32_content_shard_assignment"].fn(spark, sf_small))
    keys = [seg.split(",")[0] for seg in txt.split("hashpartitioning(")[1:]]
    assert keys and all("shard" in k for k in keys), keys
    assert "Join" not in txt
    assert "Sort" not in txt.replace("SortAggregate", "")


def test_s6_semantic_dedup_joins_only_on_bucket_keys(spark, sf_small):
    """s6's candidate generation must be an equi-join (bucket key) — the
    whole point of the SemDeDup composition is that no operator ever sees
    the all-pairs frame."""
    txt = plan_text(CORPUS["s6_semantic_dedup"].fn(spark, sf_small))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt


def test_t33_bpe_counts_are_partial_agg_plus_topk(spark, sf_small):
    """t33 is the word-count shape: map-side partial aggregation then a
    TakeOrderedAndProject top-k — a global sort would be wrong."""
    txt = plan_text(CORPUS["t33_bpe_pair_merge"].fn(spark, sf_small))
    assert "TakeOrderedAndProject" in txt
    assert "HashAggregate" in txt


def test_s7_bm25_filters_postings_before_joins_and_topk(spark, sf_small):
    """s7's posting list must be filtered to the query terms BEFORE any
    join (the `w IN (...)` predicate sits under the tf aggregate, so the
    join inputs are O(matching docs), never O(corpus vocab)), idf/stats
    must broadcast, and the top-k must be TakeOrderedAndProject — a global
    sort of per-doc scores would be wrong."""
    txt = plan_text(CORPUS["s7_bm25_retrieval"].fn(spark, sf_small))
    assert "TakeOrderedAndProject" in txt
    assert "CartesianProduct" not in txt
    # the explode feeding tf carries the isin filter before its aggregate
    assert "w IN" in txt or "w#" in txt  # filter on the exploded token col
    assert "BroadcastExchange" in txt


def test_t34_classifier_is_zero_join_map_agg(spark, sf_small):
    """t34's weight lookup is arithmetic on the hash — the plan must have
    NO joins at all (a 2^20-row weight-table join would shuffle)."""
    txt = plan_text(CORPUS["t34_hashed_quality_classifier"].fn(spark, sf_small))
    assert "Join" not in txt
    assert "HashAggregate" in txt


def test_t35_novelty_is_equi_join_no_pairs(spark, sf_small):
    """t35's first-seen membership is one equi-join on the shingle string
    — pair enumeration (cartesian/BNLJ) would make it t2-quadratic."""
    txt = plan_text(CORPUS["t35_ngram_novelty"].fn(spark, sf_small))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    assert "HashAggregate" in txt


def test_t36_overlap_joins_only_on_shingle(spark, sf_small):
    """t36's source-pair generation must be an equi-join on the shingle
    string (fan-out bounded by source-count²) — never a cartesian over
    sources × sources or docs × docs."""
    txt = plan_text(CORPUS["t36_cross_source_overlap"].fn(spark, sf_small))
    assert "CartesianProduct" not in txt
    assert "TakeOrderedAndProject" in txt


def test_ev5_rfm_buckets_via_broadcast_not_global_sort(spark, sf_small):
    """ev5 must bucket by comparing against broadcast percentile
    boundaries — an ntile/rank window over all users (global sort →
    SinglePartition over a user-sized frame) is the formulation it
    deliberately avoids. The only single-partition spans allowed are the
    1-row quantile/scalar aggregates."""
    txt = plan_text(CORPUS["ev5_rfm_segmentation"].fn(spark, sf_small))
    assert "BroadcastExchange" in txt
    # no Window operator at all — bucketing is pure projection against the
    # broadcast boundaries ("percentile" the aggregate is expected; an
    # ntile/rank WINDOW over users is what must not appear)
    assert "Window" not in txt


def test_w19_rolling_distinct_explodes_after_daily_dedup(spark, sf_small):
    """w19's ×7 multi-assignment must happen AFTER the (user, day) dedup:
    the explode's child plan must contain the distinct aggregate, so the
    fan-out multiplies the collapsed daily-active table, not raw events."""
    txt = plan_text(CORPUS["w19_rolling_distinct_users"].fn(spark, sf_small))
    assert "Generate" in txt  # the explode
    gen_child = txt.split("Generate")[1]
    assert "HashAggregate" in txt.split("Generate")[0] or "HashAggregate" in gen_child


def test_ev6_attribution_is_user_equi_join_with_band_filter(spark, sf_small):
    """ev6's touch match must be an equi-join on user_id with the 24 h
    band as a residual filter — a pure time-range BNLJ over purchases ×
    touches would be quadratic in events."""
    txt = plan_text(CORPUS["ev6_linear_attribution"].fn(spark, sf_small))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    # the touch match must be a hash equi-join (broadcast at small SF,
    # shuffled on user_id at scale) — its keys include user_id
    assert any(
        k in txt for k in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    )
    join_args = [
        seg.split("\n")[0]
        for seg in txt.split("Left keys")[1:]
    ]
    assert any("user_id" in a for a in join_args) or "user_id" in txt


def test_m21_rank_prefix_is_bucketed_not_global_sort(spark, sf_small):
    """m21's global midrank prefix must run range-bucketed: the intra-bucket
    window partitions by the bucket id, and the only partition-free window
    sort is over the tiny bucket-totals frame (joined back via broadcast).
    A single Window over all distinct values (SinglePartition over the
    value domain) is the formulation it deliberately avoids."""
    txt = plan_text(CORPUS["m21_kruskal_wallis"].fn(spark, sf_small))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    # the per-bucket offsets frame comes back via broadcast, and the
    # intra-bucket cumulative window carries the __b partition key
    assert "BroadcastExchange" in txt
    assert "__b" in txt


def test_t39_zipf_topk_before_rank_window(spark, sf_small):
    """t39's global-sort surface must be the top-k (TakeOrderedAndProject),
    never a full sort of the vocabulary; the rank window then runs on the
    200-row frame only. No pair joins anywhere — the word count is one
    hash aggregation."""
    txt = plan_text(CORPUS["t39_zipf_law_fit"].fn(spark, sf_small))
    assert "TakeOrderedAndProject" in txt
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt


def test_mm7_ahash_is_bucket_groupby_no_pairs(spark, sf_small):
    """mm7 must bucket by hash equality (one |buckets|-bounded shuffle
    after partition-local hashing) — never a pairwise image comparison."""
    txt = plan_text(CORPUS["mm7_image_ahash_neardup"].fn(spark, sf_small))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    assert "SortMergeJoin" not in txt  # no join at all — pure group-by
    assert "HashAggregate" in txt


def test_s8_fusion_is_rank_math_over_topk_frames(spark, sf_small):
    """s8's corpus-sized work is s7's filtered posting scan and s1's
    one-pass cosine; the fusion itself must be an outer join of two
    50-row rank frames — both list cuts stay TakeOrderedAndProject /
    top-k, and nothing joins at corpus scale."""
    txt = plan_text(CORPUS["s8_rrf_hybrid_retrieval"].fn(spark, sf_small))
    assert "CartesianProduct" not in txt
    assert txt.count("TakeOrderedAndProject") >= 2  # both list cuts + final
    assert "FullOuter" in txt or "full_outer" in txt.lower()


def test_g3_degree_joins_are_equi_joins(spark, sf_small):
    """g3 joins degrees back onto edges by node id — hash equi-joins only;
    the co-visitation pair build is the user-keyed self-join (g1's shape),
    never an item×item cross product."""
    txt = plan_text(CORPUS["g3_degree_assortativity"].fn(spark, sf_small))
    assert "CartesianProduct" not in txt
    # the only nested-loop surface allowed is the 1-row stat-frame cross
    # (formatted mode prints each node again in the detail section, so
    # count tree lines, not string occurrences)
    assert txt.count("BroadcastNestedLoopJoin Cross") <= 1


def _plan_tools():
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    import plan_report

    return plan_report


def test_unbounded_bnl_detector_flags_f20_bug_class(spark):
    """The f20 regression gate (round-5 verdict item 7): a join condition
    mixing both sides' columns gives Catalyst no equi-keys, so BOTH scaling
    sides nested-loop — O(n·m) predicate evaluations that never finish at
    the 100× probe. The detector must FAIL that shape while allowing the
    legitimate scalar-broadcast BNL (attaching a global statistic)."""
    from pyspark.sql import functions as F

    pr = _plan_tools()
    a = spark.range(100_000).toDF("x")
    b = spark.range(100_000).toDF("y")
    # the bug class: no extractable equi-key, both sides scale
    bad = a.join(F.broadcast(b), F.col("x") * F.col("y") > 10)
    assert "BroadcastNestedLoopJoin" in plan_text(bad, "simple")
    assert pr.unbounded_bnl_joins(bad)
    # acceptable: one side is a grouping-free (1-row) aggregate
    stat = a.agg(F.max("x").alias("mx"))
    ok = a.join(F.broadcast(stat), F.col("x") <= F.col("mx"))
    assert "BroadcastNestedLoopJoin" in plan_text(ok, "simple")
    assert pr.unbounded_bnl_joins(ok) == []
    # acceptable: one side is a small constant frame (replicate/fold/grid)
    reps = spark.range(200).toDF("r")
    fan = a.join(F.broadcast(reps), F.col("x") % 7 > F.col("r") % 5)
    assert "BroadcastNestedLoopJoin" in plan_text(fan, "simple")
    assert pr.unbounded_bnl_joins(fan) == []


def test_f20_pooled_grid_lookup_is_not_unbounded_bnl(spark, sf_small):
    """f20's pooled-grid lookup — the query that MOTIVATED the detector —
    must keep its fixed shape: any BNL in the plan has a ≤1-row side."""
    pr = _plan_tools()
    df = CORPUS["f20_quantile_normalization"].fn(spark, sf_small)
    assert pr.unbounded_bnl_joins(df) == []


def test_crawl_extraction_family_zero_shuffle(spark, sf_small):
    """mm29/mm30/mm31: attach → parse → extract ride the scan in one
    Arrow pass — any Exchange is a scale regression (at 100 TB each
    archive is one split; extraction must be as parallel as the scan)."""
    for name in (
        "mm29_html_text_extract",
        "mm30_url_canonicalize",
        "mm31_crawl_quality_pipeline",
    ):
        txt = plan_text(CORPUS[name].fn(spark, sf_small))
        assert "Exchange" not in txt, name
        assert "ArrowEvalPython" in txt or "MapInPandas" in txt, name


@pytest.mark.parametrize("name", ["t50_bpe_encode", "t53_byte_bpe_encode"])
def test_bpe_vocab_broadcast_no_skewed_word_shuffle(spark, sf_small, name):
    """The BPE scale posture (round-9 sweep catch, round-10 refinement):
    the tokenized vocab joins BROADCAST, and the raw occurrence stream
    never hash-exchanges on the Zipf-skewed word key. The round-10
    shape has EXACTLY two exchanges: the final per-doc aggregate
    (doc-keyed, map-combined) and the vocab DISTINCT (word-keyed but
    map-combined to one row per distinct word per map task — the hot
    key carries at most #tasks rows). The round-9 version of this test
    regexed `explain("formatted")` for inline `Exchange
    hashpartitioning(` lines, which that mode never prints (keys live
    on `Arguments:` lines) — the loop was vacuous; the simple-mode
    parse below actually sees every exchange."""
    import re as _re

    txt = plan_text(CORPUS[name].fn(spark, sf_small), mode="simple")
    assert "BroadcastHashJoin" in txt, name
    assert "SortMergeJoin" not in txt, name
    exchanges = _re.findall(r"Exchange hashpartitioning\(([^)]*)\)", txt)
    assert len(exchanges) == 2, (name, exchanges)
    doc_keyed = [k for k in exchanges if "doc_id" in k]
    word_keyed = [k for k in exchanges if "doc_id" not in k]
    assert len(doc_keyed) == 1 and len(word_keyed) == 1, (name, exchanges)
    # the word-keyed exchange is the distinct: its input is the partial
    # distinct aggregate (no functions), never raw occurrence rows
    assert _re.search(
        r"HashAggregate\(keys=\[w#\d+\], functions=\[\]\)", txt
    ), name


@pytest.mark.parametrize("name", ["m25_poisson_bootstrap_ci", "m30_randomization_test"])
def test_replicate_statistics_have_no_row_multiplier(spark, sf_small, name):
    """m25/m30 draw 200 replicates per row in one fused Arrow pass
    (``stats.resample``): no execution may cross-join the rows with a
    200-row range, the 200x intermediate the fusion removes."""
    plans = executed_plans(spark, lambda: CORPUS[name].fn(spark, sf_small).collect())
    for p in plans:
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "CartesianProduct" not in p, name
        assert "Range (0, 200" not in p, name
    assert any("MapInArrow" in p for p in plans), name
