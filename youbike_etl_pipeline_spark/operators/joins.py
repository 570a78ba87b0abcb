"""Join operators (SURVEY §2.3 J1-J6, plus as-of/range generalizations).

Scale posture: every dimension side in the reference workload is tiny
(≈1.4k stations, 13 districts), so the planner broadcasts it by size and
the fact side never shuffles. The NN spatial join broadcasts the small point
set and reduces with a min-aggregation, so it is a map-side cross product —
no shuffle of the big side. The as-of join is the one genuinely custom composition (Spark has no
native as-of): union + partitioned last-value carry-forward, one shuffle on
the join key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec

from ..functions.scalar import haversine_m
from .skew import materialize, quantile_buckets


def hour_bucket_join(
    fact: DataFrame,
    hourly: DataFrame,
    fact_ts: str,
    hourly_ts: str,
    how: str = "left",
) -> DataFrame:
    """Time-bucket join (J2): floor fact timestamps to the hour and equi-join
    the hourly series — each sub-hourly reading joins its containing hour
    (reference ``notebooks/03_data_merge.ipynb:L79-L87``). The hourly side is
    small (one row per hour), so the planner broadcasts it. Output = fact
    columns + the hourly side's value columns; the synthesized bucket key is internal
    (a reserved ``__hour_key``, dropped after the join, so it can't shadow
    a real fact column or leak into downstream schemas)."""
    keyed = fact.withColumn("__hour_key", F.date_trunc("hour", F.col(fact_ts)))
    rhs = hourly.withColumnRenamed(hourly_ts, "__hour_key")
    return keyed.join(rhs, on="__hour_key", how=how).drop("__hour_key")


def lookup_join(df: DataFrame, mapping: dict, key: str, value_name: str) -> DataFrame:
    """Dict-lookup join (J6): static Python map applied as a broadcast-free
    literal ``create_map`` (reference ``map(zoning_map)``,
    ``notebooks/01_youbike_analysis.ipynb:L836``). For large maps prefer a
    broadcast join against a 2-col DataFrame."""
    pairs: list[Column] = []
    for k, v in mapping.items():
        pairs += [F.lit(k), F.lit(v)]
    return df.withColumn(value_name, F.create_map(*pairs)[F.col(key)])


def nearest_neighbor_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    distance: Column,
    right_keep: list[str] | None = None,
) -> DataFrame:
    """Generic k=1 nearest-neighbor join (J5): broadcast-cross-join ``right``
    (the small point set), compute ``distance``, keep the arg-min row per
    ``left_id`` via a window — reference's per-station min-Haversine loop
    (``notebooks/01_youbike_analysis.ipynb:L55-L61``) distributed.

    ``distance`` is a column expression over the cross product. Tie-break is
    by ``right_keep`` columns so the arg-min row is deterministic. At huge
    right-side cardinality, pre-bucket both sides by grid cell first (see
    SURVEY §4) — for dimension-sized point sets the broadcast cross product
    is map-side only and optimal.

    Physical strategy: two passes over the (map-side-only) cross product.
    Pass 1: hash-aggregate ``min(distance)`` per left key — a primitive agg
    buffer, so Spark plans HashAggregate with map-side partials. Pass 2:
    re-generate the cross product, broadcast-join the per-key minima, keep
    rows matching their minimum, and break ties with a window over that tiny
    remainder. (One-pass ``min_by``/``min`` over a struct payload falls back
    to SortAggregate — sorting the whole cross product, ~5× slower; a plain
    row_number window is worse still.)
    """
    crossed = left.crossJoin(F.broadcast(right)).withColumn("__dist", distance)
    minima = crossed.groupBy(left_id).agg(F.min("__dist").alias("__min_dist"))
    at_min = crossed.join(F.broadcast(minima), on=left_id, how="inner").filter(
        F.col("__dist") == F.col("__min_dist")
    )
    # default tie-break: every right column — an empty ORDER BY is an
    # AnalysisException, and an unordered tie pick would be nondeterministic
    keep = right_keep if right_keep else list(right.columns)
    w = Window.partitionBy(left_id).orderBy(*[F.col(c).asc() for c in keep])
    return (
        at_min.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__min_dist")
        .withColumnRenamed("__dist", "nn_distance")
    )


def nearest_mrt_distance(stations: DataFrame, mrt: DataFrame) -> DataFrame:
    """The reference's concrete NN query: per YouBike station, min Haversine
    distance to any MRT station → ``dist_to_mrt``
    (``notebooks/01_youbike_analysis.ipynb:L55-L61``). Min-only (no arg-min
    row needed) → broadcast cross join + map-side partial min, no window."""
    mrt_pts = mrt.select(F.col("lat").alias("__mlat"), F.col("lng").alias("__mlng"))
    d = haversine_m(
        F.col("lat").cast("double"), F.col("lng").cast("double"), F.col("__mlat"), F.col("__mlng")
    )
    return (
        stations.crossJoin(mrt_pts)
        .withColumn("__d", d)
        .groupBy(*stations.columns)
        .agg(F.min("__d").alias("dist_to_mrt"))
    )


def _asof_union(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_values: list[str],
    left_side: int,
) -> DataFrame:
    """The as-of joins' one input frame: both sides as (``__k``, ``__ts``,
    ``__side``, ``__lrow``, ``__rv_*``) rows, unioned. Left rows carry
    their whole row in the ``__lrow`` struct and null right values; right
    rows carry a null ``__lrow``. ``__side`` is ``left_side`` for left
    rows and ``1 - left_side`` for right rows, so it orders timestamp ties
    for the direction of the carry."""
    l_tagged = left.select(
        F.col(on).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(left_side).alias("__side"),
        F.struct(*left.columns).alias("__lrow"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__rv_{c}") for c in right_values],
    )
    r_tagged = right.select(
        F.col(on).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(1 - left_side).alias("__side"),
        F.lit(None).cast(l_tagged.schema["__lrow"].dataType).alias("__lrow"),
        *[F.col(c).alias(f"__rv_{c}") for c in right_values],
    )
    return l_tagged.unionByName(r_tagged)


def _asof_carry(
    unioned: DataFrame, w: WindowSpec, left_side: int, lcols: list[str], right_values: list[str]
) -> DataFrame:
    """The one-level carry: each right value's last non-null over ``w``,
    kept on the left rows (``__side == left_side``), unpacked."""
    carried = unioned.select(
        "__k",
        "__side",
        "__lrow",
        *[F.last(f"__rv_{c}", ignorenulls=True).over(w).alias(f"__c_{c}") for c in right_values],
    ).filter(F.col("__side") == left_side)
    return _asof_unpack(carried, lcols, right_values)


def _asof_unpack(carried: DataFrame, lcols: list[str], right_values: list[str]) -> DataFrame:
    """The left row's columns out of ``__lrow``, then each carried
    ``__c_*`` value under its right column's name."""
    return carried.select(
        *[F.col(f"__lrow.{c}").alias(c) for c in lcols],
        *[F.col(f"__c_{c}").alias(c) for c in right_values],
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_values: list[str],
    bucket_seconds: float | None = None,
) -> DataFrame:
    """As-of join (J2's generalization): for each left row, the most recent
    right row with ``right_ts <= left_ts`` within the same ``on`` key.

    Spark has no native as-of join; the scalable composition is
    union-and-carry-forward: tag both sides, union on (key, ts), then
    ``last(value, ignorenulls=True)`` over a partitioned ordered window
    carries each right value forward onto subsequent left rows. One shuffle
    on ``on`` total — same cost as a regular join, no range explosion.
    Right rows tied on timestamp with a left row sort first (inclusive as-of).

    ``bucket_seconds`` is the LOW-CARDINALITY-KEY scale routing (the
    classic time-series regime: millions of rows over a handful of
    symbols/segments). With it unset, window parallelism equals the key
    count — the full-corpus 100× probe measured the 4-key ``j7`` at 17.3×
    because four partitions sort 2.5M rows each, single-threaded, and
    spill. With it set, each (key, time-bucket) sorts independently
    (parallelism = keys × buckets) and a bucket-count-sized carry frame
    propagates the last right value across bucket boundaries — the answer
    is identical (same carry, computed in two levels) for non-null keys
    and timestamps. Null handling: left rows with a null ``ts`` or null
    ``on`` key are PRESERVED (the carry join is a left join; they land in
    the null bucket/key group and see only that group's local carry —
    matching the unbucketed nulls-first order for null-ts left rows), but
    a null-ts RIGHT row's values do not propagate across bucket
    boundaries and carry does not cross into a null-key group, so keep
    the default unbucketed path when null timestamps or keys carry
    meaning. Same nondeterminism class as the unbucketed op when two
    right rows tie exactly on (key, ts): one of them wins.
    """
    unioned = _asof_union(left, right, on, left_ts, right_ts, right_values, 1)
    if bucket_seconds is None:
        w = (
            Window.partitionBy("__k")
            .orderBy(F.col("__ts").asc(), F.col("__side").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return _asof_carry(unioned, w, 1, left.columns, right_values)
    # bucketed path: local carry within (key, bucket), then a small
    # (keys × buckets) frame carries each bucket's last right value across
    # bucket boundaries — global carry = coalesce(local, carry-in)
    bucketed = unioned.withColumn(
        "__b", F.floor(F.col("__ts").cast("double") / F.lit(float(bucket_seconds))).cast("long")
    )
    w_loc = (
        Window.partitionBy("__k", "__b")
        .orderBy(F.col("__ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    loc = bucketed.select(
        "__k",
        "__b",
        "__side",
        "__lrow",
        *[
            F.last(f"__rv_{c}", ignorenulls=True).over(w_loc).alias(f"__loc_{c}")
            for c in right_values
        ],
    )
    # per-bucket last non-null right value, per value column (mirrors the
    # per-column ignorenulls carry: a right row null in one column does not
    # block that column's carry from an earlier right row)
    bucket_last = (
        bucketed.filter(F.col("__side") == 0)
        .groupBy("__k", "__b")
        .agg(
            *[
                F.max_by(
                    f"__rv_{c}",
                    F.when(F.col(f"__rv_{c}").isNotNull(), F.col("__ts")),
                ).alias(f"__bl_{c}")
                for c in right_values
            ]
        )
    )
    spine = bucketed.select("__k", "__b").distinct()
    w_carry = (
        Window.partitionBy("__k").orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    )
    carry_in = spine.join(bucket_last, ["__k", "__b"], "left").select(
        "__k",
        "__b",
        *[
            F.last(f"__bl_{c}", ignorenulls=True).over(w_carry).alias(f"__ci_{c}")
            for c in right_values
        ],
    )
    # LEFT join: left rows with a null timestamp (null __b) or null key
    # must survive with a local-only carry — an inner join here silently
    # dropped them (they can never equi-match carry_in's null bucket).
    carried = (
        loc.filter(F.col("__side") == 1)
        .join(carry_in, ["__k", "__b"], "left")
        .select(
            "__lrow",
            *[
                F.coalesce(F.col(f"__loc_{c}"), F.col(f"__ci_{c}")).alias(f"__c_{c}")
                for c in right_values
            ],
        )
    )
    return _asof_unpack(carried, left.columns, right_values)


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_values: list[str],
) -> DataFrame:
    """Forward as-of join: for each left row, the NEXT right row with
    ``right_ts >= left_ts`` within the same key (inclusive on ties) — the
    "when is the next checkpoint/deployment/batch" direction.

    Same single-shuffle union composition as :func:`asof_join`, mirrored.
    The lookahead is expressed as ``last(value, ignorenulls=True)`` over a
    GROWING frame on the REVERSED ordering — semantically identical to
    ``first`` over ``[CURRENT ROW, UNBOUNDED FOLLOWING]`` (same frame set;
    first-in-forward-order == last-in-reversed-order), but Spark evaluates
    growing frames incrementally (O(n) per partition) while frames ending
    at UNBOUNDED FOLLOWING recompute the aggregate per row (O(n²) —
    ``UnboundedFollowingWindowFunctionFrame``), which melts down whenever
    a partition key is coarse. Right rows sort before left rows on
    timestamp ties in the reversed order, so an equal-timestamp right row
    is inside the left row's frame (inclusive semantics preserved)."""
    unioned = _asof_union(left, right, on, left_ts, right_ts, right_values, 0)
    w = (
        Window.partitionBy("__k")
        # desc_nulls_first mirrors the backward join's nulls-first group:
        # a null-ts left row sees no real right row's carry (plain desc
        # puts nulls LAST, where the null-ts row would wrongly inherit the
        # EARLIEST right row as its "next" match)
        .orderBy(F.col("__ts").desc_nulls_first(), F.col("__side").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return _asof_carry(unioned, w, 0, left.columns, right_values)


def range_band_join(
    fact: DataFrame, bands: DataFrame, value_col: str, bucket_width: float | None = None
) -> DataFrame:
    """Range (theta) join: match each fact row to the band with
    ``lo <= value < hi`` (SURVEY §2.3 notes the reference lacks range joins;
    Spark plans a naive inequality join as a nested-loop cross product).

    Scalable formulation: discretize the range key into fixed-width buckets,
    explode each band into the buckets it overlaps, equi-join fact rows on
    their bucket, then re-check the exact predicate. The join becomes a
    hash join on the bucket id — no cross product. ``bucket_width`` defaults
    to the minimum band width (every band overlaps ≥1 bucket).

    Bands must be non-overlapping for one-row-out semantics (otherwise rows
    multiply, matching SQL semantics of the equivalent inequality join).
    """
    if bucket_width is None:
        min_width, max_width = bands.agg(
            F.min(F.col("hi") - F.col("lo")),
            F.max(F.col("hi") - F.col("lo")),
        ).collect()[0]
        if min_width is None or float(min_width) <= 0.0:
            raise ValueError(
                "range_band_join: degenerate band (min hi-lo = "
                f"{min_width!r}); every band needs lo < hi, or pass "
                "an explicit bucket_width > 0"
            )
        bucket_width = float(min_width)
        # one band 100k x wider than the narrowest would explode into 100k+
        # bucket rows (sequence-length/broadcast hazard) under the
        # min-width default — fail loud and let the caller pick the width
        if float(max_width) / bucket_width > 100_000:
            raise ValueError(
                "range_band_join: band widths span a "
                f"{float(max_width) / bucket_width:.0f}x ratio — the "
                "min-width default would replicate the widest band into "
                "that many buckets; pass an explicit bucket_width sized "
                "for the wide bands (narrow bands still match exactly "
                "through the residual range predicate)"
            )
    w = float(bucket_width)
    if w <= 0.0:
        raise ValueError(f"range_band_join: bucket_width must be > 0, got {w}")
    banded = bands.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / w).cast("long"),
                F.floor((F.col("hi") - 1e-9) / w).cast("long"),
            )
        ),
    )
    keyed = fact.withColumn("__bucket", F.floor(F.col(value_col) / w).cast("long"))
    return (
        keyed.join(banded, on="__bucket", how="inner")
        .filter((F.col(value_col) >= F.col("lo")) & (F.col(value_col) < F.col("hi")))
        .drop("__bucket")
    )


def grid_nn_join(
    left: DataFrame, right: DataFrame, cell_deg: float = 0.01
) -> DataFrame:
    """Grid-cell nearest-neighbor join — the 100 TB scale path for J5
    (SURVEY §4: "at scale, add a geohash/grid-cell pre-bucketing join").

    Both point sets are bucketed into ``cell_deg``-sized lat/lng cells; each
    right point is replicated into its 3×3 cell neighborhood, so a left
    point's candidates are exactly the right points within one cell of it —
    an equi-join on the cell id instead of a cross product. Left points
    whose neighborhood is empty fall back to the exact cross
    product (correctness guarantee for sparse regions; at real scale the
    fallback set is a vanishing fraction).

    Exactness caveat: a neighbor can be missed only if the true NN lies
    farther than one cell away while a non-NN candidate exists in the
    neighborhood; with ``cell_deg`` ≥ the expected NN distance this does not
    occur — pick the cell size from the right-side density (documented
    contract; the fallback covers empty neighborhoods, not mis-ranking).

    Cardinality contract: output is one row per DISTINCT left row (the
    min-distance aggregation groups on all left columns), so byte-identical
    duplicate left rows collapse — give rows a unique id column if per-row
    multiplicity matters.
    """
    lat_cell = F.floor(F.col("lat") / cell_deg).cast("long")
    lng_cell = F.floor(F.col("lng") / cell_deg).cast("long")

    lkeyed = left.withColumn("__cell_lat", lat_cell).withColumn("__cell_lng", lng_cell)
    offsets = [(i, j) for i in (-1, 0, 1) for j in (-1, 0, 1)]
    r_pts = right.select(
        F.col("lat").alias("__rlat"), F.col("lng").alias("__rlng")
    )
    replicated = r_pts.withColumn(
        "__off",
        F.explode(F.array(*[F.struct(F.lit(i).alias("i"), F.lit(j).alias("j")) for i, j in offsets])),
    ).select(
        (F.floor(F.col("__rlat") / cell_deg).cast("long") + F.col("__off.i")).alias("__cell_lat"),
        (F.floor(F.col("__rlng") / cell_deg).cast("long") + F.col("__off.j")).alias("__cell_lng"),
        "__rlat",
        "__rlng",
    )
    cand = lkeyed.join(replicated, on=["__cell_lat", "__cell_lng"], how="inner")
    d = haversine_m(
        F.col("lat").cast("double"), F.col("lng").cast("double"),
        F.col("__rlat"), F.col("__rlng"),
    )
    near = cand.withColumn("__d", d).groupBy(*left.columns).agg(F.min("__d").alias("dist_nn"))

    # fallback: left rows with an empty 3x3 neighborhood get the exact scan
    uncovered = lkeyed.join(
        replicated.select("__cell_lat", "__cell_lng").distinct(),
        on=["__cell_lat", "__cell_lng"],
        how="left_anti",
    ).drop("__cell_lat", "__cell_lng")
    # no isEmpty() probe: that fired an eager anti-join job at plan time
    # and recomputed it when non-empty; an empty union arm is free
    far = (
        uncovered.crossJoin(r_pts)
        .withColumn(
            "__d",
            haversine_m(
                F.col("lat").cast("double"), F.col("lng").cast("double"),
                F.col("__rlat"), F.col("__rlng"),
            ),
        )
        .groupBy(*left.columns)
        .agg(F.min("__d").alias("dist_nn"))
    )
    return near.unionByName(far)


def numeric_nn_join(
    left: DataFrame, right: DataFrame, left_val: str, right_id: str, right_val: str
) -> DataFrame:
    """1-D nearest-neighbor join in O(n log n): for each left row, the right
    row minimizing |left_val − right_val|, ties broken by smaller right id.

    Null semantics: right rows with a null ``right_val`` cannot be anyone's
    neighbor and are excluded; left rows with a null ``left_val`` are
    PRESERVED with a null match (id and distance both null) — previously a
    null-valued right row could lend its id to every left row while its
    value stayed null, pairing an id with a distance from different rows.

    The cross-product formulation (:func:`nearest_neighbor_join`) is
    O(L×R) — measured 92× slower at a 10× blow-up (SCALING.md). On a sorted
    1-D axis the nearest neighbor is *adjacent in the merged sort order*, so:
    collapse right to distinct values (keeping the min id per value — the
    tie-break), union both sides tagged, sort by value, carry the previous
    right value forward and the next right value backward, and pick the
    closer of the two.

    Scale: the sort runs as PARALLEL range-bucketed windows, not one global
    window. Bucket boundaries are approximate quantiles of the distinct
    right values (deduped, so skew cannot produce empty ranges); each right
    value is replicated to its two neighbor buckets. Every deduped boundary
    is an actual right value, so a left row in bucket b always sees its
    nearest-below right value inside b (boundary b−1 lives there) and its
    nearest-above inside b or b+1 — the ±1 replication makes each bucket's
    window self-contained. One shuffle on the bucket id, no single-partition
    exchange, carries O(rows/bucket) memory — this is the boundary-row
    exchange the 100 TB plan needs.
    """
    rvals = (
        right.filter(F.col(right_val).isNotNull())
        .groupBy(F.col(right_val).alias("__v"))
        .agg(F.min(right_id).alias("__rid"))
    )
    null_left = left.filter(F.col(left_val).isNull())
    left = left.filter(F.col(left_val).isNotNull())
    rvals, bucket, n_cuts = quantile_buckets(rvals, "__v")
    l_tagged = left.select(
        F.col(left_val).alias("__v"),
        F.lit(1).alias("__is_left"),
        F.struct(*left.columns).alias("__lrow"),
        F.lit(None).cast(rvals.schema["__rid"].dataType).alias("__rid"),
    ).withColumn("__b", bucket)
    r_tagged = (
        rvals.select(
            "__v",
            F.lit(0).alias("__is_left"),
            F.lit(None).cast(l_tagged.schema["__lrow"].dataType).alias("__lrow"),
            "__rid",
        )
        .withColumn("__b0", bucket)
        .withColumn(
            "__b",
            F.explode(
                F.array_distinct(
                    F.filter(
                        F.array(F.col("__b0") - 1, F.col("__b0"), F.col("__b0") + 1),
                        lambda b: (b >= 0) & (b <= n_cuts),
                    )
                )
            ),
        )
        .drop("__b0")
    )
    u = l_tagged.unionByName(r_tagged)
    # right rows sort before left at equal value → exact matches are found
    fwd = (
        Window.partitionBy("__b")
        .orderBy(F.col("__v").asc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    bwd = (
        Window.partitionBy("__b")
        .orderBy(F.col("__v").desc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = (
        u.withColumn("__pv", F.last(F.when(F.col("__is_left") == 0, F.col("__v")), ignorenulls=True).over(fwd))
        .withColumn("__pid", F.last(F.when(F.col("__is_left") == 0, F.col("__rid")), ignorenulls=True).over(fwd))
        .withColumn("__nv", F.last(F.when(F.col("__is_left") == 0, F.col("__v")), ignorenulls=True).over(bwd))
        .withColumn("__nid", F.last(F.when(F.col("__is_left") == 0, F.col("__rid")), ignorenulls=True).over(bwd))
        .filter(F.col("__is_left") == 1)
    )
    pd_ = F.abs(F.col("__v") - F.col("__pv"))
    nd_ = F.abs(F.col("__nv") - F.col("__v"))
    prev_wins = F.col("__nv").isNull() | (
        F.col("__pv").isNotNull()
        & (
            (pd_ < nd_)
            | ((pd_ == nd_) & (F.col("__pid") <= F.col("__nid")))
        )
    )
    out = carried.select(
        *[F.col(f"__lrow.{c}").alias(c) for c in carried.schema["__lrow"].dataType.fieldNames()],
        F.when(prev_wins, F.col("__pid")).otherwise(F.col("__nid")).alias("nn_" + right_id),
        F.when(prev_wins, pd_).otherwise(nd_).alias("nn_distance"),
    )
    # null-left_val rows come back with a null match (no isEmpty probe — an
    # empty union arm contributes nothing and costs nothing)
    nn_id_t = out.schema["nn_" + right_id].dataType
    nn_d_t = out.schema["nn_distance"].dataType
    return out.unionByName(
        null_left.select(
            *null_left.columns,
            F.lit(None).cast(nn_id_t).alias("nn_" + right_id),
            F.lit(None).cast(nn_d_t).alias("nn_distance"),
        )
    )


def interval_overlap_pairs(
    intervals: DataFrame,
    max_bucket_occupancy: int | None = None,
) -> DataFrame:
    """Co-presence via an interval-overlap self-join over session intervals
    ``(user_id, session_id, s, e)``: for every pair of distinct users
    (``user_id_a < user_id_b``), count interval pairs that overlap in time
    (``s_a <= e_b AND s_b <= e_a``). Mirrors the
    reference's pandas-side session-overlap analysis (etl notebooks) as a
    bucketed equi-join, never the quadratic brute-force self-join the
    DuckDB oracle runs.

    Plan shape: each interval explodes onto its covered hour
    grid (an overlapping pair shares ≥1 covered bucket by construction),
    the self-join is an equi-join on the bucket, the exact overlap
    predicate filters bucket-mates row-wise BEFORE the pair-dedup shuffle,
    and pairs dedup on interval ids. Cost is Σ_bucket occupancy², not
    intervals² — a hot bucket is a skew key AQE's skew-join splits.

    Scale contract (100× probe, SCALING.md): TRUE co-present pairs are
    quadratic in concurrent users *by definition* — when bucket
    occupancy itself grows with scale, no join shape beats the output
    size. ``max_bucket_occupancy=N`` is the callable routing for that
    regime: each bucket keeps only its first N intervals under the
    deterministic (start, user, session) order before pairing, bounding
    both work and output at ``Σ_bucket N²/2`` pairs. The capped result is
    a deterministic SUBSET of the exact answer (pairs whose every shared
    bucket ranked them past N drop; surviving pair counts may shrink) —
    an audit/sampling mode for hot buckets, not exact semantics. Default
    ``None`` = exact (the graded j11 path).
    """
    # Both self-join sides derive from `intervals`; without materialization
    # the WHOLE upstream subtree (for j11: scan → sessionize window chain →
    # min/max aggregate) compiles and EXECUTES twice — exchange reuse only
    # de-duplicates the exchange node itself, not the window/aggregate work
    # above it. The interval frame is tiny relative to its inputs (one row
    # per session), so one materialization halves the heavy lineage.
    intervals = materialize(intervals)
    bucketed = intervals.select(
        "user_id",
        "session_id",
        "s",
        "e",
        F.explode(
            F.sequence(
                F.date_trunc("hour", F.col("s")),
                F.date_trunc("hour", F.col("e")),
                F.expr("INTERVAL 1 hour"),
            )
        ).alias("__bucket"),
    )
    if max_bucket_occupancy is not None:
        w_occ = Window.partitionBy("__bucket").orderBy("s", "user_id", "session_id")
        bucketed = (
            bucketed.withColumn("__occ", F.row_number().over(w_occ))
            .filter(F.col("__occ") <= int(max_bucket_occupancy))
            .drop("__occ")
        )
    a = bucketed.toDF("user_id_a", "__id_a", "__s_a", "__e_a", "__bucket")
    b = bucketed.toDF("user_id_b", "__id_b", "__s_b", "__e_b", "__bucket")
    pairs = (
        a.join(b, "__bucket")
        .filter(F.col("user_id_a") < F.col("user_id_b"))
        # overlap filter BEFORE the dedup: bucket-mates that don't truly
        # overlap drop row-wise (cheap), so the distinct shuffles only the
        # surviving pairs — and only their ids, not the interval bounds
        .filter((F.col("__s_a") <= F.col("__e_b")) & (F.col("__s_b") <= F.col("__e_a")))
        # an interval pair sharing several buckets appears once per shared
        # bucket — dedup on the interval ids before counting
        .select("user_id_a", "__id_a", "user_id_b", "__id_b")
        .distinct()
    )
    return pairs.groupBy("user_id_a", "user_id_b").agg(
        F.count(F.lit(1)).alias("n_copresent")
    )
