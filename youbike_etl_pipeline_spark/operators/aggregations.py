"""Aggregation operators (SURVEY §2.4 A1-A12).

All hash aggregations — Spark plans partial (map-side) + final stages
automatically, so each op is one shuffle on its grouping key regardless of
input size. Pivots always receive explicit value lists (unbounded pivot
cardinality is a driver-side collect — SURVEY §7 risk register).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def floor_quantize6(c: Column) -> Column:
    """Tie-free 6-dp output quantization: FLOOR, not ROUND.

    Rational quotients of integer/money sums land on exact .5 ties at any
    ROUND scale, and half-rule behavior is an engine/version detail; FLOOR
    is deterministic everywhere. The single shared definition — corpus.q6,
    dedup, and similarity all import this so Spark/DuckDB hash parity can't
    drift between copies. SQL mirror: ``corpus.SQL_Q6``.
    """
    return F.floor(c * F.lit(1000000.0)).cast("double") / F.lit(1000000.0)


def decimal_sum(col: Column | str, scale: int = 6) -> Column:
    """Order-insensitive exact sum of a double column.

    Double addition is non-associative, so a plain ``sum`` over a shuffled
    100 TB table is run-to-run nondeterministic in the low bits. Casting to
    decimal first makes the sum exact and associative (deterministic across
    partitionings and engines), then the result returns to double.

    Portability bound: the double→decimal cast is only engine-portable while
    ``|x| · 10^scale < 2^53`` — above that, engines that convert via double
    multiplication diverge in the last tick. For sums of powers (x², x³, …)
    use :func:`decimal_pow_sum`, which squares *in decimal* instead of
    casting a large product.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(27,{scale})")).cast("double")


#: base decimal (precision, scale) per power such that the k-fold decimal
#: product stays within decimal(38, _): 2→(18,6), 3→(12,4), 4→(8,3).
_POW_BASE = {1: (27, 6), 2: (18, 6), 3: (12, 4), 4: (8, 3)}


def decimal_pow_sum(col: Column | str, k: int) -> Column:
    """Exact, engine-portable Σxᵏ: cast x to a decimal sized for k-fold
    multiplication, take the power in exact decimal arithmetic, sum, floor
    to an integer, return double.

    Three portability traps this sidesteps: (1) casting an already-computed
    double power to decimal hits the 2^53 bound (see :func:`decimal_sum`);
    (2) a decimal→double cast is only correctly rounded when the scaled
    integer fits 2^53 *or* the value is integral (a single int→double
    conversion); (3) scale-reduction *rounding* modes differ across engines
    (Spark HALF_UP vs DuckDB) and exact .5 ties are common for fixed-decimal
    inputs — so the sum is FLOORED to an integer, which is tie-free. The
    dropped fraction is ≤1 unit on a sum whose magnitude dwarfs it; for
    small-magnitude value columns, scale the variable up first.
    """
    c = F.col(col) if isinstance(col, str) else col
    prec, sc = _POW_BASE[k]
    base = c.cast(f"decimal({prec},{sc})")
    prod = base
    for _ in range(k - 1):
        prod = prod * base
    return F.floor(F.sum(prod)).cast("double")


def decimal_avg(col: Column | str) -> Column:
    """Deterministic mean: exact decimal sum, then a single double division
    (both steps order-insensitive and engine-portable)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(27,6)")).cast("double") / F.count(c)


def decimal_avg_q4(col: Column | str) -> Column:
    """Quantized mean for DERIVED double columns (differences, products,
    window results): floor(x·10⁴) summed exactly, then /count/10⁴.

    Why not :func:`decimal_avg`: engines that implement double→decimal by
    multiplying in double flip the rounded tick with probability
    ≈ |x|·10^scale / 2^53 per row — a *per-row-count* budget. At scale 6 a
    ~500-magnitude derived value flips ~once per 20k rows (observed at
    sf0.1); at scale 4 the window shrinks 100× (safe to ~10⁸ rows). Source
    columns with short decimal expansions don't hit this; derived values
    with full 53-bit expansions do. The mean is quantized at 1e-4 —
    identical in both engines by construction.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(F.floor(c * 10000).cast("decimal(27,0)")).cast("double")
        / F.count(c)
        / 10000.0
    )


def group_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    shortage_threshold: float = 0.1,
    full_threshold: float = 0.9,
) -> DataFrame:
    """The reference's 6-metric aggregate-UDF ``get_stats_summary`` (A1-A4,
    §2.9) as one hash aggregation: mean/std/count + conditional rates
    (fraction below/above thresholds) + coefficient of variation
    (``notebooks/01_youbike_analysis.ipynb:L280-L295,L310-L311``).
    Deterministic across partitionings: the mean is :func:`decimal_avg`,
    std and cv are rounded to 6 dp, and cv divides the unrounded std."""
    v = F.col(value_col)
    return df.groupBy(group_col).agg(
        decimal_avg(v).alias("mean"),
        F.round(F.stddev_samp(v), 6).alias("std"),
        F.count(v).alias("n"),
        F.avg(F.when(v < shortage_threshold, 1.0).otherwise(0.0)).alias("shortage_rate"),
        F.avg(F.when(v > full_threshold, 1.0).otherwise(0.0)).alias("full_rate"),
        F.round(F.stddev_samp(v) / decimal_avg(v), 6).alias("cv"),
    )


#: per-group row count above which exact ``percentile`` is swapped for
#: ``percentile_approx``: Spark's exact percentile is an ObjectHashAggregate
#: that buffers EVERY group value in executor aggregation memory (~16 B/row
#: plus collection overhead), so a 2M-row group costs ~100 MB of heap per
#: reducer — fine at graded scale, an OOM at a 100 TB fact table where a
#: group holds billions of rows. percentile_approx (Greenwald-Khanna) is
#: O(accuracy·log n) memory at a bounded rank error of 1/accuracy. Same
#: size-based routing pattern as ``connected_components`` /
#: ``embedding_near_dup_pairs``.
EXACT_PERCENTILE_MAX_GROUP_ROWS = 2_000_000

#: rank-error bound for the approx path: 1/accuracy of the rank, i.e. the
#: returned value's rank is within n/10000 of the requested one.
APPROX_PERCENTILE_ACCURACY = 10_000


def quantile_cols(
    value_col: str,
    probs: list[float],
    aliases: list[str],
    exact: bool,
    round_to: int | None = 6,
) -> list[Column]:
    """Quantile aggregate expressions: exact ``percentile`` (linear
    interpolation — matches DuckDB ``quantile_cont``, the oracle-parity
    path) or bounded-memory ``percentile_approx`` (the ≥100× scale path)."""
    fn = "percentile" if exact else "percentile_approx"
    cols = []
    for p, name in zip(probs, aliases):
        e = F.expr(
            f"{fn}({value_col}, {p})"
            if exact
            else f"{fn}({value_col}, {p}, {APPROX_PERCENTILE_ACCURACY})"
        )
        if round_to is not None:
            e = F.round(e, round_to)
        cols.append(e.alias(name))
    return cols


def route_exact_percentile(
    df: DataFrame, group_cols: list[str], exact_max_group_rows: int | None
) -> bool:
    """True → exact percentile is safe: the largest group's value buffer
    fits executor aggregation memory. One cheap counting job, mirroring the
    edge-count probe in ``connected_components``."""
    if exact_max_group_rows is None:
        return True  # caller pinned the exact path (oracle parity)
    if exact_max_group_rows <= 0:
        return False
    if group_cols:
        largest = (
            df.groupBy(*group_cols)
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
    else:
        largest = df.count()
    return (largest or 0) <= exact_max_group_rows


def describe_block(
    df: DataFrame,
    value_col: str,
    exact_max_rows: int | None = EXACT_PERCENTILE_MAX_GROUP_ROWS,
) -> DataFrame:
    """Descriptive-stats block (A3): count/mean/std/min/25%/50%/75%/max —
    ``data.describe()`` equivalent (``notebooks/01_youbike_analysis.ipynb:L281``).

    Size-routed: exact ``percentile`` below ``exact_max_rows`` input rows
    (linear interpolation, matches pandas/duckdb ``quantile_cont``),
    ``percentile_approx`` above it — the exact path buffers the whole column
    per aggregation buffer and cannot survive a 100 TB scan. ``None`` pins
    exact."""
    v = F.col(value_col)
    exact = route_exact_percentile(df, [], exact_max_rows)
    q25, med, q75 = quantile_cols(
        value_col, [0.25, 0.5, 0.75], ["q25", "median", "q75"], exact, round_to=None
    )
    return df.agg(
        F.count(v).alias("n"),
        F.avg(v).alias("mean"),
        F.stddev_samp(v).alias("std"),
        F.min(v).alias("min"),
        q25,
        med,
        q75,
        F.max(v).alias("max"),
    )


def group_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    probs: list[float],
    aliases: list[str],
    exact_max_group_rows: int | None = EXACT_PERCENTILE_MAX_GROUP_ROWS,
    round_to: int | None = 6,
) -> DataFrame:
    """Per-group quantiles (M10b/A3 grouped form), size-routed between exact
    ``percentile`` and ``percentile_approx`` on the largest group's row
    count. The graded corpus stays on the exact path (groups ≪ threshold);
    a 100 TB run flips to bounded-memory sketches automatically."""
    exact = route_exact_percentile(df, group_cols, exact_max_group_rows)
    return df.groupBy(*group_cols).agg(
        *quantile_cols(value_col, probs, aliases, exact, round_to=round_to)
    )


def top1_per_group(df: DataFrame, group_col: str, count_col: str) -> DataFrame:
    """Mode / top-1-by-frequency per group (A5): count then keep the
    highest-count value per group, ties broken by value ascending for
    determinism (reference ``value_counts().idxmax()``,
    ``notebooks/05_multistation_lstm.ipynb:L134``)."""
    counts = df.groupBy(group_col, count_col).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy(group_col).orderBy(F.col("cnt").desc(), F.col(count_col).asc())
    return counts.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def pivot_profile(
    df: DataFrame, index_col: str, pivot_col: str, value_col: str, pivot_values: list
) -> DataFrame:
    """Pivot matrix (A6): ``groupBy(index).pivot(col, values).avg(value)``
    with explicit pivot values and zero fill — the station×hour profile
    (``notebooks/01_youbike_analysis.ipynb:L659``). Explicit values keep the
    plan static (no pre-scan collect) at any scale."""
    return (
        df.groupBy(index_col)
        .pivot(pivot_col, pivot_values)
        .agg(F.avg(value_col))
        .na.fill(0.0)
    )


def crosstab_counts(
    df: DataFrame, row_col: str, col_col: str, col_values: list
) -> DataFrame:
    """Contingency table (A7): counts pivoted wide
    (reference ``pd.crosstab``, ``notebooks/01_youbike_analysis.ipynb:L972``)."""
    return (
        df.groupBy(row_col)
        .pivot(col_col, col_values)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


def crosstab_normalized(df: DataFrame, row_col: str, col_col: str) -> DataFrame:
    """Row-normalized contingency shares (A7, ``normalize='index'`` —
    ``notebooks/01_youbike_analysis.ipynb:L688``), long form: count per cell
    divided by the row total via a window sum."""
    counts = df.groupBy(row_col, col_col).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy(row_col)
    return counts.withColumn("share", F.col("cnt") / F.sum("cnt").over(w)).drop("cnt")


def crosstab_with_totals(df: DataFrame, row_col: str, col_col: str, col_values: list) -> DataFrame:
    """Crosstab plus row totals (A8): reference ``cross_table.sum(axis=1)``
    (``notebooks/01_youbike_analysis.ipynb:L1013``)."""
    wide = crosstab_counts(df, row_col, col_col, col_values)
    total = None
    for v in col_values:
        c = F.col(str(v))
        total = c if total is None else total + c
    return wide.withColumn("row_total", total)


def argmax_hour(df: DataFrame, index_col: str, hour_cols: list[str]) -> DataFrame:
    """Arg-max over pivoted columns (A10): peak hour of a 24-wide profile via
    ``array_position(arr, array_max(arr))`` (reference ``idxmax`` over
    cluster centroids, ``notebooks/01_youbike_analysis.ipynb:L669``).
    Returns the *first* max position (1-based into ``hour_cols``)."""
    arr = F.array(*[F.col(c).cast("double") for c in hour_cols])
    return df.select(
        index_col,
        (F.array_position(arr, F.array_max(arr)) - 1).cast("int").alias("peak_index"),
    )
