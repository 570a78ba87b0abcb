"""Closed-form statistical inference over distributed sufficient statistics
(SURVEY §2.7 M1-M6, M9).

The reference runs scipy/statsmodels on in-memory arrays
(``notebooks/01_youbike_analysis.ipynb`` Parts B/D/E). At 100 TB that is
impossible — but every one of these tests needs only per-group sufficient
statistics (n, Σx, Σx², …), which are one hash aggregation. The test
statistic itself is then scalar column math over a tiny (groups-count-sized)
frame. Everything stays a DataFrame (no collect on the data path); p-values
need distribution quantiles, so the driver-side helpers use scipy when
available (import-gated) on the already-tiny result.

Determinism: sums are exact (decimal-cast — see
:func:`..operators.aggregations.decimal_sum`), and derived statistics apply a
fixed IEEE op sequence over those exact inputs, so results are bit-identical
across partitionings and engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.aggregations import decimal_pow_sum, decimal_sum
from ..operators.skew import hash_sample, quantile_buckets

try:  # pragma: no cover - optional, driver-side p-values only
    from scipy import stats as _scipy_stats
except ImportError:  # pragma: no cover
    _scipy_stats = None


def _suffstats(df: DataFrame, group_col: str | None, value_col: str) -> DataFrame:
    """Per-group (n, Σx, Σx²) with exact sums; the base of every test here.
    One hash aggregation = one shuffle on ``group_col``."""
    v = F.col(value_col)
    keys = [group_col] if group_col else []
    grouped = df.groupBy(*keys) if keys else df.groupBy()
    return grouped.agg(
        F.count(v).alias("n"),
        decimal_sum(v).alias("sx"),
        decimal_pow_sum(v, 2).alias("sxx"),
    )


def _mean(n: Column, sx: Column) -> Column:
    return sx / n


def _var_samp(n: Column, sx: Column, sxx: Column) -> Column:
    """Sample variance from sufficient sums: (Σx² − (Σx)²/n) / (n−1)."""
    return (sxx - sx * sx / n) / (n - 1)


def group_confidence_intervals(
    df: DataFrame, group_col: str, value_col: str, kpi: float | None = None
) -> DataFrame:
    """Per-group mean ± CI half-width, with optional KPI classification (M1).

    Reference builds a per-district forest plot: mean, SEM, Student-t 95% CI,
    Pass/Warn/Fail vs KPI 0.30 (``notebooks/01_youbike_analysis.ipynb:
    L405-L431``). Here the critical value is a constant column (normal
    approximation by default — exact for the reference's n≈10⁵ groups); pass
    a Student-t quantile for small groups (scipy driver-side, group count is
    tiny). Status bands mirror the reference: Fail if the upper bound is
    below KPI, Pass if the lower bound is above, else Warn.
    """
    s = _suffstats(df, group_col, value_col)
    mean = _mean(F.col("n"), F.col("sx"))
    sem = F.sqrt(_var_samp(F.col("n"), F.col("sx"), F.col("sxx")) / F.col("n"))
    out = s.select(
        group_col,
        F.col("n"),
        mean.alias("mean"),
        sem.alias("sem"),
        (mean - 1.959963984540054 * sem).alias("ci_lo"),
        (mean + 1.959963984540054 * sem).alias("ci_hi"),
    )
    if kpi is not None:
        out = out.withColumn(
            "status",
            F.when(F.col("ci_hi") < kpi, F.lit("Fail"))
            .when(F.col("ci_lo") > kpi, F.lit("Pass"))
            .otherwise(F.lit("Warn")),
        )
    return out


def welch_ttest(
    df: DataFrame, group_col: str, value_col: str, group_a: str, group_b: str
) -> DataFrame:
    """Welch two-sample t-test + Cohen's d as a single-row DataFrame (M2/M3).

    Reference: ``stats.ttest_ind(..., equal_var=False)`` + pooled-variance
    Cohen's d (``notebooks/01_youbike_analysis.ipynb:L557-L581``). One pass:
    conditional sufficient sums for both groups, then the closed forms

        t  = (m_a − m_b) / sqrt(v_a/n_a + v_b/n_b)
        df = (v_a/n_a + v_b/n_b)² / [ (v_a/n_a)²/(n_a−1) + (v_b/n_b)²/(n_b−1) ]
        d  = (m_a − m_b) / sqrt(((n_a−1)v_a + (n_b−1)v_b) / (n_a+n_b−2))

    Use :func:`p_value_t` on the collected row for the p-value.
    """
    v = F.col(value_col)
    g = F.col(group_col)
    a, b = F.when(g == group_a, v), F.when(g == group_b, v)
    s = df.agg(
        F.count(a).alias("n_a"),
        decimal_sum(a).alias("sx_a"),
        decimal_pow_sum(a, 2).alias("sxx_a"),
        F.count(b).alias("n_b"),
        decimal_sum(b).alias("sx_b"),
        decimal_pow_sum(b, 2).alias("sxx_b"),
    )
    m_a, m_b = _mean(F.col("n_a"), F.col("sx_a")), _mean(F.col("n_b"), F.col("sx_b"))
    v_a = _var_samp(F.col("n_a"), F.col("sx_a"), F.col("sxx_a"))
    v_b = _var_samp(F.col("n_b"), F.col("sx_b"), F.col("sxx_b"))
    se2 = v_a / F.col("n_a") + v_b / F.col("n_b")
    t = (m_a - m_b) / F.sqrt(se2)
    wdf = (se2 * se2) / (
        (v_a / F.col("n_a")) ** 2 / (F.col("n_a") - 1)
        + (v_b / F.col("n_b")) ** 2 / (F.col("n_b") - 1)
    )
    pooled = ((F.col("n_a") - 1) * v_a + (F.col("n_b") - 1) * v_b) / (
        F.col("n_a") + F.col("n_b") - 2
    )
    d = (m_a - m_b) / F.sqrt(pooled)
    return s.select(
        F.col("n_a"),
        m_a.alias("mean_a"),
        v_a.alias("var_a"),
        F.col("n_b"),
        m_b.alias("mean_b"),
        v_b.alias("var_b"),
        t.alias("t_stat"),
        wdf.alias("welch_df"),
        d.alias("cohens_d"),
    )


def anova_oneway(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """One-way ANOVA F statistic + η² as a single-row DataFrame (M4).

    Reference: ``ols(...).fit()`` + ``anova_lm`` + η² = SSB/(SSB+SSW)
    (``notebooks/01_youbike_analysis.ipynb:L842-L844``). Closed form from
    per-group sufficient sums re-aggregated exactly:

        SSB = Σ_g (Σx_g)²/n_g − (Σx)²/N ;  SSW = Σx² − Σ_g (Σx_g)²/n_g
    """
    s = _suffstats(df, group_col, value_col)
    # re-aggregation over the tiny per-group frame: sxx/sg magnitudes can
    # exceed the scale-6 portability bound, so they use scale 0 (their
    # fractional part is noise at SSW/SSB magnitude anyway)
    totals = s.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("N"),
        decimal_sum(F.col("sx"), 6).alias("sx_tot"),
        decimal_sum(F.col("sxx"), 0).alias("sxx_tot"),
        decimal_sum(F.floor(F.col("sx") * F.col("sx") / F.col("n")), 0).alias("sg"),
    )
    ssb = F.col("sg") - F.col("sx_tot") * F.col("sx_tot") / F.col("N")
    ssw = F.col("sxx_tot") - F.col("sg")
    f_stat = (ssb / (F.col("k") - 1)) / (ssw / (F.col("N") - F.col("k")))
    return totals.select(
        F.col("k"),
        F.col("N"),
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
        f_stat.alias("f_stat"),
        (ssb / (ssb + ssw)).alias("eta_sq"),
        (F.col("k") - 1).alias("df_between"),
        (F.col("N") - F.col("k")).alias("df_within"),
    )


def tukey_hsd_pairs(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Tukey-HSD pairwise scaffold (M5): all group pairs with mean difference
    and the HSD standard error sqrt(MSW/2 · (1/n_i + 1/n_j)).

    Reference: ``pairwise_tukeyhsd`` (``notebooks/01_youbike_analysis.ipynb:
    L851-L853``). The studentized-range critical value q(α, k, df) is not
    SQL-expressible — apply :func:`q_critical` driver-side to the (k·(k−1)/2)-
    row result to finish the test.
    """
    s = _suffstats(df, group_col, value_col)
    msw_row = s.agg(
        (
            (decimal_sum(F.col("sxx"), 0) - decimal_sum(F.floor(F.col("sx") * F.col("sx") / F.col("n")), 0))
            / (F.sum("n") - F.count(F.lit(1)))
        ).alias("msw")
    )
    a = s.select(
        F.col(group_col).alias("group_i"), F.col("n").alias("n_i"), (_mean(F.col("n"), F.col("sx"))).alias("mean_i")
    )
    b = s.select(
        F.col(group_col).alias("group_j"), F.col("n").alias("n_j"), (_mean(F.col("n"), F.col("sx"))).alias("mean_j")
    )
    pairs = a.crossJoin(b).filter(F.col("group_i") < F.col("group_j")).crossJoin(msw_row)
    return pairs.select(
        "group_i",
        "group_j",
        "n_i",
        "n_j",
        (F.col("mean_j") - F.col("mean_i")).alias("mean_diff"),
        F.sqrt(F.col("msw") / 2 * (1 / F.col("n_i") + 1 / F.col("n_j"))).alias("se_hsd"),
    )


def chi_square_independence(df: DataFrame, row_col: str, col_col: str) -> DataFrame:
    """Chi-square independence inputs in long form (M6): per-cell observed,
    expected, standardized residual — plus the χ² total, Cramér's V and dof
    replicated on every row (window grand totals keep it one DataFrame).

    Reference: ``chi2_contingency`` + ``V = sqrt(chi2/(n·min_dim))`` +
    residuals ``(obs-exp)/sqrt(exp)``
    (``notebooks/01_youbike_analysis.ipynb:L975-L998``).
    """
    from pyspark.sql import Window

    obs = df.groupBy(row_col, col_col).agg(F.count(F.lit(1)).alias("observed"))
    w_all = Window.partitionBy()
    w_row = Window.partitionBy(row_col)
    w_col = Window.partitionBy(col_col)
    n = F.sum("observed").over(w_all)
    expected = (
        F.sum("observed").over(w_row) * F.sum("observed").over(w_col) / n
    )
    cell = obs.select(
        row_col,
        col_col,
        "observed",
        expected.alias("expected"),
        n.alias("n_total"),
    ).withColumn("residual", (F.col("observed") - F.col("expected")) / F.sqrt("expected"))
    # χ² as an exact associative sum (residual² floor-quantized at 1e-8 and
    # summed in decimal): a raw double window-sum is partition-order
    # dependent, so its low bits vary with shuffle layout/thread count
    chi2 = (
        F.sum(
            F.floor(F.col("residual") * F.col("residual") * F.lit(100000000.0)).cast(
                "decimal(27,0)"
            )
        )
        .over(w_all)
        .cast("double")
        / F.lit(100000000.0)
    )
    r_cnt = F.size(F.collect_set(row_col).over(w_all))
    c_cnt = F.size(F.collect_set(col_col).over(w_all))
    return (
        cell.withColumn("chi2", chi2)
        .withColumn("dof", ((r_cnt - 1) * (c_cnt - 1)).cast("long"))
        .withColumn(
            "cramers_v",
            F.sqrt(F.col("chi2") / (F.col("n_total") * (F.least(r_cnt, c_cnt) - 1))),
        )
    )


def moment_stats(df: DataFrame, group_col: str | None, value_col: str) -> DataFrame:
    """Skewness/kurtosis from exact central-moment expansion (M9).

    Population (g1/g2) definitions, matching Spark's builtin ``skewness`` /
    ``kurtosis`` — but expanded from exact decimal power sums so the result
    is engine-portable bit-for-bit (builtins differ in merge order):

        m_k = E[xᵏ] central;  skew = m3/m2^1.5 ;  kurt = m4/m2² − 3
    """
    v = F.col(value_col)
    keys = [group_col] if group_col else []
    grouped = df.groupBy(*keys) if keys else df.groupBy()
    s = grouped.agg(
        F.count(v).alias("n"),
        decimal_sum(v).alias("s1"),
        decimal_pow_sum(v, 2).alias("s2"),
        decimal_pow_sum(v, 3).alias("s3"),
        decimal_pow_sum(v, 4).alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1") / n
    e2, e3, e4 = F.col("s2") / n, F.col("s3") / n, F.col("s4") / n
    m2 = e2 - mu * mu
    m3 = e3 - 3 * mu * e2 + 2 * mu * mu * mu
    m4 = e4 - 4 * mu * e3 + 6 * mu * mu * e2 - 3 * mu * mu * mu * mu
    return s.select(
        *keys,
        n.alias("n"),
        mu.alias("mean"),
        m2.alias("m2"),
        (m3 / F.pow(m2, 1.5)).alias("skewness"),
        (m4 / (m2 * m2) - 3).alias("kurtosis"),
    )


def _bucketed_prefix_sums(
    per_value: DataFrame, cols: list[str], inclusive: bool
) -> tuple[DataFrame, DataFrame]:
    """The two-phase prefix sum of ``cols`` over ``per_value``'s rows in
    ``v`` order, with no single-partition sort over the value domain:
    quantile_buckets' range buckets ``__b`` over the distinct values (one
    hash shuffle on the bucket id), running sums within each bucket, and
    per-bucket offsets from a window over the bucket-totals frame
    (≤ n_buckets rows, where one partition is free).

    Returns ``(cum, offsets)`` to join on ``__b`` (broadcast ``offsets``).
    ``cum`` is ``per_value`` plus ``__b`` and, per ``c`` of ``cols``,
    ``cum_<c>``: the sum over the bucket's rows before this ``v``, or
    through it when ``inclusive``. ``offsets`` holds per bucket
    ``off_<c>``, the sum over every earlier bucket, and ``n_<c>``, the sum
    over all rows (the optimizer drops the window of a sum no caller
    reads)."""
    from pyspark.sql import Window

    per_value, bucket, _ = quantile_buckets(per_value, "v")
    bucketed = per_value.withColumn("__b", bucket)
    w_intra = (
        Window.partitionBy("__b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    )
    intra = {c: F.sum(c).over(w_intra) for c in cols}
    if not inclusive:
        intra = {c: F.coalesce(s, F.lit(0)) for c, s in intra.items()}
    cum = bucketed.select(
        *per_value.columns, "__b", *(s.alias(f"cum_{c}") for c, s in intra.items())
    )
    bucket_totals = bucketed.groupBy("__b").agg(
        *(F.sum(c).alias(f"tot_{c}") for c in cols)
    )
    w_off = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    off = {c: F.coalesce(F.sum(f"tot_{c}").over(w_off), F.lit(0)) for c in cols}
    everything = Window.partitionBy()
    offsets = bucket_totals.select(
        "__b",
        *(s.alias(f"off_{c}") for c, s in off.items()),
        *(F.sum(f"tot_{c}").over(everything).alias(f"n_{c}") for c in cols),
    )
    return cum, offsets


def ks_two_sample(
    df: DataFrame, group_col: str, value_col: str, group_a: str
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic: group_a vs the rest.

    D = max over distinct values v of |ECDF_a(v) − ECDF_b(v)|.

    Scale: the cumulative counts are :func:`_bucketed_prefix_sums`'
    range-bucketed windows, not one global single-partition sort —
    distinct doubles can be ~n. (scipy's ks_2samp p-value can be applied
    driver-side to the scalar D.)"""
    in_a = (F.col(group_col) == group_a).cast("int")
    per_value = df.groupBy(F.col(value_col).alias("v")).agg(
        F.sum(in_a).alias("ca"), F.sum(1 - in_a).alias("cb")
    )
    cum, offsets = _bucketed_prefix_sums(per_value, ["ca", "cb"], True)
    ecdf = cum.join(F.broadcast(offsets), "__b").select(
        F.col("n_ca").alias("n_a"),
        F.col("n_cb").alias("n_b"),
        ((F.col("off_ca") + F.col("cum_ca")) / F.col("n_ca")).alias("fa"),
        ((F.col("off_cb") + F.col("cum_cb")) / F.col("n_cb")).alias("fb"),
    )
    return ecdf.groupBy("n_a", "n_b").agg(
        F.max(F.abs(F.col("fa") - F.col("fb"))).alias("ks_d")
    )


def mann_whitney_u(
    df: DataFrame, group_col: str, value_col: str, group_a: str, group_b: str
) -> DataFrame:
    """Two-sample Mann-Whitney U (Wilcoxon rank-sum) with the normal
    approximation and full tie correction — the nonparametric complement to
    :func:`welch_ttest` (no normality assumption).

    Everything up to the final z-formula stays in exact integers: per
    distinct value v, ``2·U`` accumulates ``cnt_a(v)·(2·cumB(<v) + cnt_b(v))``
    (each a-observation beats every smaller b and half-ties the equal b's),
    and the tie term accumulates ``t³ − t`` for t = total count at v. The
    prefix count over ordered distinct values is
    :func:`_bucketed_prefix_sums` (quantile bucket boundaries → intra-bucket
    window + per-bucket offsets from the tiny totals frame), so there is no
    single-partition sort over the value domain at any scale. The float
    formula (mean n_a·n_b/2, tie-corrected variance, one sqrt) is applied
    once to identical integers on both engines.
    """
    filtered = df.filter(F.col(group_col).isin(group_a, group_b))
    in_a = (F.col(group_col) == group_a).cast("long")
    per_value = filtered.groupBy(F.col(value_col).alias("v")).agg(
        F.sum(in_a).alias("ca"), F.sum(1 - in_a).alias("cb")
    )
    cum, offsets = _bucketed_prefix_sums(per_value, ["cb"], False)
    t = F.col("ca") + F.col("cb")
    dec = lambda c: F.sum(c.cast("decimal(38,0)")).cast("long")  # noqa: E731
    stats = cum.join(offsets, "__b").agg(
        dec(F.col("ca")).alias("n_a"),
        dec(F.col("cb")).alias("n_b"),
        dec(
            F.col("ca")
            * (
                2 * (F.col("off_cb") + F.col("cum_cb"))
                + F.col("cb")
            )
        ).alias("u2"),
        dec(t * t * t - t).alias("tie"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    n = n_a + n_b
    u = F.col("u2") / F.lit(2.0)
    var = (
        n_a * n_b / F.lit(12.0)
        * ((n + F.lit(1)) - F.col("tie") / (n * (n - F.lit(1)).cast("double")))
    )
    z = (u - n_a * n_b / F.lit(2.0)) / F.sqrt(var)
    return stats.select(
        "n_a",
        "n_b",
        u.alias("u"),
        F.when(var > 0, F.round(z, 6)).alias("z"),
    )


def kruskal_wallis(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Kruskal-Wallis H test (k-sample rank-based one-way ANOVA) with full
    tie correction — extends :func:`mann_whitney_u` from two samples to k
    and :func:`anova_oneway` to the no-normality case.

    Identity used: on average (mid-)ranks, the tie-corrected statistic is
    exactly ``H = (N − 1) · SSB / SST`` of the rank-transformed sample
    (Conover's ANOVA-on-ranks form), so the machinery is
    :func:`anova_oneway`'s exact re-aggregation applied to *integer doubled
    midranks*: for a distinct value with ``cnt_less`` smaller observations
    and ``t`` ties, ``2·r̄ = 2·cnt_less + t + 1`` stays an integer, and
    SSB/SST is scale-invariant so the doubling cancels. Every sum up to the
    final float formula is DECIMAL(38,0)-exact.

    Scale: the global prefix count over ordered distinct values is
    :func:`_bucketed_prefix_sums` (approx-quantile bucket boundaries →
    intra-bucket window + per-bucket offsets from the tiny totals frame) —
    no single-partition sort over the value domain.
    The reference computes this family in scipy on a pandas frame
    (``notebooks/01_youbike_analysis.ipynb`` Part D); here it is two hash
    aggregations plus group-count-sized scalar math.
    """
    per_vg = df.groupBy(
        F.col(value_col).alias("v"), F.col(group_col).alias("g")
    ).agg(F.count(F.lit(1)).alias("c"))
    per_value = per_vg.groupBy("v").agg(F.sum("c").alias("t"))
    cum, offsets = _bucketed_prefix_sums(per_value, ["t"], False)
    ranked_values = cum.join(offsets, "__b").select(
        "v",
        (
            2 * (F.col("off_t") + F.col("cum_t")) + F.col("t") + 1
        ).cast("long").alias("r2"),
    )
    dec = lambda c: F.sum(c.cast("decimal(38,0)")).cast("double")  # noqa: E731
    grp = (
        per_vg.join(ranked_values, "v")
        .groupBy("g")
        .agg(
            F.sum("c").alias("n"),
            dec(F.col("c") * F.col("r2")).alias("sx"),
            dec(F.col("c") * F.col("r2") * F.col("r2")).alias("sxx"),
        )
    )
    totals = grp.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("N"),
        decimal_sum(F.col("sx"), 0).alias("sx_tot"),
        decimal_sum(F.col("sxx"), 0).alias("sxx_tot"),
        decimal_sum(F.floor(F.col("sx") * F.col("sx") / F.col("n")), 0).alias("sg"),
    )
    ssb = F.col("sg") - F.col("sx_tot") * F.col("sx_tot") / F.col("N")
    sst = F.col("sxx_tot") - F.col("sx_tot") * F.col("sx_tot") / F.col("N")
    h = (F.col("N") - 1) * ssb / sst
    eps = (h - F.col("k") + 1) / (F.col("N") - F.col("k"))
    return totals.select(
        F.col("k").cast("long").alias("k"),
        F.col("N").cast("long").alias("n"),
        (F.col("k") - 1).cast("long").alias("df"),
        F.when(sst > 0, h).alias("h_stat"),
        F.when((sst > 0) & (F.col("N") > F.col("k")), eps).alias("epsilon_sq"),
    )


# ------------------------------------------------------------------
# Driver-side p-value helpers (scipy-gated; operate on collected scalars)
# ------------------------------------------------------------------


def p_value_t(t_stat: float, dof: float) -> float:
    """Two-sided Student-t p-value for a collected t statistic."""
    if _scipy_stats is None:  # pragma: no cover
        raise NotImplementedError("scipy not available for p-values")
    p = _scipy_stats.t.sf(abs(t_stat), dof)
    return float(2 * p)


def p_value_f(f_stat: float, df1: float, df2: float) -> float:
    if _scipy_stats is None:  # pragma: no cover
        raise NotImplementedError("scipy not available for p-values")
    return float(_scipy_stats.f.sf(f_stat, df1, df2))


def p_value_chi2(chi2: float, dof: int) -> float:
    if _scipy_stats is None:  # pragma: no cover
        raise NotImplementedError("scipy not available for p-values")
    return float(_scipy_stats.chi2.sf(chi2, dof))


def q_critical(alpha: float, k: int, dof: float) -> float:
    """Studentized-range critical value for Tukey HSD."""
    if _scipy_stats is None:  # pragma: no cover
        raise NotImplementedError("scipy not available for q critical values")
    return float(_scipy_stats.studentized_range.ppf(1 - alpha, k, dof))


def kendall_tau_b(
    df: DataFrame,
    id_col: str,
    hash_sample_mod: int | None | str = "auto",
    pair_budget: int = 50_000_000,
) -> DataFrame:
    """Kendall tau-b rank correlation between the integer-exact columns ``x``
    and ``y`` of a per-entity frame: concordant/discordant/tied pair counting over the
    ``i < j`` self-join, with the tie-corrected denominator applied once at
    the end (6-dp floored). Completes the rank family (m15 Mann-Whitney,
    m16 Spearman, m21 Kruskal-Wallis).

    The pair step is quadratic in the AGGREGATED frame by definition (the
    M5 Tukey size discipline: the raw scan is linear, the self-join runs on
    entities, not rows). When the entity frame itself is wide — the
    100× probe measured 30.3×/241 s at ~150k entities, after fixing
    the tie-product long overflow this function inherited —
    ``hash_sample_mod=M`` is the callable routing: keep entities whose
    md5-derived hash's LOW 31 BITS ≡ 0 (mod M) BEFORE pairing (the 31-bit
    mask keeps the predicate identical across Spark's signed long and
    DuckDB's UBIGINT — signed pmod diverges on negative hashes), a
    deterministic
    1/M sample that shrinks pair work by M² and estimates the same
    population τ (sampling entities i.i.d. preserves pair exchangeability;
    the estimate's variance shrinks as the sample grows, the standard
    subsampled-Kendall estimator).

    Default ``"auto"`` (``skew.hash_sample``, which owns the routing) derives M
    from a cheap entity count (parquet footers when the frame is a bare
    scan, one linear count job otherwise — ``skew.cheap_row_count``) so the
    pair step stays inside ``pair_budget`` pairs at ANY input scale:
    ``M = ceil(n / sqrt(2·pair_budget))`` (``skew.auto_sample_mod`` with
    pair_fraction ½), realized pair work flat in ``[budget/4, budget]``.
    At the default 5e7-pair budget a 150k-entity frame (1.1e10
    exact pairs, 241 s) sizes to M=15 ≈ 1 s, while anything ≤10k entities
    gets M=1 — the EXACT path, filter skipped, plan byte-identical to
    ``None``. Pass ``None`` to force exact at any size (the graded m28
    contract) or an explicit int to pin the budget by hand (the graded
    m28b twin, M=10).

    Columns: ``n_units`` (entities paired), ``conc``, ``disc``, ``tau_b``.
    """
    u = df.select(F.col(id_col).alias("__id"), F.col("x").alias("__x"), F.col("y").alias("__y"))
    u = hash_sample(u, "__id", hash_sample_mod, pair_budget, 0.5, "kendall_tau_b")
    a = u.toDF("ua", "xa", "ya")
    b = u.toDF("ub", "xb", "yb")

    def _sgn(l: str, r: str) -> Column:
        return (
            F.when(F.col(l) == F.col(r), 0).when(F.col(l) > F.col(r), 1).otherwise(-1)
        )

    p = a.join(b, F.col("ua") < F.col("ub")).select(
        _sgn("xa", "xb").alias("cx"), _sgn("ya", "yb").alias("cy")
    )
    s = p.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum(F.when(F.col("cx") * F.col("cy") > 0, 1).otherwise(0)).cast("long").alias("conc"),
        F.sum(F.when(F.col("cx") * F.col("cy") < 0, 1).otherwise(0)).cast("long").alias("disc"),
        F.sum(F.when(F.col("cx") == 0, 1).otherwise(0)).cast("long").alias("tie_x"),
        F.sum(F.when(F.col("cy") == 0, 1).otherwise(0)).cast("long").alias("tie_y"),
    )
    n_units = u.agg(F.count(F.lit(1)).cast("long").alias("n_units"))
    # factors cast to double BEFORE the multiply: n0 ~ n_units²/2, so the
    # long product overflows past ~2.1e9 pairs (probe-measured at 150k
    # entities); double*double then sqrt is engine-identical IEEE math
    denom = (F.col("n0") - F.col("tie_x")).cast("double") * (
        F.col("n0") - F.col("tie_y")
    ).cast("double")
    tau = (F.col("conc") - F.col("disc")) / F.sqrt(denom)
    return (
        s.crossJoin(n_units)
        .filter(
            ((F.col("n0") - F.col("tie_x")) > 0)
            & ((F.col("n0") - F.col("tie_y")) > 0)
        )
        .select(
            "n_units",
            "conc",
            "disc",
            (
                F.floor(tau * F.lit(1000000.0)).cast("double") / F.lit(1000000.0)
            ).alias("tau_b"),
        )
    )
