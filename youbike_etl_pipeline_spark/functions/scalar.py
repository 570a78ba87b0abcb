"""Scalar column expressions (SURVEY §2.6 F1-F15).

Everything here is a pure Catalyst column expression — evaluated inside
whole-stage codegen, no Python on the data path. The reference implements
these as numpy/pandas helpers and row ``.apply`` lambdas; re-expressed as
expressions they vectorize for free and stay pushdown/prune-friendly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6_371_000.0

#: Peak commute hours (reference ``notebooks/01_youbike_analysis.ipynb:L278``).
PEAK_HOURS = [7, 8, 9, 17, 18, 19]


def haversine_m(lat1: Column, lng1: Column, lat2: Column, lng2: Column) -> Column:
    """Great-circle distance in meters (F4).

    Same formula as the reference's vectorized numpy helper
    (``notebooks/01_youbike_analysis.ipynb:L33-L40``: radians/sin/cos/
    arctan2, R=6371000) but as a column expression, so the NN spatial join
    (J5) runs it per-row inside codegen across the cluster.
    """
    dlat = F.radians(lat2) - F.radians(lat1)
    dlng = F.radians(lng2) - F.radians(lng1)
    a = (
        F.sin(dlat / 2) ** 2
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlng / 2) ** 2
    )
    return F.lit(2.0 * EARTH_RADIUS_M) * F.atan2(F.sqrt(a), F.sqrt(1 - a))


def filling_rate(bikes: Column, total: Column) -> Column:
    """``bikes / total`` guarded for zero capacity (F3).

    The reference divides unguarded and later filters ``rate <= 1.0`` to drop
    the resulting inf rows (``notebooks/01_youbike_analysis.ipynb:L66,L274``);
    the engine returns null for ``total <= 0`` which the same filter drops.
    """
    return F.when(total > 0, bikes / total)


def rain_category(rain: Column) -> Column:
    """Ordinal rain bucket {0: none, 1: (0,2], 2: (2,10], 3: >10} (F5) —
    reference ``notebooks/05_multistation_lstm.ipynb:L84-L88``,
    ``api/app/main.py:150-154``."""
    return (
        F.when(rain <= 0, F.lit(0))
        .when(rain <= 2, F.lit(1))
        .when(rain <= 10, F.lit(2))
        .otherwise(F.lit(3))
    )


def shortage_label(rate: Column, threshold: float = 0.1) -> Column:
    """Binary risk label (F6): ``'Shortage'`` below threshold else ``'Normal'``
    (reference ``notebooks/01_youbike_analysis.ipynb:L963-L964``)."""
    return F.when(rate < threshold, F.lit("Shortage")).otherwise(F.lit("Normal"))


def is_weekday(ts: Column) -> Column:
    """Mon-Fri flag (W5/F14). Spark ``dayofweek`` is 1=Sunday, so the pandas
    ``dayofweek < 5`` predicate becomes BETWEEN 2 AND 6 (SURVEY §2.5 W5)."""
    return F.dayofweek(ts).between(2, 6)


def is_peak_hour(ts: Column) -> Column:
    """Peak-commute flag: hour ∈ {7,8,9,17,18,19}
    (reference ``notebooks/01_youbike_analysis.ipynb:L278``)."""
    return F.hour(ts).isin(PEAK_HOURS)


def to_utc_from_tz(ts: Column) -> Column:
    """Normalize a naive wall-clock Asia/Taipei timestamp to UTC (F2).

    Reference: ``tz_localize('Asia/Taipei').tz_convert('UTC')``
    (``etl_job.py:107-109``). Taipei has no DST so the mapping is
    unambiguous; for DST zones Spark resolves ambiguity to the earlier
    offset (documented policy — the reference used ``ambiguous='infer'``).
    """
    return F.to_utc_timestamp(ts, "Asia/Taipei")


def clamp_round_nonneg(x: Column) -> Column:
    """``max(0, int(round(x)))`` (F12) — reference ``api/app/main.py:199``.

    Rounding is spelled ``floor(x + 0.5)`` rather than ``round(x)``: engines
    disagree on .5 ties (HALF_UP vs banker's varies by DuckDB version), and
    the driver's events data lands on exact .5 boundaries (90 rows at
    sf0.01). ``floor`` is tie-free and bit-identical everywhere; negatives
    are clamped to 0 either way, so the only behavior pinned down is the
    cross-engine tie rule.
    """
    return F.greatest(F.lit(0), F.floor(x + F.lit(0.5)).cast("int"))
