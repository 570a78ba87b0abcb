"""Skew-helper equivalence tests + hypothesis property tests (SURVEY §5:
the property-based layer the reference lacks)."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from youbike_etl_pipeline_spark.operators.skew import salted_group_agg
from youbike_etl_pipeline_spark.sources.readers import read_events
from youbike_etl_pipeline_spark.operators.windows import interpolate_linear


def test_salted_group_agg_matches_plain(spark, sf_small):
    ev = read_events(spark, sf_small)
    plain = {
        (r["user_id"],): (r["n"], r["mx"])
        for r in ev.groupBy("user_id")
        .agg(F.count("value").alias("n"), F.max("value").alias("mx"))
        .collect()
    }
    salted = {
        (r["user_id"],): (r["n"], r["mx"])
        for r in salted_group_agg(
            ev, ["user_id"], {"n": ("value", "count"), "mx": ("value", "max")}, n_salts=8
        ).collect()
    }
    assert plain == salted


@settings(max_examples=12, deadline=None)
@given(
    values=st.lists(
        st.one_of(st.none(), st.floats(min_value=-100, max_value=100, allow_nan=False)),
        min_size=1,
        max_size=12,
    )
)
def test_interpolation_matches_pandas_property(spark_prop, values):
    """Window-based linear interpolation == pandas interpolate().ffill().bfill()
    for arbitrary null patterns (the SURVEY §7 exactness risk)."""
    pdf = pd.DataFrame({"k": ["a"] * len(values), "t": range(len(values)), "v": values})
    rows = [("a", i, None if v is None else float(v)) for i, v in enumerate(values)]
    df = spark_prop.createDataFrame(rows, "k string, t int, v double")
    got = (
        interpolate_linear(df, key="k", ts="t", cols=["v"])
        .orderBy("t")
        .toPandas()["v"]
        .tolist()
    )
    expected = [
        float("nan") if pd.isna(v) else float(v)
        for v in pd.to_numeric(pdf["v"]).interpolate("linear").ffill().bfill()
    ]
    got = [float("nan") if v is None or pd.isna(v) else float(v) for v in got]
    assert got == pytest.approx(expected, nan_ok=True)


@pytest.fixture(scope="module")
def spark_prop(spark):
    # hypothesis drives many tiny jobs; reuse the session fixture
    return spark


@settings(max_examples=10, deadline=None)
@given(
    left_ts=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=15),
    right_ts=st.lists(st.integers(min_value=0, max_value=50), min_size=0, max_size=8),
)
def test_asof_join_matches_merge_asof_property(spark_prop, left_ts, right_ts):
    """Custom as-of join == pandas merge_asof for arbitrary timestamp sets
    (including duplicates on the left, empty right, and exact-tie matches)."""
    from youbike_etl_pipeline_spark.operators.joins import asof_join

    left = pd.DataFrame(
        {"k": ["g"] * len(left_ts), "t": sorted(left_ts), "x": range(len(left_ts))}
    )
    right_unique = sorted(set(right_ts))
    right = pd.DataFrame(
        {"k": ["g"] * len(right_unique), "rt": right_unique,
         "r": [float(v * 10) for v in right_unique]}
    )
    ldf = spark_prop.createDataFrame(left, "k string, t int, x int")
    rdf = (
        spark_prop.createDataFrame(right, "k string, rt int, r double")
        if len(right)
        else spark_prop.createDataFrame([], "k string, rt int, r double")
    )
    got = (
        asof_join(ldf, rdf, on="k", left_ts="t", right_ts="rt", right_values=["r"])
        .orderBy("t", "x")
        .toPandas()
    )
    if len(right):
        expected = pd.merge_asof(
            left.sort_values(["t", "x"]),
            right.rename(columns={"rt": "t"}).sort_values("t"),
            on="t",
            by="k",
        )
        exp_r = [None if pd.isna(v) else v for v in expected["r"]]
    else:
        exp_r = [None] * len(left)
    got_r = [None if pd.isna(v) else v for v in got["r"]]
    assert got_r == exp_r


@settings(max_examples=15, deadline=None)
@given(
    values=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=1, max_size=40
    ),
    n_parts=st.integers(min_value=1, max_value=7),
)
def test_decimal_sum_partitioning_invariant(spark_prop, values, n_parts):
    """decimal_sum must be bit-identical for ANY repartitioning — the core
    invariant behind the oracle hash gate. (A plain double sum fails this.)"""
    from youbike_etl_pipeline_spark.operators.aggregations import decimal_sum

    df = spark_prop.createDataFrame([(float(v),) for v in values], "x double")
    a = df.coalesce(1).agg(decimal_sum("x").alias("s")).collect()[0]["s"]
    b = df.repartition(n_parts).agg(decimal_sum("x").alias("s")).collect()[0]["s"]
    assert a == b  # exact, not approx


@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=30, deadline=None)
def test_png_roundtrip_property(w, h, seed):
    """PNG encode→decode is the identity on arbitrary 8-bit RGB images of
    any geometry — heights ≥5 exercise all five scanline filters (the
    encoder assigns filter r%5), widths exercise the per-lane Sub/Paeth
    byte offsets."""
    import numpy as np

    from youbike_etl_pipeline_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    assert (decode_png(encode_png(img)) == img).all()
