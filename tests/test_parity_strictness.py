"""The local parity gate must be driver-strict (round-2 verdict item 2).

The driver's canonical hash stringifies cells per pandas dtype, so an oracle
``SUM(<int col>)`` (DuckDB → HUGEINT → pandas float64 ``"6.0"``) must NOT
compare equal to Spark's BIGINT ``"6"`` even though the values are equal.
These tests pin that the comparator in
:mod:`youbike_etl_pipeline_spark.parity` fails on exactly that class — the
old ``float(a) == float(b)`` comparator shipped 15 such reds across rounds
1-2 — and on list cells (the driver's canonicalizer raises on them, see
a14's traceback in CORRECTNESS_r02.json).
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from youbike_etl_pipeline_spark.parity import (
    UnhashableCellError,
    canonical_frame,
    diff_frames,
    spark_to_pandas,
)


def test_uncast_int_sum_oracle_fails():
    """An un-cast SUM(int) oracle materializes float64 and MUST mismatch."""
    con = duckdb.connect()
    duck_pd = con.execute(
        "SELECT SUM(x) AS s FROM (SELECT unnest([1,2,3]) AS x)"
    ).df()
    assert duck_pd["s"].dtype == "float64"  # the HUGEINT artifact
    spark_pd = spark_to_pandas([(6,)], ["s"])  # what Spark's BIGINT yields
    assert spark_pd["s"].dtype == "int64"
    diff = diff_frames(spark_pd, duck_pd)
    assert diff is not None and "'6'" in diff and "'6.0'" in diff


def test_cast_bigint_oracle_passes():
    con = duckdb.connect()
    duck_pd = con.execute(
        "SELECT CAST(SUM(x) AS BIGINT) AS s FROM (SELECT unnest([1,2,3]) AS x)"
    ).df()
    spark_pd = spark_to_pandas([(6,)], ["s"])
    assert diff_frames(spark_pd, duck_pd) is None


def test_list_cells_rejected_like_driver():
    df = pd.DataFrame({"k": [1], "v": [[1, 2]]})
    with pytest.raises(UnhashableCellError):
        canonical_frame(df)


def test_row_and_column_order_insensitive():
    a = pd.DataFrame({"b": [2.5, 1.5], "a": [1, 2]})
    b = pd.DataFrame({"a": [2, 1], "b": [1.5, 2.5]})
    assert diff_frames(a, b) is None


def test_equal_values_different_float_int_types_fail():
    a = pd.DataFrame({"x": pd.array([1, 2], dtype="int64")})
    b = pd.DataFrame({"x": pd.array([1.0, 2.0], dtype="float64")})
    assert diff_frames(a, b) is not None


def test_nan_equals_nan():
    a = pd.DataFrame({"x": [float("nan"), 1.0]})
    b = pd.DataFrame({"x": [1.0, float("nan")]})
    assert diff_frames(a, b) is None
