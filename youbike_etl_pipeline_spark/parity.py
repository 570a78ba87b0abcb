"""Driver-strict result canonicalization for the local parity gates.

The compare pipeline it mirrors: both result sets are materialized as
**pandas DataFrames** (Spark rows via
``pd.DataFrame(collected_rows)``, the oracle via DuckDB ``.df()``), columns
sorted by name, rows sorted, then cells stringified per pandas dtype and
hashed. That pipeline is *type-sensitive*: DuckDB ``SUM(INTEGER)`` returns
HUGEINT, which pandas materializes as float64 (``"14579.0"``), while Spark
returns BIGINT → int64 (``"14579"``) — identical values, different hashes.

A comparator that does ``float(a) == float(b)`` across types normalizes
exactly the difference the compare hashes, so it passes such mismatches.
This module reproduces the pandas-stringified compare instead: int64 vs
float64 is a FAILURE here even when the values are numerically equal, and
list-typed cells raise (the canonicalizer cannot sort/hash them).
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .schemas import TESTDATA_TABLES

__all__ = ["canonical_frame", "diff_frames", "duck_views", "oracle_diff"]


class UnhashableCellError(TypeError):
    """A cell type (list/array/dict) the driver's canonicalizer rejects."""


def _check_hashable(df: pd.DataFrame) -> None:
    for col in df.columns:
        if df[col].dtype == object:
            for v in df[col].head(100):
                if isinstance(v, (list, dict, set, np.ndarray)):
                    raise UnhashableCellError(
                        f"column {col!r} holds {type(v).__name__} cells; the "
                        "driver's pandas canonicalizer cannot sort/hash these "
                        "(emit array_join(array_sort(...)) instead)"
                    )


def canonical_frame(df: pd.DataFrame) -> pd.DataFrame:
    """Mirror the driver's canonicalization: sort columns by name, stringify
    cells per pandas dtype (int64 '14579' vs float64 '14579.0' stay
    distinct), then sort rows. Raises on list-typed cells like the driver.
    """
    df = df.reindex(sorted(df.columns), axis=1)
    _check_hashable(df)
    s = df.astype(str)
    if len(s.columns):
        s = s.sort_values(by=list(s.columns), kind="mergesort")
    return s.reset_index(drop=True)


def spark_to_pandas(rows, columns) -> pd.DataFrame:
    """Build the Spark-side frame the way the driver does: from collected
    rows (NOT toPandas — Arrow would pick different dtypes for null ints)."""
    return pd.DataFrame([tuple(r) for r in rows], columns=list(columns))


def diff_frames(spark_pd: pd.DataFrame, duck_pd: pd.DataFrame) -> str | None:
    """None if canonically equal, else a human-readable first-difference."""
    a, b = canonical_frame(spark_pd), canonical_frame(duck_pd)
    if list(a.columns) != list(b.columns):
        return f"columns: spark={list(a.columns)} duck={list(b.columns)}"
    if len(a) != len(b):
        return f"rows: spark={len(a)} duck={len(b)}"
    for col in a.columns:
        av, bv = a[col].to_numpy(), b[col].to_numpy()
        bad = np.nonzero(av != bv)[0]
        if len(bad):
            i = int(bad[0])
            return (
                f"cell col={col} row={i}: spark={av[i]!r} duck={bv[i]!r}"
                f" (spark dtype={spark_pd[col].dtype if col in spark_pd else '?'},"
                f" duck dtype={duck_pd[col].dtype if col in duck_pd else '?'})"
            )
    return None


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per testdata table whose parquet
    file exists in ``sf_dir``, named as the oracles name it."""
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_diff(
    spark_df: DataFrame, oracle: str, con: duckdb.DuckDBPyConnection
) -> str | None:
    """The parity check of one query: collect ``spark_df``, run
    ``oracle`` on ``con`` (see :func:`duck_views`) and compare both with
    :func:`diff_frames`; None if canonically equal, else the first
    difference."""
    spark_pd = spark_to_pandas(spark_df.collect(), spark_df.columns)
    return diff_frames(spark_pd, con.execute(oracle).df())
