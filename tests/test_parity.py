"""Local mirror of the driver's correctness gate — DRIVER-STRICT since r3.

For every corpus query with an oracle: run the Spark query and the DuckDB SQL
on the same parquet tables, materialize BOTH as pandas frames the way the
driver does (Spark rows via pd.DataFrame, DuckDB via .df() so HUGEINT →
float64 is visible), and compare the canonical stringified cells. Types are
NOT coerced: an oracle `SUM(int col)` without CAST(... AS BIGINT) fails here
exactly as it fails at the driver (the round-1/2 red class — 15 queries
shipped because the old comparator did float(a)==float(b) across types).
Queries without an oracle get a rows-run smoke check.
"""

from __future__ import annotations

import pytest

from youbike_etl_pipeline_spark.parity import duck_views, oracle_diff
from youbike_etl_pipeline_spark.plans.corpus import CORPUS

ORACLE_SPECS = [s for s in CORPUS.values() if s.oracle is not None]
ROWS_ONLY_SPECS = [s for s in CORPUS.values() if s.oracle is None]


@pytest.mark.parametrize("spec", ORACLE_SPECS, ids=[s.name for s in ORACLE_SPECS])
def test_oracle_parity(spark, spec, sf_small):
    diff = oracle_diff(spec.fn(spark, sf_small), spec.oracle, duck_views(sf_small))
    assert diff is None, f"{spec.name}: {diff}"


@pytest.mark.parametrize("spec", ROWS_ONLY_SPECS, ids=[s.name for s in ROWS_ONLY_SPECS])
def test_rows_only_smoke(spark, spec, sf_small):
    df = spec.fn(spark, sf_small)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_j4_graded_answer_is_not_empty(sf_small):
    """An anti join that dropped every row would still hash-match an empty
    oracle answer; j4's key filter leaves customers without an urgent
    order, so the graded answer has rows to compare."""
    con = duck_views(sf_small)
    rows = con.execute(CORPUS["j4_anti_join_customers_without_orders"].oracle).fetchall()
    assert len(rows) > 0
