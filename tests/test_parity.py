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

import os

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


#: Oracles that answer no rows at sf0.001, by cause. Two empty answers
#: hash-equal, so such a grade cannot tell a right query from a wrong one;
#: every other oracle answers rows at sf0.001 and at sf0.01.
EMPTY_AT_SF0001 = {
    "g3_degree_assortativity": "its edges need 30 co-visiting users; sf0.001 has 15 users",
    "g7_katz_centrality": "its edges need 30 co-visiting users; sf0.001 has 15 users",
    "m28b_kendall_tau_sampled": "the 1-in-10 hash sample keeps 1 of sf0.001's 15 users, so no pair",
}


@pytest.mark.parametrize("scale", ["sf_small", "sf_medium"])
def test_every_graded_answer_has_rows(request, scale):
    """An anti join that dropped every row, or a filter no row passes,
    would still hash-match an empty oracle answer: each oracle answers at
    least one row on DuckDB alone, at both graded scales."""
    sf_dir = request.getfixturevalue(scale)
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} missing")
    con = duck_views(sf_dir)
    allowed = EMPTY_AT_SF0001 if scale == "sf_small" else {}
    empty = [
        s.name
        for s in ORACLE_SPECS
        if s.name not in allowed and not con.execute(s.oracle).fetchmany(1)
    ]
    assert not empty, f"oracles with no rows at {scale}: {empty}"
