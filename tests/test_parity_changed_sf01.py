"""ALWAYS-ON driver-scale parity for queries changed this round.

Round-2 verdict item 7: the full sf0.01 mirror (``test_parity_sf01.py``)
is opt-in because it adds minutes, but any query whose Spark fn or oracle
SQL was touched in the current round MUST clear the driver-strict
comparator at the driver's own scale (sf0.01) in every default test run —
a changed query that only passed at sf0.001 is exactly how regressions
reach the driver unseen. The changed set is ``CHANGED_THIS_ROUND`` in
``plans/corpus.py`` (also what the export order front-loads).
"""

from __future__ import annotations

import os

import pytest

from youbike_etl_pipeline_spark.parity import duck_views, oracle_diff
from youbike_etl_pipeline_spark.plans.corpus import CHANGED_THIS_ROUND, CORPUS

CHANGED_SPECS = [
    CORPUS[n] for n in CHANGED_THIS_ROUND if CORPUS[n].oracle is not None
]


@pytest.mark.parametrize(
    "spec", CHANGED_SPECS, ids=[s.name for s in CHANGED_SPECS]
)
def test_changed_query_parity_at_driver_scale(spark, spec, sf_medium):
    if not os.path.isdir(sf_medium):
        pytest.skip(f"{sf_medium} missing")
    diff = oracle_diff(spec.fn(spark, sf_medium), spec.oracle, duck_views(sf_medium))
    assert diff is None, f"{spec.name}: {diff}"
