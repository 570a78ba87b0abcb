"""The fused replicate pass (``stats.resample``) against a pure-Python
reference: the same per-row MINSTD streams in Python ints and
``decimal.Decimal`` sums, so every count and sum must match exactly."""

from __future__ import annotations

import bisect
import math
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from youbike_etl_pipeline_spark.stats.resample import (
    lehmer_replicate_sums,
    lehmer_uniforms,
    unscaled6,
)

M = 2147483647
THRESHOLDS = [0.3, 0.75]


def _uniform(seed: int, r: int) -> float:
    return (seed % (M - 1) + 1) * pow(48271, r + 1, M) % M / float(M)


def _reference(rows, thresholds, n_reps):
    """{key: (n, totals, counts, sums)} with Decimal sums of the terms."""
    n_out = len(thresholds) + 1
    out = {}
    for key, seed, *terms in rows:
        n, totals, counts, sums = out.setdefault(
            key,
            [0, [Decimal(0)] * n_out, [[0] * n_out for _ in range(n_reps)], [[Decimal(0)] * n_out for _ in range(n_reps)]],
        )
        out[key][0] = n + 1
        out[key][1] = [t + x for t, x in zip(totals, terms)]
        for r in range(n_reps):
            k = bisect.bisect_right(thresholds, _uniform(seed, r))
            counts[r][k] += 1
            sums[r][k] += terms[k]
    return out


def _unscaled(d: Decimal) -> int:
    return int(d.scaleb(6))


def _frame(spark, rows, slices=3):
    schema = "k string, seed long, a decimal(27,6), b decimal(27,6), c decimal(27,6)"
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)


def _assert_matches(got, ref):
    assert set(got) == set(ref)
    for key, (n, totals, counts, sums) in ref.items():
        s = got[key]
        assert s.n == n, key
        assert list(s.totals) == [_unscaled(t) for t in totals], key
        assert [list(c) for c in s.counts] == counts, key
        assert [list(x) for x in s.sums] == [[_unscaled(v) for v in row] for row in sums], key


def _run(df, n_reps, thresholds=THRESHOLDS):
    return lehmer_replicate_sums(
        df, "k", "seed", [unscaled6(F.col(c)) for c in "abc"], thresholds, n_reps=n_reps
    )


def _rows(n, seed0=17):
    rows = []
    for i in range(n):
        seed = (seed0 + i * 7919) * 104729 % M
        vals = [Decimal(((i * 37 + j * 11) % 2001 - 1000) * 123457).scaleb(-6) for j in range(3)]
        rows.append((f"k{i % 4}", seed, *vals))
    # a key with one row sits in exactly one partition, whatever the split
    rows.append(("solo", 123456789, Decimal("1.5"), Decimal("-2.000001"), Decimal("0.000001")))
    return rows


def test_uniforms_match_the_spark_expression(spark):
    seeds = [0, 1, 2147483646, 2147483647, 987654321, -5, -2147483647]
    n_reps = 4
    expr = "((seed % 2147483646 + 1) * p) % 2147483647 / 2147483647.0D"
    df = spark.createDataFrame([(s,) for s in seeds], "seed long").crossJoin(
        spark.createDataFrame(
            [(r, pow(48271, r + 1, M)) for r in range(n_reps)], "r long, p long"
        )
    )
    got = {(r.seed, r.r): r.u for r in df.selectExpr("seed", "r", f"{expr} AS u").collect()}
    block = lehmer_uniforms(seeds, n_reps)
    for i, s in enumerate(seeds):
        for r in range(n_reps):
            assert block[i, r] == got[(s, r)], (s, r)


def test_consecutive_replicates_draw_independently():
    # P(u_r < 1/e and u_{r+1} < 1/e) is e^-2 ≈ 0.135 for independent draws
    seeds = [(17 + i * 7919) * 104729 % M for i in range(2000)]
    low = lehmer_uniforms(seeds, 200) < math.exp(-1)
    share = (low[:, 1:] & low[:, :-1]).mean()
    assert 0.12 <= share <= 0.15, share


def test_exact_over_many_batches_and_partitions(spark):
    rows = _rows(200)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got = _run(_frame(spark, rows), n_reps=25)
    finally:
        spark.conf.set(key, old)
    _assert_matches(got, _reference(rows, THRESHOLDS, 25))


def test_key_whose_replicates_all_draw_outcome_zero(spark):
    n_reps, thresholds = 4, [0.8, 0.9]
    seed = next(s for s in range(1, M, 104729) if all(_uniform(s, r) < thresholds[0] for r in range(n_reps)))
    rows = _rows(30) + [("zero", seed, Decimal("3.25"), Decimal("4"), Decimal("5"))]
    got = _run(_frame(spark, rows), n_reps, thresholds)
    _assert_matches(got, _reference(rows, thresholds, n_reps))
    assert [list(c) for c in got["zero"].counts] == [[1, 0, 0]] * n_reps


def test_terms_past_int64_sum_in_python_ints(spark):
    rows = [
        (
            f"k{i % 2}",
            1000 + i * 31337,
            Decimal(10**12 + i) + Decimal("0.123456"),
            Decimal(-(10**12) - 7 * i) + Decimal("0.5"),
            Decimal(9 * 10**12 - i),
        )
        for i in range(40)
    ]
    got = _run(_frame(spark, rows), n_reps=10)
    _assert_matches(got, _reference(rows, THRESHOLDS, 10))
    # the exact totals are beyond int64: an int64 accumulator would have wrapped
    assert max(abs(t) for s in got.values() for t in s.totals) > 2**63


def test_no_key_column_is_one_group(spark):
    rows = _rows(40)
    df = _frame(spark, rows)
    got = lehmer_replicate_sums(df, None, "seed", [unscaled6(F.col(c)) for c in "abc"], THRESHOLDS, n_reps=5)
    ref = _reference([(None, *r[1:]) for r in rows], THRESHOLDS, 5)
    _assert_matches(got, ref)


@pytest.mark.parametrize(
    ("kwargs", "match"),
    [
        ({"n_reps": 0}, "n_reps"),
        ({"thresholds": [0.5, 0.5]}, "strictly increasing"),
        ({"thresholds": [0.0, 0.5]}, "strictly increasing"),
        ({"thresholds": [0.5, 1.0]}, "strictly increasing"),
        ({"term_cols": 2}, "one term column per outcome"),
    ],
    ids=["n_reps", "tied", "zero", "one", "term_count"],
)
def test_bad_arguments_fail_before_any_spark_job(spark, request, kwargs, match):
    df = spark.range(20).selectExpr("CAST(id % 3 AS STRING) AS k", "id AS seed", "id AS a")
    args = {"term_cols": 3, "thresholds": THRESHOLDS, "n_reps": 200} | kwargs
    args["term_cols"] = [F.col("a")] * args["term_cols"]
    sc = spark.sparkContext
    group = request.node.name
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match=match):
            lehmer_replicate_sums(df, "k", "seed", **args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
