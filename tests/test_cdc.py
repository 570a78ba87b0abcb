"""CDC / SCD2 merge-emulation tests."""

from __future__ import annotations

from youbike_etl_pipeline_spark.operators.cdc import apply_deletes, merge_upsert, scd2_apply


def test_merge_upsert_update_and_insert(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k int, name string, v double"
    )
    changes = spark.createDataFrame(
        [(2, "b2", 25.0), (4, "d", 40.0)], "k int, name string, v double"
    )
    merged = {r["k"]: (r["name"], r["v"]) for r in merge_upsert(target, changes, ["k"]).collect()}
    assert merged == {1: ("a", 10.0), 2: ("b2", 25.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_apply_deletes(spark):
    target = spark.createDataFrame([(1, "a"), (2, "b")], "k int, name string")
    deletes = spark.createDataFrame([(2,)], "k int")
    assert [r["k"] for r in apply_deletes(target, deletes, ["k"]).collect()] == [1]


def test_scd2_versioning(spark):
    history = spark.createDataFrame(
        [
            # closed older version of key 1
            (1, "old", 100, 200, False),
            # current versions
            (1, "v1", 200, None, True),
            (2, "stable", 150, None, True),
            (3, "willchange", 100, None, True),
        ],
        "k int, attr string, effective_from long, effective_to long, is_current boolean",
    )
    changes = spark.createDataFrame(
        [
            (1, "v1", 300),        # no-op: same tracked value -> dropped
            (3, "changed", 300),   # real change -> close + open
            (4, "brandnew", 300),  # new key -> open
        ],
        "k int, attr string, change_ts long",
    )
    out = scd2_apply(history, changes, keys=["k"], tracked_cols=["attr"]).collect()
    rows = {(r["k"], r["attr"], r["is_current"]): (r["effective_from"], r["effective_to"]) for r in out}
    assert len(out) == 6
    assert rows[(1, "old", False)] == (100, 200)        # history untouched
    assert rows[(1, "v1", True)] == (200, None)         # no-op keeps current open
    assert rows[(2, "stable", True)] == (150, None)     # untouched key
    assert rows[(3, "willchange", False)] == (100, 300) # closed at change ts
    assert rows[(3, "changed", True)] == (300, None)    # new version opened
    assert rows[(4, "brandnew", True)] == (300, None)   # first version for new key


def test_scd2_multiple_changes_per_key_collapse_to_latest(spark):
    """A batch carrying several change rows for one key must not fan out the
    join: only the latest change (by change_ts) applies, yielding exactly one
    open version and one close row."""
    history = spark.createDataFrame(
        [(1, "v1", 100, None, True)],
        "k int, attr string, effective_from long, effective_to long, is_current boolean",
    )
    changes = spark.createDataFrame(
        [(1, "mid", 200), (1, "final", 300), (1, "early", 150)],
        "k int, attr string, change_ts long",
    )
    out = scd2_apply(history, changes, keys=["k"], tracked_cols=["attr"]).collect()
    assert len(out) == 2
    open_rows = [r for r in out if r["is_current"]]
    closed_rows = [r for r in out if not r["is_current"]]
    assert len(open_rows) == 1 and open_rows[0]["attr"] == "final"
    assert open_rows[0]["effective_from"] == 300
    assert len(closed_rows) == 1 and closed_rows[0]["effective_to"] == 300


def test_scd2_null_safe_tracking(spark):
    history = spark.createDataFrame(
        [(1, None, 100, None, True)],
        "k int, attr string, effective_from long, effective_to long, is_current boolean",
    )
    changes = spark.createDataFrame([(1, None, 200), ], "k int, attr string, change_ts long")
    out = scd2_apply(history, changes, keys=["k"], tracked_cols=["attr"]).collect()
    # null == null is a no-op, not a change
    assert len(out) == 1 and out[0]["is_current"] and out[0]["effective_from"] == 100


def test_observe_quality_single_pass_metrics(spark, sf_small):
    """df.observe piggybacks the DQ counts on the production action — the
    observed metrics must equal a standalone validate() report, with no
    second scan issued by the caller."""
    from youbike_etl_pipeline_spark.operators.quality import (
        in_range,
        not_null,
        observe_quality,
        validate,
    )

    ev = spark.read.parquet(f"{sf_small}/events.parquet")
    constraints = [not_null("user_id"), in_range("value", 0.0, 100.0)]

    observed_df, obs = observe_quality(ev, "dq_probe", constraints)
    n_out = observed_df.filter("event_type = 'purchase'").count()  # the real job
    metrics = obs.get
    assert n_out > 0
    assert metrics["n_rows"] == ev.count()

    report = {r["constraint"]: r["n_violations"] for r in validate(ev, constraints).collect()}
    assert metrics["viol_user_id_not_null"] == report["user_id_not_null"]
    assert metrics["viol_value_in_range"] == report["value_in_range"]
    assert metrics["viol_value_in_range"] > 0  # values exceed 100 in testdata
