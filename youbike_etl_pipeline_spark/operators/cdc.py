"""CDC / upsert / slowly-changing-dimension operators.

The reference's only mutation primitive is insert-if-absent
(``etl_job.py:121-126``); a real warehouse needs MERGE semantics. Without a
transactional table format (Delta/Iceberg jars absent in this environment),
MERGE is emulated relationally — the pyspark guide's prescribed pattern
("anti-join + union + window"):

- SCD1 (:func:`merge_upsert`): target rows not touched by the changeset,
  plus updated rows, plus brand-new rows. One shuffle on the key; the
  changeset side is typically broadcastable.
- SCD2 (:func:`scd2_apply`): changed keys close their current version
  (effective_to stamped, is_current=false) and open a new version; history
  rows pass through untouched.

Both are pure DataFrames in → DataFrame out: the caller owns the write
(overwrite-partition or table-format commit), keeping the operator
storage-agnostic.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def merge_upsert(target: DataFrame, changes: DataFrame, keys: list[str]) -> DataFrame:
    """SCD1 MERGE: update matched keys, insert unmatched (whole-row
    semantics: ``changes`` supplies the full new row).

    Equivalent to ``MERGE INTO target USING changes ON keys WHEN MATCHED
    THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *``.
    """
    untouched = target.join(changes.select(*keys).distinct(), on=keys, how="left_anti")
    return untouched.unionByName(changes.select(*target.columns))


def apply_deletes(target: DataFrame, deletes: DataFrame, keys: list[str]) -> DataFrame:
    """MERGE ... WHEN MATCHED THEN DELETE: anti-join the delete keys."""
    return target.join(deletes.select(*keys).distinct(), on=keys, how="left_anti")


def _any_tracked_differs(tracked_cols: list[str]) -> Column:
    """Null-safe 'any column changed' predicate between cur.* and chg.*."""
    diffs = [~F.col(f"cur_{c}").eqNullSafe(F.col(f"chg_{c}")) for c in tracked_cols]
    return reduce(lambda a, b: a | b, diffs)


def scd2_apply(
    history: DataFrame, changes: DataFrame, keys: list[str], tracked_cols: list[str]
) -> DataFrame:
    """SCD2 MERGE: version rows on change of any tracked column.

    ``history`` carries (keys, tracked_cols, effective_from, effective_to,
    is_current); ``changes`` carries (keys, tracked_cols, change_ts). Closed
    versions pass through; current versions of changed keys are closed at
    the change timestamp and a new open version appended; new keys open
    their first version; no-op changes (null-safe identical tracked values)
    are dropped. One shuffle on ``keys``.
    """
    out_cols = [*keys, *tracked_cols, "effective_from", "effective_to", "is_current"]
    closed = history.filter(~F.col("is_current")).select(*out_cols)
    current = history.filter(F.col("is_current"))

    cur_side = current.select(
        *keys,
        F.lit(True).alias("__cur_present"),
        *[F.col(c).alias(f"cur_{c}") for c in tracked_cols],
        F.col("effective_from").alias("cur_from"),
        F.col("effective_to").alias("cur_to"),
    )
    # one change row per key: a batch can legitimately carry several change
    # events for the same key, and joining them all would fan out the
    # full_outer join into multiple open is_current versions. Keep the
    # latest by change_ts (ties: arbitrary-but-deterministic via row_number
    # ordering on the tracked columns) — intermediate versions within one
    # batch are collapsed, matching MERGE semantics.
    w_latest = Window.partitionBy(*keys).orderBy(
        F.col("change_ts").desc(), *[F.col(c).desc_nulls_last() for c in tracked_cols]
    )
    latest_changes = (
        changes.withColumn("__rn", F.row_number().over(w_latest))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    chg_side = latest_changes.select(
        *keys,
        F.lit(True).alias("__chg_present"),
        *[F.col(c).alias(f"chg_{c}") for c in tracked_cols],
        F.col("change_ts").alias("chg_ts"),
    )
    j = cur_side.join(chg_side, on=keys, how="full_outer")
    cur_p = F.coalesce(F.col("__cur_present"), F.lit(False))
    chg_p = F.coalesce(F.col("__chg_present"), F.lit(False))
    differs = _any_tracked_differs(tracked_cols)

    # current version survives untouched: no change row, or a no-op change
    keep_current = j.filter(cur_p & (~chg_p | ~differs)).select(
        *keys,
        *[F.col(f"cur_{c}").alias(c) for c in tracked_cols],
        F.col("cur_from").alias("effective_from"),
        F.col("cur_to").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    # current version closes: a change row with different tracked values
    close_now = j.filter(cur_p & chg_p & differs).select(
        *keys,
        *[F.col(f"cur_{c}").alias(c) for c in tracked_cols],
        F.col("cur_from").alias("effective_from"),
        F.col("chg_ts").alias("effective_to"),
        F.lit(False).alias("is_current"),
    )
    # new open version: changed key, or brand-new key
    open_new = j.filter(chg_p & (~cur_p | differs)).select(
        *keys,
        *[F.col(f"chg_{c}").alias(c) for c in tracked_cols],
        F.col("chg_ts").alias("effective_from"),
        F.lit(None).cast(history.schema["effective_to"].dataType).alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    return closed.unionByName(keep_current).unionByName(close_now).unionByName(open_new)
