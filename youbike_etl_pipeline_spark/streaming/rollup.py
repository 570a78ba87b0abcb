"""Incremental rollup maintenance (hypertable-continuous-aggregate shape).

The reference recomputes its hourly analyses from scratch each notebook run;
at 100 TB a rollup must be maintained incrementally: each micro-batch
contributes *mergeable partials* (sum/count/min/max — algebraic aggregates),
which are merged into the standing rollup by key. Finalization (avg =
sum/count) happens only at read time, so merges stay exact and associative.

Usage inside ``foreachBatch``::

    rollup = IncrementalRollup(keys=["hour_key", "event_type"], value_col="value")
    stream.writeStream.foreachBatch(lambda b, _: rollup.update(b)).start()
    rollup.finalize()   # -> hour_key, event_type, n, sum, min, max, avg

State is a plain DataFrame — persist it to parquet/Delta between restarts;
the merge is one outer join on the rollup key (the standing side stays
small: one row per key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.aggregations import decimal_sum
from ..operators.skew import materialize


class IncrementalRollup:
    def __init__(self, keys: list[str], value_col: str):
        self.keys = keys
        self.value_col = value_col
        self.state: DataFrame | None = None

    def _partials(self, batch: DataFrame) -> DataFrame:
        v = F.col(self.value_col)
        return batch.groupBy(*self.keys).agg(
            F.count(v).alias("n"),
            decimal_sum(v).alias("sum"),
            F.min(v).alias("min"),
            F.max(v).alias("max"),
        )

    def update(self, batch: DataFrame) -> None:
        """Merge one micro-batch's partials into the standing rollup.
        Exact: counts/sums add (decimal-backed), min/max combine."""
        p = self._partials(batch)
        if self.state is None:
            self.state = p
            return
        a = self.state.select(
            *self.keys,
            *[F.col(c).alias(f"a_{c}") for c in ("n", "sum", "min", "max")],
        )
        b = p.select(
            *self.keys,
            *[F.col(c).alias(f"b_{c}") for c in ("n", "sum", "min", "max")],
        )
        merged = a.join(b, on=self.keys, how="full_outer").select(
            *self.keys,
            (F.coalesce("a_n", F.lit(0)) + F.coalesce("b_n", F.lit(0))).alias("n"),
            (F.coalesce("a_sum", F.lit(0.0)) + F.coalesce("b_sum", F.lit(0.0))).alias("sum"),
            F.least(
                F.coalesce("a_min", F.col("b_min")), F.coalesce("b_min", F.col("a_min"))
            ).alias("min"),
            F.greatest(
                F.coalesce("a_max", F.col("b_max")), F.coalesce("b_max", F.col("a_max"))
            ).alias("max"),
        )
        # break the growing lineage chain: the state is one row per key
        # (held in executor storage: a release between merges loses it)
        self.state = materialize(merged)

    def finalize(self) -> DataFrame:
        if self.state is None:
            raise ValueError("no batches merged yet")
        return self.state.withColumn("avg", F.col("sum") / F.col("n"))
