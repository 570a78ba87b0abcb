"""Projection / rename / dedup / filter / null-handling (SURVEY §2.2 P1-P12).

All pure DataFrame transformations — Catalyst folds them into the scan
(column pruning + predicate pushdown), so they cost nothing extra at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Synonym map for station-id columns across sources
#: (reference ``notebooks/03_data_merge.ipynb:L56-L63``).
STATION_KEY_SYNONYMS = {
    "sno": "station_no",
    "SNO": "station_no",
    "StationUID": "station_no",
    "station_id": "station_no",
}


def rename_synonyms(df: DataFrame) -> DataFrame:
    """Guarded synonym rename (P3): apply ``old → new`` only when ``old``
    exists and ``new`` is not already present, avoiding duplicate targets
    (reference ``notebooks/03_data_merge.ipynb:L56-L63``)."""
    out = df
    for old, new in STATION_KEY_SYNONYMS.items():
        if old in out.columns and new not in out.columns:
            out = out.withColumnRenamed(old, new)
    return out


def dedup_by_key(df: DataFrame, keys: list[str], order_by: list[str] | None = None) -> DataFrame:
    """Deduplicate by key (P4).

    Plain ``dropDuplicates(keys)`` keeps an *arbitrary* row per key —
    nondeterministic under distribution. When ``order_by`` is given, keep the
    first row per key under that ordering instead (deterministic; one shuffle
    on ``keys`` either way)."""
    if not order_by:
        return df.dropDuplicates(keys)
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )
