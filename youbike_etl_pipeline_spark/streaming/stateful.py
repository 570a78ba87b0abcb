"""Custom stateful streaming operators via ``applyInPandasWithState``
(SURVEY §2.8; the pattern the pyspark guide flags for operators Spark's
built-in streaming aggregations can't express).

The example operator keeps an explicit per-user GroupState — running max and
event count — updated per micro-batch. Unlike a windowed aggregation, the
state shape is arbitrary Python-visible data (the hook for custom sketches,
session machines, model state, …); Spark handles state storage, recovery
from checkpoints, and timeout-based eviction.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = "running_max double, n long"
OUTPUT_SCHEMA = "user_id long, running_max double, n long"


def _update_user_stats(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-group state update: fold each micro-batch's rows into the
    (running_max, n) state, emit the refreshed state row."""
    if state.exists:
        running_max, n = state.get
    else:
        running_max, n = float("-inf"), 0
    for pdf in pdfs:
        if len(pdf):
            running_max = max(running_max, float(pdf["value"].max()))
            n += int(len(pdf))
    state.update((running_max, n))
    yield pd.DataFrame({"user_id": [key[0]], "running_max": [running_max], "n": [n]})


def running_user_stats(events: DataFrame) -> DataFrame:
    """Attach the stateful operator to a streaming events frame."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_stats,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def running_user_stats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the stateful operator over the finite events source to
    completion; returns the final per-user state rows (update mode emits one
    row per state refresh — the memory sink keeps the latest per key via a
    max on n)."""
    from .ingest import read_events_stream, run_stream_to_memory

    events = read_events_stream(spark, sf_dir)
    out = run_stream_to_memory(running_user_stats(events), output_mode="update")
    # update-mode sinks may hold multiple refreshes per key: keep the final
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("user_id").orderBy(F.col("n").desc())
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
