"""SparkSession factory.

One place to encode the engine's execution posture: AQE on (runtime re-plan,
skew-join handling, partition coalescing), UTC session timezone (oracle parity
and tz-normalization sanity — reference normalizes Asia/Taipei → UTC at ingest,
``etl_job.py:106-109``), Arrow enabled for the pandas-UDF slow path, and a
shuffle-partition count sized to the machine instead of the 200 default.

Generated code is compiled once per session: Spark keeps each whole-stage
class in an LRU cache of ``spark.sql.codegen.cache.maxEntries`` entries
(default 100), and on small, driver-bound queries compiling the plan costs
more CPU than running it. One pass of the similarity workload generates ~250
distinct classes and the whole oracle-bearing corpus ~3.6k, so the default
cache evicts everything between passes and every rerun recompiles.
:data:`CODEGEN_CACHE_ENTRIES` holds the corpus working set with headroom;
its bounded Metaspace cost is tens of MB.

At cluster scale the same builder is used with ``master`` unset (picked up from
spark-submit) — nothing here is local-mode-specific except the defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
#: Generated-class cache size. A static conf: it takes effect only when set
#: before the JVM's first codegen, as building the session here does.
CODEGEN_CACHE_ENTRIES = 4096
#: Upper bound of the default driver heap.
MAX_DRIVER_MEMORY = 16 << 30


def driver_memory(physical_bytes: int) -> str:
    """Default ``spark.driver.memory`` for a host with ``physical_bytes`` of
    RAM: half of it, at most :data:`MAX_DRIVER_MEMORY`, in MiB. A heap as
    large as the host would let the JVM grow until the host runs out."""
    return f"{min(MAX_DRIVER_MEMORY, physical_bytes // 2) >> 20}m"


def host_driver_memory() -> str:
    """:func:`driver_memory` for this host's physical RAM."""
    return driver_memory(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))


def get_spark(
    app_name: str = "youbike_etl_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    Parameters mirror what a deployment would tune: ``master`` defaults to
    ``local[N]`` with N = available cores (the driver harness overrides via
    ``SPARK_GRAFT_CPUS``); ``shuffle_partitions`` should approximate total
    cores locally and ~2-3× total executor cores on a cluster.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Split small files into more input partitions than the 128 MB
        # default would (one bench-scale parquet file = ONE partition = one
        # core for every downstream explode/self-join until the first
        # shuffle). 4 MB keeps bench-scale scans wide without producing
        # absurd task counts; on a real cluster this is the same knob you'd
        # tune per-workload, and CPU-heavy per-row operators additionally
        # widen narrow scans through ``operators.skew.widen_narrow_scan``,
        # gated on their per-row cost, because no static split size is
        # right for every per-row cost.
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.files.openCostInBytes", "262144")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or host_driver_memory())
    )
    if master:
        builder = builder.config("spark.master", master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.config("spark.master", f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
