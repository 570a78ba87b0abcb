"""Sinks with the reference's idempotence semantics (SURVEY §2.1 S7-S11).

The reference gets idempotent loads from a DB unique key + swallowed
``IntegrityError`` (``sql/init_schema.sql:17``, ``etl_job.py:128-132``) and
insert-if-absent dims from an anti-join against existing PKs
(``etl_job.py:121-126``). Spark-first equivalents: dedup-before-append on the
natural key, and a ``left_anti`` join upsert — both shuffle only on the key
and broadcast the existing-keys side when it is small.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_parquet(df: DataFrame, path: str, mode: str = "append", partition_by: list[str] | None = None) -> None:
    """Parquet sink; partition by low-cardinality date-ish columns so future
    reads get partition pruning (the 100 TB fact table is date-partitioned)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table (hash-clustered storage): a later equi-join or
    aggregation on ``bucket_cols`` between tables bucketed the same way runs
    with ZERO shuffle (verified in ``tests/test_scale_features.py``). The
    100 TB co-location strategy: pay the shuffle once at write time, reuse
    the partitioning for every downstream join."""
    writer = df.write.format("parquet").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.mode(mode).saveAsTable(table)


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    dest_path: str,
    target_file_bytes: int = 128 << 20,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-files compaction (the OPTIMIZE pattern): size the output file
    count from the source's actual bytes, rewrite with optional
    ``sortWithinPartitions`` clustering so per-file column min/max stats are
    tight (row-group skipping on later reads). Returns the output file
    count. Listing goes through the Hadoop FS API, so any scheme (s3a/gs/
    hdfs/file) works; the data itself never touches the driver."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(src_path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(hpath).getLength()
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))
    df = spark.read.parquet(src_path).repartition(n_files)
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    df.write.mode("overwrite").parquet(dest_path)
    return n_files


def zorder_value(
    cols: list[F.Column],
    mins: list[float],
    maxs: list[float],
    bits: int = 16,
) -> F.Column:
    """Morton (Z-order) key: each column quantized to ``bits`` levels over
    its [min, max] range, then bit-interleaved. Points close in EVERY
    dimension get close z-values, so range-partitioning + sorting by z
    clusters multi-dimensional locality into the same files — the layout
    trick behind Delta/Iceberg OPTIMIZE ZORDER. Pure integer expressions
    (shift/or), codegen'd; the bit loop is plan construction, not per-row
    Python.

    ``k * bits`` must fit in the 63 value bits of a Java long: with the
    default ``bits=16`` the interleaved shift reaches ``b*k + i = 63`` at
    k=4 (sign bit) and wraps mod 64 beyond that, silently scrambling
    high-order z-bits. Auto-reduces ``bits`` to ``63 // k`` (clustering
    degrades gracefully; wrong interleaving does not)."""
    k = len(cols)
    if k * bits > 63:
        bits = 63 // k
    quantized = []
    for c, lo, hi in zip(cols, mins, maxs):
        span = (hi - lo) or 1.0
        q = F.floor((c.cast("double") - F.lit(lo)) / F.lit(span) * F.lit((1 << bits) - 1))
        q = F.greatest(F.lit(0), F.least(F.lit((1 << bits) - 1), q)).cast("long")
        quantized.append(q)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, q in enumerate(quantized):
            bit = F.shiftright(q, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * k + i))
    return z


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet write: range-partition + sort on the Morton
    key of ``cols`` so every output file covers a tight hyper-rectangle of
    the key space — point/range predicates on ANY of the z-ordered columns
    skip most row groups via parquet min/max stats. Column ranges come from
    one min/max aggregation (driver-side scalars, not data)."""
    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c).cast("double")), F.max(F.col(c).cast("double"))]
    row = df.agg(*aggs).collect()[0]
    mins = [row[2 * i] for i in range(len(cols))]
    maxs = [row[2 * i + 1] for i in range(len(cols))]
    z = zorder_value([F.col(c) for c in cols], mins, maxs, bits)
    out = df.withColumn("__z", z)
    if n_files is None:
        n_files = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    (
        out.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def write_csv(df: DataFrame, path: str, single_file: bool = False, encoding: str = "UTF-8") -> None:
    """CSV sink (S10). ``single_file=True`` matches the reference's one-file
    ``to_csv`` exports (``notebooks/03_data_merge.ipynb:L91``) — only for
    small result sets; large outputs stay multi-part.

    ``UTF-8-SIG`` (the reference's Excel-friendly Tableau export encoding,
    ``06_tableau_master_dataset.ipynb:L86``) is not a JVM charset — emulated
    by writing UTF-8 and prepending the BOM to each part file afterwards.
    """
    want_bom = encoding.upper() in ("UTF-8-SIG", "UTF-8_SIG")
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).option(
        "encoding", "UTF-8" if want_bom else encoding
    ).csv(path)
    if want_bom:
        import glob

        for part in glob.glob(f"{path}/*.csv"):
            with open(part, "rb") as f:
                data = f.read()
            if not data.startswith(b"\xef\xbb\xbf"):
                with open(part, "wb") as f:
                    f.write(b"\xef\xbb\xbf" + data)


def append_dedup(new_rows: DataFrame, existing: DataFrame | None, keys: list[str]) -> DataFrame:
    """Insert-if-absent, the one load rule of both warehouse tables: rows
    of ``new_rows``, one per ``keys``, whose ``keys`` are not present in
    ``existing`` (all of them when there is no existing table yet).

    Duplicate-tolerant fact load (S8): the reference's unique-key-rejects-
    dups semantics (``sql/init_schema.sql:17``; ``etl_job.py:128-132``) —
    dedup within the batch, then anti-join against already-loaded keys, so
    re-running the same batch is a no-op without a transactional store.
    Dimension upsert (S9): ``df_info[~station_no.isin(existing)]``
    (``etl_job.py:121-126``). The batch pipeline and the streaming
    ``foreachBatch`` upsert both run this one function. The loaded side is
    not deduplicated: duplicate keys there cannot change an anti-join, and
    a dedup would aggregate the whole growing table on every load.
    """
    batch = new_rows.dropDuplicates(keys)
    if existing is None:
        return batch
    return batch.join(existing.select(*keys), on=keys, how="left_anti")


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    properties: dict[str, str] | None = None,
    num_partitions: int | None = None,
    batchsize: int = 10_000,
) -> None:
    """JDBC append sink (S7). ``numPartitions`` bounds concurrent connections
    (the reference's SQLAlchemy pool analogue, ``etl_job.py:55-61``);
    ``batchsize`` batches inserts per round-trip."""
    out = df.coalesce(num_partitions) if num_partitions else df
    writer = out.write.format("jdbc").option("url", url).option("dbtable", table).option(
        "batchsize", str(batchsize)
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.mode(mode).save()
