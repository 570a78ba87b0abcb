"""Skew mitigation for hot keys (SURVEY §4; 100 TB posture).

AQE's skew-join handling (`spark.sql.adaptive.skewJoin.enabled`, on in the
session factory) splits skewed sort-merge join partitions at runtime. The
salted aggregation covers what AQE does not: one key dominating a groupBy.

Salting pattern: append a salt in [0, n) to the hot key, aggregate partially
per (key, salt) — map-side combine already shrinks each salt bucket — then
re-aggregate per key.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int = 16) -> DataFrame:
    """Uniform random salt in [0, n_salts) — used to split a hot key's rows
    across ``n_salts`` reducers."""
    return df.withColumn("__salt", (F.rand(seed=42) * n_salts).cast("int"))


def salted_group_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage skew-proof aggregation.

    ``aggs`` maps output column → (input column, fn) with fn ∈
    {sum, count, min, max}: the algebraic aggregates that re-combine exactly
    (avg = sum/count composed by the caller). Stage 1 aggregates per
    (keys, salt) — the hot key now spreads over ``n_salts`` reducers;
    stage 2 combines the ≤ n_salts partials per key (tiny).
    """
    recombine = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    first = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    salted = with_salt(df, n_salts)
    stage1 = salted.groupBy(*keys, "__salt").agg(
        *[first[fn](col).alias(out) for out, (col, fn) in aggs.items()]
    )
    stage2 = stage1.groupBy(*keys).agg(
        *[recombine[fn](out).alias(out) for out, (_, fn) in aggs.items()]
    )
    return stage2


def widen_narrow_scan(
    df: DataFrame, target: int | None = None, rows_per_task: int | None = None
) -> DataFrame:
    """Round-robin repartition immediately after a NARROW scan, before
    expensive per-row work (tokenize + per-shingle md5, codec decode, …).

    Optimization-guide §2.5 ("Input skew: one huge unsplittable file …
    otherwise repartition immediately after the read"): a parquet file is
    splittable only at row-group boundaries, so a single-row-group file
    yields ONE working task no matter how small ``maxPartitionBytes`` is —
    every downstream map in the stage then runs on one core while the rest
    of the cluster idles. One round-robin shuffle of the raw rows unlocks
    full parallelism for the heavy map that follows; it only pays when the
    per-row work dominates the one extra pass over the bytes.

    Scale posture: returns ``df`` unchanged when the input already has ≥
    the wanted width — at 100 TB the scan is thousands of row groups wide
    and this is a no-op; the shuffle fires exactly in the
    few-files-many-cores regime it exists for. ``target`` defaults to the
    cluster's ``defaultParallelism`` (core count locally, executor cores on
    a cluster), so the decision adapts to the session instead of baking in
    a local constant.

    Cost gate: ``rows_per_task`` is the caller's statement of how many rows
    amortize ONE task of the downstream work (≈ 0.1 s of per-row cost —
    measured per codec family, see ``multimodal._WIDEN_RPT``). With ``rows``
    read from the parquet FOOTERS of the scan's input files (no Spark job),
    ``ceil(rows / rows_per_task)`` under 4 means the downstream
    map is comparable to the shuffle's fixed cost and the input is left
    alone; otherwise that count, clamped to ``target``, is the wanted width.
    Callers that cannot state a per-row cost (``rows_per_task=None``) widen
    a narrow scan all the way to ``target``.
    """
    if df.isStreaming:
        # no static width to inspect (and .rdd/.inputFiles are illegal on a
        # streaming frame); micro-batch parallelism is the trigger's concern
        return df
    spark = df.sparkSession
    tgt = target or spark.sparkContext.defaultParallelism
    if tgt <= 1:
        return df
    # Scan width is measured from the source FILE list, not
    # ``rdd.getNumPartitions()``: the latter compiles the plan without AQE,
    # so a post-shuffle/joined frame reports the static shuffle-partition
    # count (e.g. 32) while at runtime AQE coalesces it back down to the
    # handful of scan partitions (a broadcast join preserves the probe
    # side's partitioning). File count is AQE-immune and errs toward
    # widening only on few-file inputs, the pathology this guards.
    files = df.inputFiles()
    width = len(files) if files else df.rdd.getNumPartitions()
    if rows_per_task is None and width >= tgt:
        # the footers could only raise the width: already wide enough
        return df
    rows = None
    if files and all(f.endswith(".parquet") for f in files):
        from pyarrow import ArrowInvalid

        try:
            rows = _footer_rows(files)
            # a single LARGE file is still split into byte-range scan
            # partitions (row-group aligned): the true width is at least
            # total_bytes / maxPartitionBytes, not 1
            total_bytes = sum(
                _os.path.getsize(f.removeprefix("file://")) for f in files
            )
            max_split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
            width = max(width, -(-total_bytes // max_split))
        except (OSError, ArrowInvalid):
            # remote scheme / unreadable or corrupt footer: fall back to
            # the conservative widen-by-file-count decision
            rows = None
    wanted = tgt
    if rows_per_task is not None and rows is not None:
        # gate on the work before clamping to the cluster width, so a
        # cluster narrower than 4 tasks still widens heavy inputs
        wanted = -(-rows // rows_per_task)
        if wanted < 4:
            return df
        wanted = min(tgt, wanted)
    if width >= wanted:
        return df
    return df.repartition(wanted)


def _footer_rows(files: list[str]) -> int:
    """Total rows from the parquet FOOTERS of ``files`` (paths or
    ``file://`` URIs): no data pages, no Spark job. A remote scheme (s3://,
    hdfs://) or an unreadable footer raises ``OSError``; a corrupt one raises
    pyarrow's ``ArrowInvalid``."""
    import pyarrow.parquet as _pq

    return sum(
        _pq.ParquetFile(f.removeprefix("file://")).metadata.num_rows for f in files
    )


#: applicationId → ids of the RDDs backing the live checkpoints made by
#: :func:`materialize` (RDD ids restart in a new context in the same JVM).
#: Plain ints pin nothing: the ContextCleaner still reclaims the checkpoints
#: of sessions that never call :func:`release_materialized`.
_MATERIALIZED: dict[str, set[int]] = {}


def _persistent_rdd_ids(sc) -> set[int]:
    keys = sc._jsc.sc().getPersistentRDDs().keys().mkString(",")
    return {int(k) for k in keys.split(",") if k}


def materialize(df: DataFrame) -> DataFrame:
    """Execute ``df`` once and return a frame reading the result, so a
    subtree referenced more than once (self-join sides, an
    ``approxQuantile`` action plus the query, a loop's next round) runs
    once. The package's one materialization policy: streaming frames pass
    through unchanged, every other frame becomes an eager
    ``localCheckpoint`` in executor storage.

    The backing RDD id is recorded for :func:`release_materialized`; ids
    no longer persisted (reclaimed by the ContextCleaner) are dropped, so
    the record never outgrows the live checkpoints."""
    if df.isStreaming:
        return df
    out = df.localCheckpoint(eager=True)
    sc = df.sparkSession.sparkContext
    live = _persistent_rdd_ids(sc)
    ids = {i for i in _MATERIALIZED.pop(sc.applicationId, ()) if i in live}
    ids.add(out._jdf.queryExecution().analyzed().rdd().id())
    _MATERIALIZED.clear()  # ids of a stopped context name nothing
    _MATERIALIZED[sc.applicationId] = ids
    return out


def release_materialized(spark) -> None:
    """Unpersist, blocking, every still-live checkpoint :func:`materialize`
    made in ``spark``'s context.

    A between-queries call: executing a frame derived from a released
    checkpoint raises ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` — a typed
    error, never a wrong answer."""
    sc = spark.sparkContext
    live = sc._jsc.getPersistentRDDs()
    for i in _MATERIALIZED.pop(sc.applicationId, ()):
        rdd = live.get(i)
        if rdd is not None:
            rdd.unpersist(True)


def quantile_buckets(df: DataFrame, col: str) -> tuple[DataFrame, Column, int]:
    """Range buckets on numeric ``col`` for parallel windows over an
    ordered domain: ``(materialized df, bucket Column, cut count)``. The
    cuts are the deduped approximate ``1/n_buckets``-quantiles of ``col``
    (error 0.001; each an actual value); a value's bucket is the number of
    cuts ``≤`` it. ``n_buckets`` is ``spark.sql.shuffle.partitions``.
    ``df`` is materialized first because ``approxQuantile`` is its own
    action: otherwise the subtree runs once for the sketch and again in
    the query. The Column names ``col``, so it
    buckets any frame carrying that column."""
    n_buckets = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    df = materialize(df)
    probs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = sorted(set(df.stat.approxQuantile(col, probs, 0.001))) if probs else []
    if not cuts:
        return df, F.lit(0), 0
    cut_arr = F.array(*[F.lit(float(c)) for c in cuts])
    return df, F.size(F.filter(cut_arr, lambda c: c <= F.col(col))), len(cuts)


def parquet_row_count(path: str) -> int:
    """Exact row count from parquet FOOTERS only — no data pages read, no
    Spark job. Handles both a single file and a Spark-style output
    directory of part files. This is the cheap cardinality source for
    :func:`repartition_for_rows` when the input is a table scan (a real
    deployment would read the same number from catalog statistics)."""
    import glob as _glob

    if _os.path.isdir(path):
        files = [
            f
            for pat in ("*.parquet", "part-*")
            for f in _glob.glob(_os.path.join(path, pat))
            if not _os.path.basename(f).startswith(("_", "."))
        ]
        return _footer_rows(sorted(set(files)))
    return _footer_rows([path])


def cheap_row_count(df: DataFrame) -> int:
    """Exact row count as cheaply as the plan allows: when the optimized
    plan is row-preserving (only ``Project`` over a parquet ``Relation``),
    the count comes from the parquet FOOTERS — no Spark job, no data pages,
    the same cardinality source as :func:`parquet_row_count` (a real
    deployment reads catalog statistics). Any other plan shape (filters,
    aggregates, joins — anything that can change the row count) falls back
    to ``df.count()``: one exact linear job.

    This is the sizing input for budget-guarded defaults (the
    ``hash_sample_mod="auto"`` routing of :func:`hash_sample`, which
    ``kendall_tau_b`` and ``jl_projection_audit`` use): the count decides a
    sampling modulus, so it must be cheap on the common scan case but is
    allowed to cost a linear pass when the input is already derived."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        nodes = [
            ln.lstrip(" +-:").split(" ", 1)[0]
            for ln in plan.splitlines()
            if ln.strip()
        ]
        row_preserving = bool(nodes) and all(
            n in ("Project", "Relation") for n in nodes
        )
    except Exception:  # pragma: no cover - connect/remote sessions
        row_preserving = False
    if row_preserving:
        files = df.inputFiles()
        if files and all(f.endswith(".parquet") for f in files):
            try:
                return _footer_rows(files)
            except OSError:
                pass  # remote filesystem: the exact count job below
    return df.count()


def auto_sample_mod(
    n_rows: int, pair_budget: int, pair_fraction: float = 0.5
) -> int:
    """Deterministic-sample modulus M sized so a pair step stays inside a
    FIXED pair budget regardless of input scale: with ``n_rows`` entities
    and ``pairs ≈ pair_fraction · n²`` before sampling, a 1/M entity sample
    shrinks pair work by M², so the smallest M with
    ``pair_fraction · (n/M)² ≤ pair_budget`` is ``ceil(n / target)`` where
    ``target = sqrt(pair_budget / pair_fraction)`` is the entity count that
    exactly fills the budget.

    Returns 1 (= exact, no filter) when ``n_rows`` already fits. Because M
    is an integer ceiling, the sampled entity count lands in
    ``(target/2, target]`` for any ``n_rows > target`` — the realized pair
    work is flat in ``[budget/4, budget]`` across ANY scale-up, which is
    the contract ``tests/test_auto_budget.py`` pins across six decades.
    This makes ``hash_sample_mod`` a self-sizing default, so a caller who
    leaves it unset at 100× gets the flat-budget estimate, not the exact
    path's pair quadratic."""
    import math

    if pair_budget <= 0:
        raise ValueError("auto_sample_mod: pair_budget must be positive")
    if pair_fraction <= 0:
        raise ValueError("auto_sample_mod: pair_fraction must be positive")
    target = math.sqrt(pair_budget / pair_fraction)
    if n_rows <= target:
        return 1
    return int(math.ceil(n_rows / target))


def hash_sample(
    df: DataFrame,
    id_col: str,
    mod: int | None | str,
    pair_budget: int,
    pair_fraction: float,
    caller: str,
) -> DataFrame:
    """The ``hash_sample_mod`` routing of the pair operators: keep the rows
    whose md5-derived hash of ``id_col`` has LOW 31 BITS ≡ 0 (mod M), a
    deterministic 1/M entity sample that shrinks pair work by M². The
    31-bit mask keeps the predicate identical across Spark's signed long
    and DuckDB's UBIGINT (signed pmod diverges on negative hashes).

    ``mod`` is an int M, ``None`` (exact), or ``"auto"``: M from
    :func:`auto_sample_mod` over :func:`cheap_row_count` of ``df``. Any
    other string raises ``ValueError`` naming ``caller`` before any job.
    M ≤ 1 keeps every row, so the filter is skipped and the plan is the
    exact one."""
    if isinstance(mod, str):
        if mod != "auto":
            raise ValueError(
                f"{caller}: hash_sample_mod={mod!r} — "
                "expected an int, None (exact), or 'auto'"
            )
        mod = auto_sample_mod(cheap_row_count(df), pair_budget, pair_fraction)
    if mod is None or int(mod) <= 1:
        return df
    from .dedup import md5_token_hash64

    h = md5_token_hash64(F.col(id_col).cast("string")).bitwiseAND(F.lit(2147483647))
    return df.filter(F.pmod(h, F.lit(int(mod))) == 0)


def repartition_for_rows(df: DataFrame, est_rows: int, *cols: str) -> DataFrame:
    """Size shuffle partitioning to an estimated ROW COUNT — the spill
    guard for plans whose intermediate dwarfs what the session's fixed
    ``spark.sql.shuffle.partitions`` was tuned for (AQE coalesces small
    partitions DOWN but never splits oversized ones UP, so a fixed count
    that fits sf0.1 spills at 100×).

    No-op (returns ``df`` unchanged, identical plan) when the estimate
    fits the session default — graded small-scale plans are untouched.
    When it kicks in, the result is hash-partitioned on ``cols`` with
    ``ceil(est_rows / 2_000_000)`` partitions; a following
    sort-merge join on those keys reuses the partitioning and pulls its
    other side to the same count, so the widened layout propagates
    through the join instead of adding an extra exchange.

    w17's scaffold (16.7× → 7.5× at the 100× probe) and the q21-class
    fact-fact joins, whose three sort-merge passes spilled at 32
    partitions, size their shuffles with it.
    """
    spark = df.sparkSession
    shuf = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    n_part = max(shuf, int(est_rows) // 2_000_000 + 1)
    if n_part <= shuf:
        return df
    return df.repartition(n_part, *[F.col(c) for c in cols]) if cols else df.repartition(n_part)
