"""The one materialization primitive (``operators.skew.materialize``), its
release, and the argument checks that must run before it."""

from __future__ import annotations

import pytest

from youbike_etl_pipeline_spark.operators.skew import (
    _persistent_rdd_ids,
    materialize,
)


def test_local_checkpoint_only_inside_materialize():
    """Every eager checkpoint in the package goes through ``materialize``:
    ``localCheckpoint(`` appears nowhere else under the package."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "youbike_etl_pipeline_spark"
    skew = pkg / "operators" / "skew.py"
    fn = next(
        n
        for n in ast.parse(skew.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "materialize"
    )
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            if "localCheckpoint(" not in line:
                continue
            if path == skew and fn.lineno <= lineno <= fn.end_lineno:
                continue
            offenders.append(f"{path.relative_to(pkg)}:{lineno}")
    assert not offenders, offenders


@pytest.mark.parametrize(
    "needle,owner",
    [("__m_a", "_expand_collapsed_pairs"), ('.alias("__member")', "_exact_collapse")],
)
def test_collapse_and_expand_have_one_owner(needle, owner):
    """The near-duplicate operators share one exact-duplicate collapse and
    one pair expansion: their marker strings appear in the package only
    inside the owning helper of ``operators/dedup.py``."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "youbike_etl_pipeline_spark"
    dedup = pkg / "operators" / "dedup.py"
    fn = next(
        n
        for n in ast.parse(dedup.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == owner
    )
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            if needle not in line:
                continue
            if path == dedup and fn.lineno <= lineno <= fn.end_lineno:
                continue
            offenders.append(f"{path.relative_to(pkg)}:{lineno}")
    assert not offenders, offenders


def test_map_in_pandas_only_inside_map_rows():
    """Every Python row stage of the multimodal family goes through the one
    row-map primitive: ``.mapInPandas(`` and the Arrow batch loop appear in
    ``operators/multimodal.py`` only inside ``_map_rows``."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "youbike_etl_pipeline_spark"
    mm = pkg / "operators" / "multimodal.py"
    fn = next(
        n
        for n in ast.parse(mm.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "_map_rows"
    )
    offenders = [
        f"multimodal.py:{lineno}"
        for lineno, line in enumerate(mm.read_text().splitlines(), 1)
        if (".mapInPandas(" in line or "in batches:" in line or "def fn(batches" in line)
        and not fn.lineno <= lineno <= fn.end_lineno
    ]
    assert not offenders, offenders


def test_map_rows_exact_values_fan_out_and_empty_partitions(spark):
    """``_map_rows``: int64 past 2^53 survives exactly, ``None`` is NULL in
    nullable long/bool/struct fields, one input row maps to 0, 1 or 2
    output rows, and empty partitions (and an empty input) keep the
    declared schema."""
    from pyspark.sql import types as T

    from youbike_etl_pipeline_spark.operators.multimodal import _map_rows

    big = 2**53 + 1  # odd values past 2^53 are not representable as float64
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("j", T.LongType(), True),
            T.StructField("flag", T.BooleanType(), True),
            T.StructField("meta", T.StructType([T.StructField("a", T.StringType(), True)]), True),
        ]
    )

    def row(k: int, n: int) -> "list[tuple]":
        full = (k, 2 * k + 1, True, {"a": str(k)})
        empty = (k, None, None, None)
        return [full, empty][:n]

    # 3 rows over 5 partitions: at least two partitions are empty, and
    # n = 0 / 1 / 2 drops, maps and fans out
    src = spark.range(0, 3, 1, 5).selectExpr(f"id + {big} AS k", "CAST(id AS INT) AS n")
    out = _map_rows(src, ["k", "n"], schema, row)
    assert out.schema == schema
    got = sorted(out.collect(), key=lambda r: (r.k, r.j is not None))
    assert [(r[0], r[1], r[2], None if r[3] is None else r[3].a) for r in got] == [
        (big + 1, 2 * big + 3, True, str(big + 1)),
        (big + 2, None, None, None),
        (big + 2, 2 * big + 5, True, str(big + 2)),
    ]
    empty = _map_rows(src.where("n < 0"), ["k", "n"], schema, row)
    assert empty.schema == schema and empty.collect() == []


def test_materialize_passes_streaming_frames_through(spark):
    stream = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    assert materialize(stream) is stream


def test_clear_releases_every_checkpoint_of_the_run(spark, sf_small):
    """t2, t10 and t7 materialize shared and private checkpoints; one
    ``clear_pair_graph_cache()`` unpersists all of them. Scoped to the ids
    these queries created: other tests share the session."""
    from youbike_etl_pipeline_spark.plans import corpus

    sc = spark.sparkContext
    corpus.clear_pair_graph_cache()
    before = _persistent_rdd_ids(sc)
    got = {
        name: sorted(corpus.CORPUS[name].fn(spark, sf_small).collect())
        for name in ("t2_ngram_jaccard_pairs", "t10_dedup_clusters", "t7_minhash_lsh_dedup")
    }
    new = _persistent_rdd_ids(sc) - before
    assert new, "the queries materialized nothing"
    corpus.clear_pair_graph_cache()
    assert not corpus._PAIR_GRAPH_CACHE
    assert not (_persistent_rdd_ids(sc) & new)
    cached = {i.id() for i in sc._jsc.sc().getRDDStorageInfo() if i.numCachedPartitions()}
    assert not (cached & new)
    # the next run rebuilds from parquet rather than reading a released block
    t2 = corpus.CORPUS["t2_ngram_jaccard_pairs"].fn(spark, sf_small).collect()
    assert sorted(t2) == got["t2_ngram_jaccard_pairs"]


@pytest.mark.parametrize(
    "call",
    ["minhash_lsh_dedup_portable", "sketch_accuracy_audit", "neardup_gate_foreach_batch"],
)
def test_bad_bands_fail_before_any_spark_job(spark, call):
    from youbike_etl_pipeline_spark.operators import dedup
    from youbike_etl_pipeline_spark.streaming import ingest

    docs = spark.range(20).selectExpr("id AS doc_id", "concat('a b c d ', id) AS text")
    stream = (
        spark.readStream.format("rate")
        .load()
        .selectExpr("value AS doc_id", "'en' AS lang", "'a b c d' AS text")
    )
    calls = {
        "minhash_lsh_dedup_portable": lambda: dedup.minhash_lsh_dedup_portable(
            docs, bands=5
        ),
        "sketch_accuracy_audit": lambda: dedup.sketch_accuracy_audit(
            docs, bands=5
        ),
        "neardup_gate_foreach_batch": lambda: ingest.neardup_gate_foreach_batch(
            stream, docs, [], bands=5
        ),
    }
    sc = spark.sparkContext
    group = f"bad-bands-{call}"
    sc.setJobGroup(group, call)
    try:
        with pytest.raises(ValueError, match="evenly divide"):
            calls[call]()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert not spark.streams.active
