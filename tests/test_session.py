"""The session posture of ``session.get_spark``: the generated-code cache
holds a workload's classes, so a steady-state rerun barely compiles, and the
default driver heap fits the host."""

from __future__ import annotations

from youbike_etl_pipeline_spark import session
from youbike_etl_pipeline_spark.plans import corpus

#: The similarity workload's corpus queries that run on the small tables
#: (t10 reads the pair graph t2 leaves in the session cache).
SIMILARITY_QUERIES = (
    "t2_ngram_jaccard_pairs", "t10_dedup_clusters", "t7_minhash_lsh_dedup",
    "t49_prefix_filter_jaccard", "j11_interval_overlap_join",
    "m25_poisson_bootstrap_ci", "t46_containment_pairs",
)


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _round(spark, sf_dir: str) -> None:
    corpus.clear_pair_graph_cache()
    for name in SIMILARITY_QUERIES:
        corpus.CORPUS[name].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()


def test_steady_state_rerun_hits_the_codegen_cache(spark, sf_small):
    """One round generates ~250 distinct classes, more than Spark's default
    100-entry cache holds; with the session's cache the second round finds
    nearly all of them compiled (a few plans differ from run to run)."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_ENTRIES
    )
    _round(spark, sf_small)
    before = _compiles(spark)
    _round(spark, sf_small)
    recompiled = _compiles(spark) - before
    assert recompiled <= 32, f"second round compiled {recompiled} classes"


def test_driver_memory_is_half_the_host_up_to_16g():
    gib = 1 << 30
    assert session.driver_memory(64 * gib) == "16384m"
    assert session.driver_memory(32 * gib) == "16384m"
    assert session.driver_memory(15 * gib) == "7680m"
    assert session.driver_memory(15 * gib + 12345) == "7680m"
    assert session.driver_memory(2 * gib) == "1024m"
