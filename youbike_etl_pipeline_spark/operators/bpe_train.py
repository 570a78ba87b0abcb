"""BPE merge-table TRAINING (the learn-merges loop `bpe_apply` consumes).

`t33` computes ONE trainer iteration (pair
statistics); this module runs the full Sennrich learn loop — count
weighted adjacent symbol pairs over the distinct-word vocabulary, take
the best pair, re-segment every word, repeat — as k chained DataFrame
steps, so the learned table fed back through
:func:`..operators.text.bpe_apply_symbols` reproduces the final
segmentation exactly (pinned by tests/test_bpe_train.py).

Reference parity: the reference repo has no tokenizer at all
(SURVEY.md §2 "ext:text-analysis" north-star family; the nearest
reference analogue is the categorical recode table in
notebooks/02:L44-60) — this is a training-data-pipeline extension, like
t50/t53.

Scale design (the same collapse-first discipline as bpe_token_stats):
the loop runs over the DISTINCT-word vocabulary with occurrence
weights, never over raw occurrences — Heaps' law bounds |vocab| ≪
|corpus| at 100 TB, so each iteration is one map-combined pair-count
shuffle over vocab-sized data plus a single-row argmax collect (the
sequential best-pair decision is inherent to BPE training — each
iteration's counts depend on the previous merge's re-segmentation, so
k driver round-trips of ONE ROW each are the algorithm, not a
bottleneck). Re-segmentation is a JVM-side literal `replace` on a
doubled-separator encoding (below) — no Python in the loop.

Doubled-separator merge trick: a segmentation [c,a,t] is encoded
``|c||a||t|`` (every boundary carries TWO pipes, each end one). A
single merge (a,b) is then EXACTLY the plain left-to-right
non-overlapping ``replace(s, '|a||b|', '|ab|')``: adjacent matches
never share a character (each boundary has two pipes, the match
consumes one from each side), and for self-pairs (a,a) the
resume-after-replacement semantics of `replace` IS the left-to-right
greedy pairing (a run of n ``a``s merges to floor(n/2) pairs — the
same L2R property tests/test_bpe.py pins for the apply side). This
keeps BOTH the engine and the DuckDB oracle recursion-free: the t56
oracle unrolls k iterations as plain chained CTEs with the identical
`replace`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.readers import local_frame


def segment_init() -> "F.Column":
    """Doubled-separator character segmentation of column ``w``: 'cat' ->
    '|c||a||t|'.

    Mirrored verbatim in the oracle as
    ``regexp_replace(w, '(.)', '|\\1|', 'g')``."""
    return F.regexp_replace(F.col("w"), "(.)", "|$1|")


def merge_once(seg_col: "F.Column", a: str, b: str) -> "F.Column":
    """Apply ONE learned merge (a, b) left-to-right-greedily via the
    doubled-separator literal replace (module docstring)."""
    return F.replace(seg_col, F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|"))


def _n_syms(seg_col: "F.Column") -> "F.Column":
    """Symbol count of a doubled-separator segmentation: pipe chars are
    exactly 2 per symbol ('|c||a||t|' has 6 for 3 symbols)."""
    return (
        (F.length(seg_col) - F.length(F.replace(seg_col, F.lit("|"), F.lit(""))))
        / F.lit(2)
    ).cast("long")


def _pair_counts(seg: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts over a segmented vocabulary.

    OVERLAPPING adjacency (Sennrich learn_bpe posture: 'aaa' contributes
    (a,a) twice even though a later merge would only pair once) — the
    per-position transform below counts every i/i+1 pair. Guarded
    against Spark's descending-``sequence(1, 0)`` trap for one-symbol
    words (memory: sequence(1,0) yields [1, 0], not [])."""
    syms = F.split(F.regexp_replace(F.col("s"), r"^\||\|$", ""), r"\|\|")
    pairs = F.when(
        F.size(syms) > 1,
        F.expr(
            "transform(sequence(1, size(syms) - 1), "
            "i -> struct(element_at(syms, i) AS pa, "
            "element_at(syms, i + 1) AS pb))"
        ),
    ).otherwise(F.expr("array()"))
    return (
        seg.withColumn("syms", syms)
        .select(F.col("cnt"), F.explode(pairs).alias("p"))
        .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.sum("cnt").alias("pc"))
    )


def bpe_train_merges(df: DataFrame, k: int = 5) -> DataFrame:
    """Learn the first ``k`` BPE merges from a corpus; returns one row
    per iteration: ``(it, sym_a, sym_b, pair_cnt, vocab_tokens)`` where
    ``vocab_tokens`` is the corpus token total AFTER applying merges
    1..it (occurrence-weighted — it pins the apply side of every
    iteration, not just the argmax).

    Ties break deterministically (count DESC, sym_a ASC, sym_b ASC) —
    identical in the oracle. Stops early if the vocabulary is fully
    merged (no adjacent pairs remain)."""
    spark = df.sparkSession
    words = df.select(
        F.explode(
            F.regexp_extract_all(
                F.lower(F.coalesce(F.col("text"), F.lit(""))),
                F.lit("[a-z]+"),
                0,
            )
        ).alias("w")
    )
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    seg = vocab.select("cnt", segment_init().alias("s"))
    seg.cache()
    rows = []
    cached = [seg]
    try:
        for it in range(1, k + 1):
            best = (
                _pair_counts(seg)
                .orderBy(F.desc("pc"), F.asc("pa"), F.asc("pb"))
                .limit(1)
                .collect()
            )
            if not best:
                break
            a, b, pc = best[0]["pa"], best[0]["pb"], best[0]["pc"]
            seg = seg.select("cnt", merge_once(F.col("s"), a, b).alias("s"))
            seg.cache()
            cached.append(seg)
            tok = seg.agg(
                F.sum(F.col("cnt") * _n_syms(F.col("s"))).alias("t")
            ).collect()[0]["t"]
            rows.append((it, a, b, int(pc), int(tok)))
    finally:
        for c in cached:
            c.unpersist()
    return local_frame(
        spark, rows, "it int, sym_a string, sym_b string, pair_cnt bigint, vocab_tokens bigint"
    )
