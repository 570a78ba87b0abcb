"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash, and
embedding-cosine near-dup — each designed partition-aware:

- Exact dedup is one shuffle on a 128-bit content hash.
- Jaccard all-pairs uses an inverted shingle index (explode → self-join on
  shingle → count) — the standard scalable formulation; ubiquitous shingles
  are dropped by a document-frequency cap to bound join skew.
- MinHash+LSH replaces the quadratic candidate step with banded signature
  buckets: only documents sharing a band bucket are compared, so the join
  is equi- on (band, bucket-hash) — linear-ish in practice at 100 TB.
- SimHash pairs documents whose 64-bit sketches are close in Hamming
  distance, found via chunk-banding (pigeonhole: distance ≤ 3 ⇒ some
  16-bit chunk equal).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.readers import local_frame
from .skew import materialize
from .text import tokens, word_shingles_from_tokens


def exact_dedup(df: DataFrame) -> DataFrame:
    """Exact dedup: keep the lowest-id document per identical content hash.
    One shuffle on md5(text); deterministic survivor choice.

    NULL semantics: ``md5(NULL)`` is NULL and GROUP BY treats NULLs as
    equal, so all NULL-text rows collapse into ONE group (content_hash
    NULL) — standard SQL semantics, mirrored exactly by the DuckDB oracle.
    If NULL text means "content unknown" rather than "empty", filter nulls
    before calling (a keep-the-survivor step would otherwise drop rows
    whose content was never compared)."""
    hashed = df.withColumn("content_hash", F.md5(F.col("text")))
    return (
        hashed.groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def paragraph_dedup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Paragraph-granularity dedup statistics — the CCNet unit: crawl
    pipelines dedup at PARAGRAPH level before document level, because
    boilerplate lines (navigation, footers) repeat across a whole host
    while the article text does not. Paragraphs are the newline-split
    non-empty lines of ``text_col``; a paragraph instance is a
    DUPLICATE when a lower-id document owns the same content hash.
    Returns per-document ``(n_paras, n_dup, dup_ratio)``.

    Scale shape: paragraph keys are md5 hashes; shared boilerplate
    lines are Zipf-hot (a footer appears once per document on a whole
    host), so the owner table aggregates ``min(id)`` behind a
    map-side combine (the partial min absorbs the hot keys exactly
    like t50's collapse) and the join back carries near-unique keys.
    The join strategy is the planner's, because it depends on what
    dominates the corpus: article-heavy corpora have mostly-UNIQUE
    paragraphs, so the owner table grows roughly linearly with corpus
    size and must shuffle, while a boilerplate-dominated one (t54's
    fixture) is vocabulary-like and small enough to broadcast."""
    paras = df.select(
        F.col("doc_id"),
        F.explode(F.split(F.col(text_col), "\n")).alias("para"),
    ).filter(F.col("para") != "")
    keyed = paras.select("doc_id", F.md5(F.col("para")).alias("h"))
    owners = keyed.groupBy("h").agg(F.min("doc_id").alias("owner"))
    return (
        keyed.join(owners, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(
                F.when(F.col("owner") < F.col("doc_id"), 1).otherwise(0)
            ).alias("n_dup"),
        )
        .withColumn(
            "dup_ratio", F.round(F.col("n_dup") / F.col("n_paras"), 6)
        )
    )


def _exact_collapse(
    df: DataFrame, id_col: str, *keys: Column
) -> tuple[DataFrame, DataFrame]:
    """Collapse verbatim copies before a pair operator: returns
    ``(rep_rows, mapping)`` where ``rep_rows`` keeps one representative
    (lowest id) per identical value of ``keys`` — ``md5(text)`` for the
    text operators, ``(prefix, block)`` for Levenshtein, the md5 of the
    vector string for embedding LSH — and ``mapping`` is the checkpointed
    ``(__member, __rep, __gsize)`` membership frame.

    On a duplicate-heavy corpus every LSH bucket / shingle posting holds
    the whole duplicate cluster and the candidate join grows with the
    duplication factor squared, while the collapse itself is ONE linear
    shuffle on the key. The pair operator then runs on representatives
    only; :func:`_expand_collapsed_pairs` reconstructs the full answer
    exactly, so the quadratic term survives only where it is the output
    itself.
    """
    kcols = [f"__k{i}" for i in range(len(keys))]
    groups = df.select(
        F.col(id_col).alias("__member"), *[k.alias(c) for k, c in zip(keys, kcols)]
    )
    reps = groups.groupBy(*kcols).agg(
        F.min("__member").alias("__rep"), F.count(F.lit(1)).alias("__gsize")
    )
    mapping = materialize(
        groups.join(reps, kcols).select("__member", "__rep", "__gsize")
    )
    rep_rows = df.join(
        mapping.filter(F.col("__member") == F.col("__rep")).select(
            F.col("__member").alias(id_col)
        ),
        id_col,
        "left_semi",
    )
    return rep_rows, mapping


def _expand_collapsed_pairs(
    rep_pairs: DataFrame, mapping: DataFrame, intra: DataFrame
) -> DataFrame:
    """Expand representative-level pairs back to ALL member pairs so the
    collapsed run is answer-identical to the uncollapsed one:

    - cross-group: every (member of rep_a) × (member of rep_b) pair carries
      the rep-pair metrics verbatim (identical keys ⇒ identical metrics),
      ids re-ordered with least/greatest (groups are disjoint, so each pair
      appears once);
    - intra-group: ``intra`` is a ``(__r, *metric columns)`` frame naming
      the reps whose copies pair with each other and what two copies score
      (J = 1.0, hamming 0, edit distance 0, the self-cosine). A rep absent
      from it emits no intra pairs — e.g. a doc with zero shingles never
      pairs, not even with its own verbatim copies.

    The output keeps ``rep_pairs``' columns.
    """
    metric_cols = [c for c in rep_pairs.columns if c not in ("id_a", "id_b")]
    ma = mapping.select(F.col("__rep").alias("id_a"), F.col("__member").alias("__m_a"))
    mb = ma.toDF("id_b", "__m_b")
    # member ids need not sort the same way as their reps: when
    # least/greatest flips the pair relative to the rep pair, the side-
    # specific size columns flip with it (every other metric is symmetric)
    swapped = F.col("__m_a") > F.col("__m_b")

    def _side_aware(c: str):
        if c == "n_a":
            return F.when(swapped, F.col("n_b")).otherwise(F.col("n_a")).alias("n_a")
        if c == "n_b":
            return F.when(swapped, F.col("n_a")).otherwise(F.col("n_b")).alias("n_b")
        return F.col(c)

    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("__m_a", "__m_b").alias("id_a"),
            F.greatest("__m_a", "__m_b").alias("id_b"),
            *[_side_aware(c) for c in metric_cols],
        )
    )
    x = ma.toDF("__r", "__m_a")
    within = (
        x.join(x.toDF("__r", "__m_b"), "__r")
        .filter(F.col("__m_a") < F.col("__m_b"))
        .join(intra, "__r")
        .select(
            F.col("__m_a").alias("id_a"), F.col("__m_b").alias("id_b"), *metric_cols
        )
    )
    return cross.unionByName(within)


def _identical_jaccard(sizes: DataFrame) -> DataFrame:
    """The ``intra`` frame of the Jaccard operators: two verbatim copies of
    a rep with ``n`` (post-cap) shingles score J = 1.0 with
    ``n_common = n_a = n_b = n``. ``sizes`` is a (rep id, count) frame;
    a doc with no surviving shingles has no row, so it never pairs."""
    r, n = sizes.columns
    return sizes.select(
        F.col(r).alias("__r"),
        *[F.col(n).alias(c) for c in ("n_common", "n_a", "n_b")],
        F.lit(1.0).alias("jaccard"),
    )


def _candidate_pairs(cands: DataFrame, left: DataFrame, right: DataFrame) -> DataFrame:
    """The pair side of every candidate comparison: ``left ⋈ cands ⋈
    right``, where ``cands`` is an ``(id_a, id_b)`` frame, ``left`` is keyed
    on ``id_a`` and ``right`` on ``id_b``. The one place a candidate frame
    is broadcast (into the join with ``left``, as the small side), so the
    broadcast policy of every pair operator lives here."""
    return left.join(F.broadcast(cands), "id_a").join(right, "id_b")


def _jaccard_verify(
    cands: DataFrame, sets_a: DataFrame, sets_b: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard of candidate pairs from per-doc SET arrays: ``sets_a``
    and ``sets_b`` are (id, array) frames for the two sides (the same frame
    for a self-join) whose arrays hold distinct elements, so
    ``size(array_intersect)`` is |A∩B| — one narrow pass over the candidate
    rows, no per-element fan-out. Returns ``(id_a, id_b, n_common, n_a,
    n_b, jaccard)`` for the pairs at or above ``threshold``."""
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        _candidate_pairs(
            cands, sets_a.toDF("id_a", "__s_a"), sets_b.toDF("id_b", "__s_b")
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("__s_a", "__s_b")).cast("long").alias("n_common"),
            F.size("__s_a").cast("long").alias("n_a"),
            F.size("__s_b").cast("long").alias("n_b"),
        )
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
    )


def _band_candidates(banded: DataFrame) -> DataFrame:
    """Candidate pairs ``(id_a < id_b)`` from an (id, band index, band key)
    frame: documents sharing at least one band bucket. The join key is the
    (band index, band key) pair — an equi-join, never a cross product."""
    a = banded.toDF("id_a", "band_idx", "band_key")
    b = banded.toDF("id_b", "band_idx", "band_key")
    return (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def shingle_index(df: DataFrame, widen: bool = True) -> DataFrame:
    """Inverted index over ``documents(doc_id, text)``: one row per (doc,
    distinct word-3-shingle). Tokens
    are materialized as a projection first so the shingle lambda reads an
    O(1) array reference (see word_shingles_from_tokens).

    ``widen`` (default on) routes the input through
    :func:`..skew.widen_narrow_scan` before the tokenize+shingle map: the
    per-row work here (regex tokenize, k-gram explode, and the md5 per
    shingle most callers chain on) is the expensive part, and a
    single-row-group parquet input would otherwise run it all on one core
    (profiled: the index-build job was 1.0–1.5 s single-task in every
    dedup-family query at sf0.1). No-op when the scan is already wide;
    callers inside foreachBatch (micro-batch inputs) pass ``widen=False``.
    """
    base = df.select("doc_id", "text")
    if widen:
        from .skew import widen_narrow_scan

        base = widen_narrow_scan(base)
    toks = base.select("doc_id", tokens(F.col("text")).alias("__toks"))
    return toks.select(
        "doc_id", F.explode(word_shingles_from_tokens(F.col("__toks"))).alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    exact_dedup_first: bool = True,
) -> DataFrame:
    """All document pairs with word-3-gram Jaccard ≥ threshold.

    |A∩B| via self-join of the inverted index; |A∪B| = |A|+|B|−|A∩B|.
    ``max_doc_freq`` drops shingles appearing in more than that many docs —
    they contribute little discrimination but dominate join skew at scale.

    ``exact_dedup_first`` (default ON — the 100 TB-safe path is the obvious
    one) collapses verbatim copies to one representative before the index
    self-join and expands the answer back afterwards
    (:func:`_exact_collapse` / :func:`_expand_collapsed_pairs`) —
    ANSWER-IDENTICAL (pinned by tests), but the join cost stops growing
    with the duplication factor squared; only the final emission is
    output-sized. Doc-frequency for the cap is computed group-size-WEIGHTED
    so capped results also match the uncollapsed run exactly. Opt out to
    get the verbatim single-pass plan.

    **Scale routing:** exact pair enumeration is inherently superlinear in
    collision count (SCALING.md measured ~13× wall-clock at a 10× blow-up).
    At corpus scale (100 TB) run :func:`minhash_lsh_dedup_portable`
    instead: its banded equi-join is near-linear and it verifies exact
    Jaccard on its candidate pairs only. Do not ship this op at 100× the
    tested scale.
    """
    df, mapping = (
        _exact_collapse(df, "doc_id", F.md5(F.col("text")))
        if exact_dedup_first
        else (df, None)
    )
    idx = shingle_index(df)
    if max_doc_freq is not None:
        if mapping is not None:
            # full-corpus doc-frequency = rep doc-frequency weighted by
            # duplicate-group size (every member contributes its copy)
            weights = mapping.filter(F.col("__member") == F.col("__rep")).select(
                F.col("__rep").alias("doc_id"), "__gsize"
            )
            dfreq = (
                idx.join(weights, "doc_id")
                .groupBy("shingle")
                .agg(F.sum("__gsize").alias("df"))
            )
        else:
            dfreq = idx.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        keep = dfreq.filter(F.col("df") <= max_doc_freq)
        # re-select: the equi-join moves the key column first, and the
        # positional toDF renames below depend on (id, shingle) order
        idx = idx.join(keep.select("shingle"), "shingle").select("doc_id", "shingle")
    # the index feeds three subtrees (sizes + both self-join sides);
    # materialize it once instead of re-running tokenize+shingle per use
    idx = materialize(idx)
    sizes = idx.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = idx.toDF("id_a", "shingle")
    b = idx.toDF("id_b", "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.toDF("id_a", "n_a")
    sb = sizes.toDF("id_b", "n_b")
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    pairs = (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")
    )
    if mapping is None:
        return pairs
    return _expand_collapsed_pairs(pairs, mapping, _identical_jaccard(sizes))


def prefix_filter_jaccard_pairs(
    df: DataFrame, threshold: float = 0.5, exact_dedup_first: bool = True
) -> DataFrame:
    """All document pairs with word-3-gram Jaccard ≥ threshold, computed
    EXACTLY via prefix filtering (Bayardo/Chaudhuri all-pairs similarity):
    order every doc's shingle set by global rarity (doc-frequency asc,
    shingle asc — a deterministic total order), keep only each doc's first
    ``n − ⌈τ·n⌉ + 1`` shingles as its *prefix*, and self-join prefixes. Any
    pair with Jaccard ≥ τ must share at least one prefix shingle (if the
    intersection avoided both prefixes it would fit inside the suffixes,
    which are too small to hold ⌈τ·n⌉ elements), so verifying exact Jaccard
    on the candidate pairs loses nothing — the oracle for the graded twin
    (``t49``) is the UNFILTERED brute-force join, making the driver's
    hash-compare a machine-checked losslessness proof.

    Versus :func:`ngram_jaccard_pairs`'s ``max_doc_freq`` cap: the cap
    changes the answer (capped sets shrink |A|, |A∩B|); the prefix filter
    is lossless. Frequent shingles land at the END of the rarity order, so
    they fall outside most prefixes and never explode the self-join — the
    candidate count shrinks the way the cap shrinks it, without touching
    the result. This is the exact-join scale route when the answer must be
    exact; MinHash-LSH (:func:`minhash_lsh_dedup_portable`) remains the
    approximate route when recall <1 is acceptable.

    Shuffle shape: one df aggregation + one window (both keyed on the
    shingle / doc), the prefix self-join on rare shingles, then the same
    verify join as ngram_jaccard_pairs. No driver-side collection.

    ``exact_dedup_first`` (default ON) collapses verbatim copies before
    the prefix self-join and expands the exact answer back afterwards —
    answer-identical (the rarity order shifts to rep-corpus doc-frequency,
    but the Bayardo bound is lossless under ANY consistent total order),
    while the duplicate-mass quadratic survives only in the output
    emission. This is the t49-at-100× routing made code instead of a
    SCALING.md note.
    """
    import math

    df, mapping = (
        _exact_collapse(df, "doc_id", F.md5(F.col("text")))
        if exact_dedup_first
        else (df, None)
    )
    idx = materialize(shingle_index(df))
    dfreq = idx.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    w_doc = Window.partitionBy("doc_id").orderBy("__df", "shingle")
    ranked = (
        idx.join(dfreq, "shingle")
        .select(
            "doc_id",
            "shingle",
            F.row_number().over(w_doc).alias("__rn"),
            F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("__n"),
        )
    )
    # integer prefix length: n − ⌈τ'·n⌉ + 1, with the rational τ' = num/den
    # obtained by FLOORING τ at 6 dp — τ' ≤ τ, so ⌈τ'·n⌉ ≤ ⌈τ·n⌉ and the
    # prefix is at least as long as the lossless bound requires (rounding
    # UP here — e.g. τ=2/3 → 666667/10⁶ — would shorten prefixes below the
    # bound while the final filter still used the raw τ, silently dropping
    # qualifying pairs). The ceil itself is computed with Spark's integer
    # `div` so the arithmetic stays in longs end-to-end (float `/` before
    # floor can misround for large n·num products).
    den_r = 1000000
    num_r = math.floor(threshold * den_r)
    g = math.gcd(num_r, den_r)
    num_r, den_r = num_r // g, den_r // g
    ceil_tau_n = F.expr(f"(__n * {num_r} + {den_r - 1}) div {den_r}").cast("int")
    # Keep (rank, size) on the prefix rows — the PPJoin-style candidate
    # filters below need them — and MATERIALIZE the pruned prefix frame:
    # it feeds both self-join sides, and without the checkpoint the whole
    # ranked subtree (idx ⋈ dfreq + two windows) executes twice.
    prefix = materialize(
        ranked.filter(F.col("__rn") <= F.col("__n") - ceil_tau_n + 1).select(
            "doc_id", "shingle", "__rn", "__n"
        )
    )
    pa_ = prefix.toDF("id_a", "shingle", "__rn_a", "__n_a")
    pb_ = prefix.toDF("id_b", "shingle", "__rn_b", "__n_b")
    # Lossless candidate pruning (Bayardo WWW'07 / PPJoin, both implied by
    # J ≥ τ and therefore answer-preserving — without them 408 k candidate
    # pairs fanned the verify join out to 26 M rows for a 241-row answer):
    #   size filter: τ·max(n_a,n_b) ≤ min(n_a,n_b), in exact integers via
    #   the same floored rational τ' = num/den ≤ τ the prefix length uses
    #   (weaker than τ ⇒ keeps every qualifying pair);
    #   position filter: the shared-shingle count i of a qualifying pair
    #   satisfies i ≥ ⌈τ'/(1+τ')·(n_a+n_b)⌉, and at the pair's FIRST
    #   collision in the global rarity order (doc-local orders are
    #   restrictions of one total order, so a first collision exists in
    #   both prefixes simultaneously) every shared shingle sits at rank
    #   ≥ rn in both docs, so i ≤ 1 + min(n_a−rn_a, n_b−rn_b). Pairs whose
    #   every collision violates the bound cannot reach τ; the DISTINCT
    #   after the filter keeps pairs whose first collision passes.
    o_bound = F.expr(
        f"((__n_a + __n_b) * {num_r} + {num_r + den_r - 1}) div {num_r + den_r}"
    )
    cands = (
        pa_.join(pb_, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.col("__n_b") * den_r >= F.col("__n_a") * num_r)
        .filter(F.col("__n_a") * den_r >= F.col("__n_b") * num_r)
        .filter(
            F.lit(1)
            + F.least(
                F.col("__n_a") - F.col("__rn_a"), F.col("__n_b") - F.col("__rn_b")
            )
            >= o_bound
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # verify on per-doc shingle arrays: the index is distinct per (doc,
    # shingle), so each collect_list IS the doc's set
    arrs = idx.groupBy("doc_id").agg(F.collect_list("shingle").alias("__shs"))
    pairs = _jaccard_verify(cands, arrs, arrs, threshold)
    if mapping is None:
        return pairs
    # sizes re-derived from the arrays — one less aggregation over idx
    sizes = arrs.select(F.col("doc_id"), F.size("__shs").cast("long"))
    return _expand_collapsed_pairs(pairs, mapping, _identical_jaccard(sizes))


#: Modulus for the portable universal-hash MinHash family: prime < 2^30 so
#: a*x+b with a,x < 2^30 stays < 2^60 — inside signed 64-bit in BOTH engines
#: (DuckDB BIGINT overflow is an ERROR, not a wrap, so the whole family must
#: provably fit).
MINHASH_P = 1073741789

#: Signature width of every portable-MinHash operator and oracle.
NUM_HASHES = 32


def minhash_coeffs() -> list[tuple[int, int]]:
    """Deterministic :data:`NUM_HASHES` (a, b) pairs for the universal-hash
    MinHash family h_i(x) = (a_i*x + b_i) mod :data:`MINHASH_P`, generated
    by a fixed-seed 64-bit LCG so the Spark plan and the generated DuckDB
    oracle SQL embed the exact same constants."""
    state = 0x9E3779B97F4A7C15
    out = []
    for _ in range(NUM_HASHES):
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 64)
        a = state % (MINHASH_P - 1) + 1
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 64)
        b = state % MINHASH_P
        out.append((a, b))
    return out


def portable_shingle_base(t: Column) -> Column:
    """30-bit shingle base hash shared by the portable MinHash path and its
    DuckDB oracle: low 30 bits of the little-endian lower-8-byte md5 integer
    (DuckDB: ``md5_number_lower(s) & 1073741823``). Only the low 4 bytes
    contribute to 30 bits, so decode 4 instead of all 8 (halves the
    hex-decode cost vs :func:`md5_token_hash64`)."""
    h = F.md5(t)
    # one conv on the byte-reversed hex string instead of four byte-wise
    # ones (same trick as md5_token_hash64 — conv dominates decode cost)
    le32 = F.conv(
        F.concat(
            F.substring(h, 23, 2),
            F.substring(h, 21, 2),
            F.substring(h, 19, 2),
            F.substring(h, 17, 2),
        ),
        16,
        10,
    ).cast("long")
    return le32.bitwiseAND(F.lit(0x3FFFFFFF))


def _check_bands(bands: int) -> None:
    """Entry check of the portable banding: ``bands`` must evenly divide
    :data:`NUM_HASHES` with >= 1 row per band. Runs before any Spark job, so
    a bad argument never pays for a materialization first."""
    if bands < 1 or bands > NUM_HASHES or NUM_HASHES % bands != 0:
        raise ValueError(
            f"bands ({bands}) must evenly divide num_hashes ({NUM_HASHES}) "
            "with >= 1 row per band — an empty or ragged band silently "
            "degrades the candidate join (empty band keys collide "
            "universally: an n² cross product)"
        )


def _banded_from_signature(sig: DataFrame, bands: int) -> DataFrame:
    """(doc_id, band_idx, band_key) rows from a signature frame carrying
    the ``h0..h{NUM_HASHES-1}`` min columns — the banding step shared by
    :func:`minhash_lsh_dedup_portable`, :func:`sketch_accuracy_audit` and
    the streaming near-dup gate, which all run :func:`_check_bands` at
    entry."""
    rows_per_band = NUM_HASHES // bands
    return sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"h{bi * rows_per_band + j}").cast("string")
                            for j in range(rows_per_band)
                        ],
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("band_idx", "band_key"),
    )


def _portable_features(df: DataFrame, widen: bool = True) -> DataFrame:
    """The per-doc feature frame of the portable MinHash path: ONE
    aggregation of the distinct (doc_id, 30-bit shingle base hash) index
    yields the signature mins ``h0..h{NUM_HASHES-1}`` (one min of
    (a*x+b) mod P per :func:`minhash_coeffs` pair), the distinct-hash count ``n_sh`` and
    the hash set as an array ``shs`` (the index is distinct per (doc,
    hash), so the array IS the set). Every feature is a property of one
    document, so features built per micro-batch equal the batch-global
    ones. Batch callers wrap the frame in :func:`..skew.materialize`; the
    streaming gate's micro-batch side is neither checkpointed nor widened."""
    idx = shingle_index(df, widen=widen)
    hidx = idx.select(
        "doc_id", portable_shingle_base(F.col("shingle")).alias("sh")
    ).distinct()
    return hidx.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("sh") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"h{i}")
            for i, (a, b) in enumerate(minhash_coeffs())
        ],
        F.count(F.lit(1)).alias("n_sh"),
        F.collect_list("sh").alias("shs"),
    )


def minhash_lsh_dedup_portable(
    df: DataFrame,
    bands: int = 8,
    exact_dedup_first: bool = True,
) -> DataFrame:
    """MinHash+LSH near-dup pairs on the cross-engine-verifiable hash family.

    Banded candidates → exact Jaccard ≥ 0.5 verify on the per-doc
    word-3-shingle-hash sets, and every hash is DuckDB-expressible: base =
    low 30 bits of the md5-derived 64-bit shingle hash, signatures from the (a*x+b) mod P
    universal family (:func:`minhash_coeffs`), band keys as plain
    value-concat strings.

    ``exact_dedup_first`` (default ON) collapses verbatim copies before
    the signatures and expands the answer back afterwards —
    answer-identical (identical texts ⇒ identical signatures ⇒ identical
    banding, so candidate-ness and verified Jaccard are unchanged
    pair-for-pair; intra-group pairs are J=1.0 by construction and always
    bucket together), but the bucket occupancy² blow-up the 100× probe
    measured (142× on a corpus of 100 verbatim copies per doc) collapses
    to the linear content-hash shuffle plus the output-sized emission."""
    _check_bands(bands)
    df, mapping = (
        _exact_collapse(df, "doc_id", F.md5(F.col("text")))
        if exact_dedup_first
        else (df, None)
    )
    feat = materialize(_portable_features(df))
    cands = _band_candidates(_banded_from_signature(feat, bands))
    sets = feat.select("doc_id", "shs")
    pairs = _jaccard_verify(cands, sets, sets, 0.5).select(
        "id_a", "id_b", "jaccard"
    )
    if mapping is None:
        return pairs
    sizes = feat.select("doc_id", "n_sh")
    return _expand_collapsed_pairs(pairs, mapping, _identical_jaccard(sizes))


def md5_token_hash64(t: Column) -> Column:
    """Portable 64-bit token hash: the little-endian integer of md5's LOWER
    8 bytes — bit-identical to DuckDB's ``md5_number_lower()``, so SimHash
    signatures built on it are cross-engine verifiable (xxhash64 exists
    only in Spark). The signed long carries the same 64-bit pattern as
    DuckDB's UBIGINT (shiftleft wraps into the sign bit, two's complement);
    bits are always read back via ``(x >> i) & 1``, which agrees across the
    signed/unsigned divide. Hex-string decode makes it ~3× slower than
    xxhash64 — it is the parity path, not the 100 TB path."""
    h = F.md5(t)
    # Two 32-bit hex→int conversions instead of eight byte-wise ones (conv
    # dominates the decode cost; the byte-reversal happens in string space).
    # Little-endian over bytes 9..16 (hex chars 17..32): the low 32 bits
    # are bytes 12,11,10,9 and the high 32 bits are bytes 16,15,14,13.
    def le32(*starts: int) -> Column:
        return F.conv(
            F.concat(*[F.substring(h, s, 2) for s in starts]), 16, 10
        ).cast("long")

    lo = le32(23, 21, 19, 17)
    hi = le32(31, 29, 27, 25)
    return lo.bitwiseOR(F.shiftleft(hi, 32))


def simhash_signature(df: DataFrame, hash_fn=None) -> DataFrame:
    """64-bit SimHash per document: explode token hashes, then one
    hash aggregation with 64 static ±1 bit-sums, folded into a long.
    (Shift counts must be literals, so the bit loop is Python-side plan
    construction — the data path stays one explode + one shuffle.)
    ``hash_fn`` maps a token Column to a 64-bit hash Column — default
    xxhash64 (fast path); :func:`md5_token_hash64` is the DuckDB-portable
    alternative used by the graded corpus query."""
    token_hash = hash_fn or F.xxhash64
    feats = F.transform(tokens(F.col("text")), lambda t: token_hash(t))
    exploded = df.select(F.col("doc_id"), F.explode(feats).alias("h"))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    sums = exploded.groupBy("doc_id").agg(*aggs)
    sim = F.lit(0).cast("long")
    for i in range(64):
        sim = sim.bitwiseOR(
            F.when(F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return sums.select("doc_id", sim.alias("simhash"))


def simhash_pairs(
    df: DataFrame, max_hamming: int = 3, hash_fn=None, exact_dedup_first: bool = True
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``
    AMONG the chunk-banding candidates.

    Candidate generation by 16-bit chunk banding, then exact popcount
    verify via ``bit_count(a XOR b)``. Recall contract: the pigeonhole
    guarantee (every qualifying pair becomes a candidate) holds only for
    ``max_hamming ≤ 3`` (4 chunks); for larger thresholds a pair whose
    differing bits spread across all four chunks is NOT surfaced — the
    output is "banded candidates within distance ≤ max_hamming", which is
    the standard SimHash-at-scale trade (more chunks = more recall = more
    candidates) and exactly what the graded t8 oracle mirrors.

    ``exact_dedup_first`` (default ON) is the family's duplicate-mass
    routing: verbatim copies share all four chunks, so every duplicate
    cluster pays occupancy² in EVERY band — the full-corpus 100× probe
    timed the raw op out (>360 s) where the collapsed run finishes linear.
    Identical text ⇒ identical token multiset ⇒ identical signature, so
    expanding representative pairs back (cross-group pairs inherit the rep
    hamming; intra-group pairs are hamming 0, emitted only when the rep
    actually produced a signature — empty-token docs never pair, matching
    the raw op) is answer-identical by construction.
    """
    df, mapping = (
        _exact_collapse(df, "doc_id", F.md5(F.col("text")))
        if exact_dedup_first
        else (df, None)
    )
    sh = simhash_signature(df, hash_fn=hash_fn)
    chunks = sh.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(*[F.shiftright("simhash", 16 * i).bitwiseAND(F.lit(0xFFFF)) for i in range(4)])
        ).alias("chunk_idx", "chunk"),
    )
    a = chunks.toDF("id_a", "sim_a", "chunk_idx", "chunk")
    b = chunks.toDF("id_b", "sim_b", "chunk_idx", "chunk")
    cands = (
        a.join(b, ["chunk_idx", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "sim_a", "id_b", "sim_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    rep_pairs = (
        cands.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
    )
    if mapping is None:
        return rep_pairs
    # copies pair at hamming 0 only when the rep produced a signature row (a
    # doc whose text yields zero tokens never enters the banding, so its
    # verbatim copies never pair in the raw op either)
    intra = sh.select(F.col("doc_id").alias("__r"), F.lit(0).cast("int").alias("hamming"))
    return _expand_collapsed_pairs(rep_pairs, mapping, intra)


#: edge count below which the component computation runs as driver-side
#: union-find: a 256-edge graph costs 5+ distributed iterations (2 jobs
#: each) but microseconds locally — same size-based routing as a broadcast
#: join. Near-dup graphs are far smaller than their corpora, but the
#: distributed loop remains the path for graphs that outgrow the driver.
SMALL_GRAPH_EDGES = 200_000

#: Byte bound for the union-find edge collect (an
#: edge COUNT alone is width-blind — 200k edges of long string ids can
#: be far heavier on the driver than 200k int pairs). Estimated as
#: edges × (payload width + ~120 B of Python tuple/boxing overhead);
#: 64 MB keeps the collect an order of magnitude under any sane driver
#: heap, and the iterative path is always correct when the guard trips.
SMALL_GRAPH_BYTES = 64 << 20
_EDGE_DRIVER_OVERHEAD = 120


def union_find_fits(
    n_edges: int, per_edge_bytes: int, max_edges: int = SMALL_GRAPH_EDGES
) -> bool:
    """The union-find collect guard: edge-count cap AND the byte
    estimate (payload width + Python boxing overhead per edge) — the
    pure decision, unit-tested at both boundaries."""
    return (
        n_edges <= max_edges
        and n_edges * (per_edge_bytes + _EDGE_DRIVER_OVERHEAD)
        <= SMALL_GRAPH_BYTES
    )


def _union_find_components(edges: list[tuple], spark, id_type) -> DataFrame:
    """Driver-side union-find over a collected edge list. ``id_type`` is the
    Spark DataType of the node ids, so string/other non-long ids produce the
    same (node, component) schema as the distributed path. Self-loop edges
    register their node without a union, matching the distributed path's
    treatment of nodes whose only edge is a self-loop."""
    from pyspark.sql import types as T

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        if a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN label so the canonical id matches the
            # distributed min-label propagation exactly
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    rows = [(n, find(n)) for n in parent]
    schema = T.StructType(
        [T.StructField("node", id_type), T.StructField("component", id_type)]
    )
    return local_frame(spark, rows, schema)


def connected_components(
    pairs: DataFrame, max_iter: int = 20, small_graph_edges: int = SMALL_GRAPH_EDGES
) -> DataFrame:
    """Connected components over a near-dup pair graph → (node, component)
    where component = min node id in the cluster.

    Turns PAIRS (from Jaccard/MinHash/SimHash/cosine) into dedup CLUSTERS so
    each group keeps one canonical document. Each iteration combines
    neighbor-min propagation with POINTER JUMPING (take the label of your
    current label), so the min label spreads ~2^i hops after i iterations —
    O(log diameter) rounds instead of O(diameter), which matters when a
    fresh seed plants duplicate CHAINS rather than isolated pairs. Labels
    are checkpointed per iteration to break lineage growth; raises if the
    fixpoint is not reached within ``max_iter`` (silent truncation would
    return wrong clusters).
    """
    # materialize the pair pipeline ONCE before anything references it: the
    # src/dst union below reads `pairs` twice, and the loop (or union-find
    # collect) reads the edges repeatedly — without checkpoints the whole
    # upstream shingle-index self-join re-runs per reference
    pairs = materialize(pairs.select("id_a", "id_b"))
    edges = materialize(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    )
    n_edges = edges.count()
    dt = edges.schema["src"].dataType
    from pyspark.sql import types as _T

    if isinstance(
        dt, (_T.ByteType, _T.ShortType, _T.IntegerType, _T.LongType)
    ):
        per_edge = 16
    else:
        # non-integral ids: probe the average serialized width (one tiny
        # agg on the decision path — the collect it guards is far bigger)
        row = edges.agg(
            F.avg(
                F.length(F.col("src").cast("string"))
                + F.length(F.col("dst").cast("string"))
            ).alias("w")
        ).first()
        per_edge = int(row["w"] or 0)
    if union_find_fits(n_edges, per_edge, small_graph_edges):
        # keep src <= dst (not <): self-loop-only nodes must still appear in
        # the output, as they do on the distributed path
        pair_edges = [
            (r["src"], r["dst"])
            for r in edges.filter(F.col("src") <= F.col("dst")).collect()
        ]
        return _union_find_components(
            pair_edges, pairs.sparkSession, edges.schema["src"].dataType
        )
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        stepped = labels.join(neighbor_min, labels.node == neighbor_min.src, "left").select(
            "node",
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
            ).alias("component"),
        )
        # pointer jumping: adopt the label of the current label node
        jumped = (
            stepped.alias("u")
            .join(
                stepped.select(
                    F.col("node").alias("lnode"), F.col("component").alias("lcomp")
                ),
                F.col("u.component") == F.col("lnode"),
                "left",
            )
            .select(
                F.col("u.node").alias("node"),
                F.least(
                    F.col("u.component"), F.coalesce(F.col("lcomp"), F.col("u.component"))
                ).alias("component"),
            )
        )
        updated = materialize(jumped)
        changed = (
            updated.alias("u")
            .join(labels.alias("l"), "node")
            .filter(F.col("u.component") != F.col("l.component"))
            .limit(1)
            .count()
        )
        labels = updated
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge within {max_iter} iterations "
        "(component diameter > 2^iterations — raise max_iter)"
    )


def dedup_clusters(df: DataFrame, pairs: DataFrame) -> DataFrame:
    """Full dedup assignment: every document mapped to its cluster's
    canonical (min-id) survivor; documents in no pair survive as themselves."""
    comp = connected_components(pairs)
    return df.select(F.col("doc_id")).join(
        comp, df["doc_id"] == comp.node, "left"
    ).select(
        F.col("doc_id"),
        F.coalesce(F.col("component"), F.col("doc_id")).alias("canonical_id"),
    )


def sketch_accuracy_audit(
    df: DataFrame,
    bands: int = 8,
    exact_dedup_first: bool = False,
) -> DataFrame:
    """One-row calibration of the MinHash Jaccard estimator — the "is
    :data:`NUM_HASHES` hashes enough" audit a pipeline runs before trusting
    MinHash-LSH at scale: over the LSH candidate pairs, compare the
    signature match-fraction estimate against the EXACT Jaccard on the
    shared shingle-hash sets, reporting ``n_pairs``, mean/max absolute
    error (6-dp floored, decimal-averaged) and the crossings of the
    τ = 0.5 threshold in both directions (``n_false_pos`` = est ≥ τ but
    exact < τ, ``n_missed`` = the reverse).

    Plan shape: one signature self-join and one index intersection, both
    bounded to the CANDIDATE set (band-key equi-join), never the corpus².

    Scale contract: on a duplicate-heavy corpus every band bucket holds
    whole duplicate clusters, so the candidate set — and with it this
    audit's joins — grows with the duplication factor squared (the t7
    pathology; the 100× probe measured 29.4× here). ``exact_dedup_first=
    True`` is the callable routing for that regime: verbatim copies
    collapse in one linear content-hash shuffle and the audit runs on
    representatives. Unlike the pair operators this is NOT answer-
    identical — duplicate pairs all share one (est, exact) point, so
    collapsing de-weights them in ``n_pairs``/``mean_abs_err`` — but the
    estimator-error calibration measures the HASH FAMILY, not corpus
    duplication, so the representative-level audit is the measurement a
    100 TB run actually wants (identical pairs carry zero new information
    about estimator error). Default OFF: the graded corpus query (t38)
    audits the raw candidate distribution, byte-identical to its oracle.
    """
    _check_bands(bands)
    if exact_dedup_first:
        df, _ = _exact_collapse(df, "doc_id", F.md5(F.col("text")))
    feat = materialize(_portable_features(df))
    cand = _band_candidates(_banded_from_signature(feat, bands))
    feat_a = feat.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(NUM_HASHES)],
        F.col("n_sh").alias("n_a"),
        F.col("shs").alias("shs_a"),
    )
    feat_b = feat.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(NUM_HASHES)],
        F.col("n_sh").alias("n_b"),
        F.col("shs").alias("shs_b"),
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(NUM_HASHES)
    )
    scored_wide = (
        _candidate_pairs(cand, feat_a, feat_b)
        .select(
            (matches * F.lit(1.0) / F.lit(NUM_HASHES)).alias("est_j"),
            F.size(F.array_intersect("shs_a", "shs_b")).cast("long").alias("n_common"),
            "n_a",
            "n_b",
        )
    )
    scored = scored_wide.select(
        "est_j",
        (
            F.coalesce(F.col("n_common"), F.lit(0))
            / (F.col("n_a") + F.col("n_b") - F.coalesce(F.col("n_common"), F.lit(0)))
        ).alias("exact_j"),
    )

    from .aggregations import floor_quantize6 as _q6

    errs = scored.select(
        _q6(F.abs(F.col("est_j") - F.col("exact_j"))).alias("err"),
        "est_j",
        "exact_j",
    )
    # zero-candidate corpora (possible after collapse on an all-unique
    # reseed) must yield well-defined zeros, not engine-flavored NULL/NaN
    return errs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.coalesce(
            _q6(
                F.sum(F.col("err").cast("decimal(27,6)")).cast("double")
                / F.count("err")
            ),
            F.lit(0.0),
        ).alias("mean_abs_err"),
        F.coalesce(F.max("err"), F.lit(0.0)).alias("max_abs_err"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("est_j") >= 0.5) & (F.col("exact_j") < 0.5), 1
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("n_false_pos"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("est_j") < 0.5) & (F.col("exact_j") >= 0.5), 1
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("n_missed"),
    )


def levenshtein_blocked_pairs(
    df: DataFrame,
    prefix_len: int = 40,
    exact_dedup_first: bool = True,
    max_block_size: int | None = None,
) -> DataFrame:
    """Fuzzy near-dup pairs (``doc_id``s at Levenshtein distance ≤ 12) over
    printable-ASCII ``text`` prefixes, blocked by ``lang`` (pairs enumerate
    within a block, never corpus²). Distance runs on the ASCII projection because
    Spark counts UTF-16 code units and DuckDB its own unit — combining
    accents would make the engines disagree on raw text.

    Scale contract: per-block work is occupancy², so both knobs of the
    other pair operators apply here —

    - ``exact_dedup_first`` (default ON) collapses identical
      (prefix, block) rows to one representative before pairing and
      expands the exact answer back (cross-group pairs inherit the rep
      distance — identical prefixes imply identical Levenshtein;
      intra-group pairs are distance 0, always within the bound).
      Answer-identical by construction; kills the duplicate-mass blow-up
      (the 100x probe could not finish the raw op's WARM 10x run:
      ~10 languages x (600k/10)^2 prefix comparisons).
    - ``max_block_size=N`` keeps each block's first N rows under the
      deterministic (prefix, id) order before pairing — a bounded-subset
      audit mode for blocks that stay huge after collapse (a real corpus
      has millions of docs per language; the production block is a
      shingle/SimHash bucket instead, per t8's banding).
    """
    base = df.select(
        "doc_id",
        F.col("lang").alias("__blk"),
        F.substring(
            F.regexp_replace(F.col("text"), r"[^ -~]", ""), 1, prefix_len
        ).alias("__prefix"),
    )
    # null block or null text can never pair in the raw op (inner equi-join
    # on the block; levenshtein(NULL, _) is NULL) — dropping them up front
    # is answer-identical AND keeps them out of the collapse groups (SQL
    # GROUP BY would treat NULLs as equal and wrongly pair them at expand)
    base = base.filter(F.col("__blk").isNotNull() & F.col("__prefix").isNotNull())
    # collapse groups on the (prefix, block) PAIR directly — no string-
    # concat hash key whose separator a crafted prefix could collide with
    base, mapping = (
        _exact_collapse(base, "doc_id", F.col("__prefix"), F.col("__blk"))
        if exact_dedup_first
        else (base, None)
    )
    if max_block_size is not None:
        w_blk = Window.partitionBy("__blk").orderBy("__prefix", "doc_id")
        base = (
            base.withColumn("__bn", F.row_number().over(w_blk))
            .filter(F.col("__bn") <= int(max_block_size))
            .drop("__bn")
        )
    a = base.toDF("id_a", "__blk", "__pa")
    b = base.toDF("id_b", "__blk", "__pb")
    rep_pairs = (
        a.join(b, "__blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("edit_dist", F.levenshtein("__pa", "__pb"))
        .filter(F.col("edit_dist") <= 12)
        .select("id_a", "id_b", "edit_dist")
    )
    if mapping is None:
        return rep_pairs
    intra = mapping.filter(F.col("__member") == F.col("__rep")).select(
        F.col("__rep").alias("__r"), F.lit(0).alias("edit_dist")  # identical prefixes
    )
    if max_block_size is not None:
        # the cap's contract ("first N rows before pairing") must also gate
        # the EXPANSION: a duplicate group whose representative ranked past
        # the cap was never paired, so its members may not re-enter as
        # distance-0 pairs
        intra = intra.join(base.select(F.col("doc_id").alias("__r")), "__r", "left_semi")
    return _expand_collapsed_pairs(rep_pairs, mapping, intra)
