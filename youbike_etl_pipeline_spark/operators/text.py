"""Text-analysis operators for large-scale training-data pipelines.

Beyond the reference's surface (BASELINE.json north-star): language-ID,
quality scoring, token counting, document fingerprinting — each a pure
column-expression pipeline (JVM-side, codegen), so a 100 TB ``documents``
table streams through the scan with no Python on the data path.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: tiny per-language marker-word profiles for the n-gram/stopword heuristic
#: language identifier. Real deployments plug in fastText/CLD3 via a pandas
#: UDF; the heuristic keeps the hot path JVM-side.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty strings dropped."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def marker_count(text: Column, word: str) -> Column:
    """Occurrences of a marker word, counted by token equality.

    Deliberately NOT ``\\b<word>\\b``: word-boundary semantics around
    combining marks differ between Java regex and RE2 (a decomposed
    ``"déjà"`` contains a literal ``de`` that RE2 bounds but Java does not),
    so ``\\b`` counting is engine-dependent on accented text. Splitting on
    the explicit codepoint class ``[^a-z]+`` and counting exact token
    matches is bit-identical across engines (SQL mirror:
    ``len(list_filter(regexp_split_to_array(lower(text),'[^a-z]+'),
    x -> x = '<word>'))``)."""
    toks = F.split(F.lower(text), "[^a-z]+")
    return F.size(F.filter(toks, lambda t: t == word))


def lang_id(text: Column) -> Column:
    """Heuristic language ID: score = total marker-word hits per language,
    arg-max with deterministic tie-break (language code ascending); 'und'
    when no marker hits. CJK characters short-circuit to 'zh'."""
    # null-safe: a NULL text must land in 'und' through the normal path —
    # without this, every marker score is NULL and the arg-max fold's
    # three-valued logic diverges from the SQL mirror's CASE chain
    text = F.coalesce(text, F.lit(""))
    scores: list[tuple[str, Column]] = []
    for lang, words in sorted(LANG_MARKERS.items()):
        score = None
        for w in words:
            c = marker_count(text, w)
            score = c if score is None else score + c
        scores.append((lang, score))
    # arg-max fold keeping strictly-greater, so ascending language order
    # wins ties deterministically
    best_lang, best_score = F.lit("und"), F.lit(0)
    for lang, score in scores:
        is_better = score > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, score).otherwise(best_score)
    has_cjk = F.size(F.regexp_extract_all(text, F.lit(r"[一-鿿]"), 0)) > 0
    return F.when(has_cjk, F.lit("zh")).otherwise(best_lang)


def quality_features(text: Column) -> dict[str, Column]:
    """Quality-scoring features: length, token count, mean token length,
    punctuation ratio, stopword ratio, uppercase ratio."""
    n_chars = F.length(text)
    n_tokens = token_count(text)
    n_punct = F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), 0))
    n_stop = None
    for w in LANG_MARKERS["en"]:
        c = marker_count(text, w)
        n_stop = c if n_stop is None else n_stop + c
    n_upper = F.size(F.regexp_extract_all(text, F.lit(r"[A-Z]"), 0))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "mean_token_len": F.when(n_tokens > 0, (n_chars - n_tokens + 1) / n_tokens),
        "punct_ratio": F.when(n_chars > 0, n_punct / n_chars),
        "stopword_ratio": F.when(n_tokens > 0, n_stop / n_tokens),
        "upper_ratio": F.when(n_chars > 0, n_upper / n_chars),
    }


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality score: rewards mid-length docs with sane
    punctuation/stopword profiles — the shape used for corpus filtering."""
    f = quality_features(text)
    length_term = F.least(f["n_tokens"] / 100.0, F.lit(1.0))
    punct_term = 1.0 - F.least(F.coalesce(f["punct_ratio"], F.lit(0.0)) * 5.0, F.lit(1.0))
    stop_term = F.least(F.coalesce(f["stopword_ratio"], F.lit(0.0)) * 4.0, F.lit(1.0))
    return (length_term + punct_term + stop_term) / 3.0


def char_fingerprint(text: Column) -> Column:
    """Position-weighted character fingerprint: Σ (pos+1)·ascii(char) mod m,
    over the printable-ASCII projection of the text.

    Non-ASCII is stripped first (identical ``[^ -~]`` regexp on every
    engine): per-character splitting is where engines disagree — Spark
    splits codepoints while DuckDB's ``string_split`` works on grapheme
    clusters, so combining accents or CJK shift every later position. The
    ASCII projection makes the character sequence, and therefore the
    fingerprint, engine- and seed-independent. A SQL-portable
    simplification of a polynomial rolling hash."""
    clean = F.regexp_replace(text, "[^ -~]", "")
    chars = F.split(clean, "")
    weighted = F.transform(chars, lambda ch, i: (i + 1) * F.ascii(ch))
    return F.aggregate(weighted, F.lit(0).cast("long"), lambda acc, x: acc + x) % 1_000_000_007


def word_shingles_from_tokens(toks: Column) -> Column:
    """Distinct word 3-grams from an already-materialized token array.

    ``toks`` MUST be a plain column reference (``F.col``) to a projected
    token array, not an inline ``tokens(text)`` expression: sub-expressions
    embedded in a higher-order-function lambda are re-evaluated on EVERY
    lambda invocation (no CSE inside interpreted lambdas), which turns the
    shingle build O(n²·tokenize) — measured 3-5× slower end-to-end. With a
    reference, each ``element_at`` is an O(1) read of the row's array."""
    k = 3
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(-1)))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(k)]),
    )
    return F.array_distinct(F.when(n >= k, grams).otherwise(F.array()))


def normalize_text(text: Column) -> Column:
    """Training-data text normalization: lowercase, strip control chars,
    squash runs of whitespace, trim — the standard pre-dedup cleanup pass
    (pure regexp expressions, codegen'd)."""
    cleaned = F.regexp_replace(text, r"[\x00-\x1f]", " ")
    squashed = F.regexp_replace(cleaned, r"\s+", " ")
    return F.trim(F.lower(squashed))


def chunk_spans(df: DataFrame, window: int = 512, stride: int = 448) -> DataFrame:
    """Sliding context-window chunking: one output row per (doc, chunk),
    with token-index bounds ``[start_tok, end_tok)`` — the standard
    pretraining tokenize→window step (stride < window ⇒ overlap).

    Pure ``sequence``+``posexplode`` fan-out (codegen, no UDF, no shuffle):
    a doc with n tokens yields ``ceil(max(0, n-window)/stride)+1`` chunks;
    the last chunk is the only one shorter than ``window``. Empty docs
    yield no rows."""
    n = F.col("__n_tok")
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        F.ceil(F.greatest(n - window, F.lit(0)) / F.lit(stride)).cast("int") + 1
    )
    toks_df = df.select(F.col("doc_id"), token_count(F.col("text")).alias("__n_tok"))
    # guard the sequence: Spark's sequence(1, 0) yields a DESCENDING [1, 0],
    # not an empty array, so 0-chunk (empty) docs must short-circuit
    starts = F.when(
        n_chunks >= 1,
        F.transform(F.sequence(F.lit(1), n_chunks), lambda i: (i - 1) * stride),
    ).otherwise(F.array().cast("array<int>"))
    return toks_df.select(
        F.col("doc_id"),
        n.alias("n_tokens"),
        F.posexplode(starts).alias("chunk_idx", "start_tok"),
    ).withColumn("end_tok", F.least(F.col("start_tok") + window, F.col("n_tokens")))


def vocab_topk(df: DataFrame, k: int = 50) -> DataFrame:
    """Corpus vocabulary: top-k whitespace tokens by total frequency with
    document frequency — the vocabulary-building / OOV-analysis primitive.
    One explode + one hash aggregation on the token (classic word-count;
    map-side partial aggregation keeps the shuffle at |vocab|, not
    |tokens|); top-k via ``TakeOrderedAndProject``. Deterministic order:
    count desc, token asc."""
    tok = df.select(F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("tok"))
    counts = tok.groupBy("tok").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    return counts.orderBy(F.col("tf").desc(), F.col("tok").asc()).limit(k)


def zipf_fit(df: DataFrame) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS of ln(frequency) on
    ln(rank) for the top-200 tokens — the "does this corpus have a
    natural frequency distribution" diagnostic (a machine-generated or
    template-heavy corpus shows a flattened slope / poor R², which makes
    this a standard pre-training corpus-health check alongside quality
    scores and dedup rates).

    Shape: the word count is one explode + one hash aggregation (shuffle
    bounded at |vocab| by map-side combine), top-n via
    ``TakeOrderedAndProject``; the rank window and the OLS sufficient sums
    then run over the 200-row frame only (m14's accepted
    single-partition-on-a-tiny-frame pattern). Both LN transforms are 6-dp
    floor-quantized into integers, so every sufficient sum is exact and
    the slope/intercept/R² formulas apply once to identical integers on
    both engines.
    """
    tok = df.select(F.explode(tokens(F.col("text"))).alias("tok"))
    counts = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    topn = counts.orderBy(F.col("tf").desc(), F.col("tok").asc()).limit(200)
    w = Window.orderBy(F.col("tf").desc(), F.col("tok").asc())
    pts = topn.select(
        F.floor(F.ln(F.row_number().over(w)) * 1000000).cast("long").alias("xi"),
        F.floor(F.ln(F.col("tf")) * 1000000).cast("long").alias("yi"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xi").cast("double").alias("sx"),
        F.sum("yi").cast("double").alias("sy"),
        F.sum(F.col("xi") * F.col("xi")).cast("double").alias("sxx"),
        F.sum(F.col("xi") * F.col("yi")).cast("double").alias("sxy"),
        F.sum(F.col("yi") * F.col("yi")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    slope = (n * sxy - sx * sy) / dx
    return s.select(
        n.cast("long").alias("n_terms"),
        F.when(dx > 0, slope).alias("zipf_slope"),
        F.when(dx > 0, ((sy - slope * sx) / n) / F.lit(1000000.0)).alias(
            "intercept_ln"
        ),
        F.when(
            (dx > 0) & (dy > 0),
            (n * sxy - sx * sy) * (n * sxy - sx * sy) / (dx * dy),
        ).alias("r2"),
    )


def tfidf_top_term(df: DataFrame) -> DataFrame:
    """Per-document top TF-IDF term: tf(t,d) · ln((N+1)/(df(t)+1)), ties
    broken by term asc. Two hash aggregations (token stats, then argmax per
    doc) and one broadcast of the scalar N — no quadratic blowup; df(t) is
    corpus-global so the token aggregation is the only big shuffle. Scores
    rounded to 6 (ln's last-ulp is engine-dependent)."""
    tok = df.select(F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("tok"))
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.countDistinct("doc_id")).collect()[0][0]
    scored = tf.join(dfreq, "tok").withColumn(
        "score",
        F.round(
            F.col("tf") * F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)), 6
        ),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("tok").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", F.col("tok").alias("top_term"), "score")
    )


def pack_sequences(df: DataFrame) -> DataFrame:
    """Greedy sequence packing: within each ``lang`` group, walk docs in ``doc_id``
    order and append each to the current bin unless it would overflow the
    2048-token capacity, in which case a new bin starts — the standard
    pretraining batch-packing step (maximize tokens per fixed-size context,
    preserve document order). Docs longer than the capacity occupy a bin
    alone, truncated to 2048 tokens.

    The scan order makes this inherently sequential PER GROUP, so it runs
    as ``applyInPandas`` (one shuffle on the group key, then a linear
    in-memory pass per group — groups are language/source shards, each far
    smaller than an executor). The cross-group fan-out is where the
    parallelism lives at 100 TB; there is no global order dependence.

    Output: one row per doc — (group, doc_id, used_tok, bin_idx,
    offset_in_bin)."""
    import pandas as pd

    out_schema = (
        "lang string, doc_id long, used_tok long, "
        "bin_idx long, offset_in_bin long"
    )

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id")
        bins, offsets, used = [], [], []
        bin_idx, fill = 0, 0
        first = True
        for n in pdf["n_tok"]:
            u = min(int(n), 2048)
            if not first and fill + u > 2048:
                bin_idx += 1
                fill = 0
            first = False
            offsets.append(fill)
            bins.append(bin_idx)
            used.append(u)
            fill += u
        return pd.DataFrame(
            {
                "lang": pdf["lang"],
                "doc_id": pdf["doc_id"],
                "used_tok": used,
                "bin_idx": bins,
                "offset_in_bin": offsets,
            }
        )

    return (
        df.select("lang", "doc_id", F.col("n_tok"))
        .groupBy("lang")
        .applyInPandas(pack, schema=out_schema)
    )


def mixture_resample(df: DataFrame, weights: dict[str, tuple[int, int]]) -> DataFrame:
    """Deterministic domain-mixture resampling: downsample each ``lang`` group so the
    kept corpus approaches the target mixture ``weights`` (rational
    ``num/den`` shares per group) — the data-mixing step in front of
    pretraining.

    Per group, the acceptance threshold is
    ``min(10⁴, floor(10⁴·num·N_total / (den·N_group)))`` and
    a doc is kept when its Lehmer hash bucket (``(id mod 2³¹)·48271 mod
    (2³¹−1) mod 10⁴`` — the same portable splitter as the
    train/val/test op) falls below it. All-integer arithmetic end-to-end,
    so the selection is reproducible across engines, runs, and partitions
    — no RNG, no sampleBy. Groups under-represented vs their target keep
    everything (threshold caps at 10⁴); a group absent from
    ``weights`` is dropped. Two scans collapsed by a broadcast of the tiny
    per-group count table."""
    counts = df.groupBy("lang").agg(F.count(F.lit(1)).alias("__n_grp"))
    total = df.count()
    wmap = F.create_map(
        *[F.lit(x) for kv in weights.items() for x in (kv[0], kv[1][0] * 1_000_000 + kv[1][1])]
    )
    packed = wmap[F.col("lang")]
    num = (packed / 1_000_000).cast("long")
    den = (packed % 1_000_000).cast("long")
    thresh = F.least(
        F.lit(10000).cast("long"),
        F.expr(f"CAST(10000 AS BIGINT) * __num * {total} div (__den * __n_grp)"),
    )
    bucket = (F.col("doc_id") % F.lit(2**31)) * 48271 % F.lit(2**31 - 1) % 10000
    return (
        df.join(counts, "lang")
        .withColumn("__num", num)
        .withColumn("__den", den)
        .filter(F.col("__num").isNotNull())
        .withColumn("__thresh", thresh)
        .filter(bucket < F.col("__thresh"))
        .drop("__n_grp", "__num", "__den")
    )


# ----------------------------------------------------------------- BPE

#: Static BPE merge table (rank order = priority). INVARIANT the oracle
#: depends on: every merge's operands are base characters or outputs of
#: EARLIER merges — true of any table learned by real BPE training
#: (symbols exist only after their creating merge), and what makes
#: sequential full application equivalent to lowest-rank-first (see
#: bpe_apply / tests/test_bpe.py::test_fixpoint_equivalence).
BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"),
    ("th", "e"),
    ("i", "n"),
    ("a", "n"),
    ("e", "r"),
    ("o", "n"),
    ("r", "e"),
    ("in", "g"),
    ("an", "d"),
    ("o", "r"),
    ("e", "n"),
    ("a", "t"),
)


def bpe_apply(
    word: str, merges: "tuple[tuple[str, str], ...]" = BPE_MERGES
) -> list[str]:
    """Standard BPE application (the GPT-2 encoder loop): repeatedly
    find the LOWEST-rank merge whose pair is adjacent in the symbol
    sequence and merge all its left-to-right non-overlapping
    occurrences, until no merge applies. Completes the tokenizer story
    t33's merge statistics start: this is the operator every training
    pipeline actually runs per word."""
    return bpe_apply_symbols(list(word), merges)


def bpe_apply_symbols(
    syms: "list[str]", merges: "tuple[tuple[str, str], ...]"
) -> list[str]:
    """The merge loop of :func:`bpe_apply` over an arbitrary initial
    symbol sequence — shared by the character-level path (symbols =
    characters) and the byte-level path (symbols = hex octet pairs,
    :func:`byte_bpe_apply`)."""
    ranks = {pair: i for i, pair in enumerate(merges)}
    while len(syms) > 1:
        best_rank = None
        for pair in zip(syms, syms[1:]):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
        if best_rank is None:
            break
        a, b = merges[best_rank]
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_apply_fixpoint(
    word: str, merges: "tuple[tuple[str, str], ...]" = BPE_MERGES
) -> list[str]:
    """The DuckDB oracle's algorithm, in Python, for the equivalence
    property test: symbols joined by ``|`` separators; each merge in
    rank order replaces its LEFTMOST occurrence repeatedly until none
    remain (DuckDB ``regexp_replace`` without the 'g' flag), which IS
    left-to-right greedy merging. Replace-ALL would be wrong for
    self-pair merges: a match consumes its trailing separator, so
    ``(a,a)`` over ``aaaaa`` would pair symbols 4+5 instead of the
    L2R 3+4 (caught by tests/test_bpe.py). Under the
    operands-exist-before-use invariant this equals
    :func:`bpe_apply` for every input."""
    return bpe_fixpoint_symbols(list(word), merges)


def bpe_fixpoint_symbols(
    syms: "list[str]", merges: "tuple[tuple[str, str], ...]"
) -> list[str]:
    """Separator-string fixpoint over an arbitrary symbol sequence (the
    generalization :func:`byte_bpe_apply`'s oracle uses — symbols are
    hex octet pairs there, characters in :func:`bpe_apply_fixpoint`)."""
    s = "|" + "|".join(syms) + "|"
    for a, b in merges:
        find, repl = f"|{a}|{b}|", f"|{a}{b}|"
        while find in s:
            s = s.replace(find, repl, 1)
    return [t for t in s.split("|") if t]


# ------------------------------------------------------ byte-level BPE

#: Byte-level merge table: symbols are UTF-8 OCTETS rendered as two
#: uppercase hex digits (matching DuckDB ``hex(encode(w))``, so the
#: recursive-CTE oracle and the Python encoder speak the same symbol
#: alphabet). Same operands-exist-before-use invariant as
#: :data:`BPE_MERGES`. The table deliberately spans the three UTF-8
#: widths the fixture corpus exercises: ASCII English digraphs, Latin-1
#: supplement letters (``C3``-lead two-byte sequences — ü é ö), CJK
#: three-byte sequences (的 是), plus one merge that CROSSES a
#: character boundary (ü+b, the 'über' stem) — the byte-level property
#: character BPE cannot express.
BYTE_BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("74", "68"),  # t h        -> 'th'
    ("7468", "65"),  # th e     -> 'the'
    ("69", "6E"),  # i n        -> 'in'
    ("61", "6E"),  # a n        -> 'an'
    ("65", "72"),  # e r        -> 'er'
    ("6F", "6E"),  # o n        -> 'on'
    ("72", "65"),  # r e        -> 're'
    ("616E", "64"),  # an d     -> 'and'
    ("C3", "BC"),  # 0xC3 0xBC  -> ü
    ("C3", "A9"),  # 0xC3 0xA9  -> é
    ("C3", "B6"),  # 0xC3 0xB6  -> ö
    ("C3BC", "62"),  # ü b      -> 'üb' (crosses a char boundary)
    ("E7", "9A"),  # 的 bytes 1+2
    ("E79A", "84"),  # +byte 3  -> 的
    ("E6", "98"),  # 是 bytes 1+2
    ("E698", "AF"),  # +byte 3  -> 是
)

#: Pretokenization for the byte-level path, expressible identically in
#: Spark (Java regex) and DuckDB (RE2): CJK ideographs tokenize
#: per-codepoint (unsegmented scripts have no spaces — per-character
#: pretokens keep the distinct-pretoken vocabulary BOUNDED, preserving
#: the collapse-first route Heaps' law gives segmented scripts), and
#: everything else splits on whitespace. Case is preserved — byte-level
#: BPE does not fold case (GPT-2 posture).
BYTE_PRETOKEN_RE = "[一-鿿]|[^\\s一-鿿]+"


def byte_bpe_apply(word: str) -> list[str]:
    """GPT-2-style byte-level BPE over one pretoken: the word's UTF-8
    octets (as two-hex-digit symbols) run the same lowest-rank-first
    merge loop as :func:`bpe_apply`. Every Unicode string tokenizes —
    nothing falls outside the base alphabet of 256 octets, the property
    that made byte-level the production default."""
    return bpe_apply_symbols(
        ["%02X" % b for b in word.encode("utf-8")], BYTE_BPE_MERGES
    )


def _distinct_word_sums(
    df: DataFrame,
    words: Column,
    count_col: str,
    counters: "dict[str, Callable[[str], int]]",
    carry_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """The distinct-word route of the BPE statistics: explode ``words``
    (an array column) to one row per occurrence, run each ``counters``
    function ONCE per DISTINCT word in an Arrow-batched pass, join the
    counts back to the occurrences and aggregate per document: the
    occurrence count as ``count_col`` and each counter's sum under its
    name. At 100 TB the vocabulary is orders of magnitude smaller than
    the corpus (Heaps' law), so the Python step runs |vocab| times, not
    |corpus| — the same collapse-first routing the dedup family uses.

    Scale routing: raw word OCCURRENCES must never shuffle on the word —
    the key is Zipf-skewed ('the' alone is ~5% of every partition), so a
    shuffle join stalls on the hot keys (measured at 28.5×/decade on the
    naive shape). With the BROADCAST vocab (|vocab| ≪ |corpus|)
    occurrences never shuffle AT ALL: the join is map-side against the
    broadcast table and the only exchanges are the vocab distinct
    (map-combined to one row per distinct word per partition) and the
    final per-doc aggregate (map-combined to one row per doc per
    partition); a ``(doc, word)`` pre-collapse exchange would carry a
    near-input-size row stream for no benefit on this route.
    ``carry_cols`` are functionally dependent on the doc id (e.g.
    source), so adding them to the grouping keys changes nothing but the
    schema."""
    from typing import Iterator

    import pandas as pd

    occ = df.select(
        F.col("doc_id"), *[F.col(c) for c in carry_cols], F.explode(words).alias("w")
    )

    def fn(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "w": pdf["w"],
                    **{
                        name: pd.array([f(w) for w in pdf["w"]], dtype="Int64")
                        for name, f in counters.items()
                    },
                }
            )

    schema = ", ".join(["w string", *(f"{name} bigint" for name in counters)])
    vocab = occ.select("w").distinct().mapInPandas(fn, schema)
    return occ.join(vocab, "w").groupBy("doc_id", *carry_cols).agg(
        F.count(F.lit(1)).alias(count_col),
        *[F.sum(name).alias(name) for name in counters],
    )


def byte_bpe_token_stats(
    df: DataFrame, text_col: str = "text", pretoken_re: str = BYTE_PRETOKEN_RE
) -> DataFrame:
    """Per-document byte-level BPE statistics — the t50 distinct-word
    route (:func:`_distinct_word_sums`) generalized past ``[a-z]+``:
    pretokens are :data:`BYTE_PRETOKEN_RE` matches (CJK per-codepoint,
    otherwise whitespace-split, case preserved), each DISTINCT pretoken
    is byte-tokenized ONCE, token/byte counts rejoin the occurrences and
    aggregate. Pretoken frequency is Zipf-skewed in every language and
    the vocabulary stays small (Heaps' law for segmented scripts, the
    bounded ideograph inventory for CJK), so the broadcast-vocab routing
    holds.

    ``pretoken_re`` swaps the pretokenization grammar: the default is
    the whitespace+CJK approximation above; pass
    :data:`..operators.gpt2.GPT2_PRETOKEN_RE` for the GPT-2-exact
    pattern (contractions, leading-space attachment, the trailing-
    whitespace lookahead, t55). GPT-2 pretokens still obey Heaps' law
    (space-led word forms roughly double the vocabulary, they do not
    unbound it), so the broadcast-vocab routing holds there too."""
    out = _distinct_word_sums(
        df,
        F.regexp_extract_all(F.col(text_col), F.lit(pretoken_re), 0),
        "n_pretok",
        {
            "n_tokens": lambda w: len(byte_bpe_apply(w)),
            "n_bytes": lambda w: len(w.encode("utf-8")),
        },
    )
    return out.withColumn(
        "bytes_per_token",
        F.round(F.col("n_bytes") / F.col("n_tokens"), 6),
    )


def bpe_token_stats(df: DataFrame, carry_cols: "tuple[str, ...]" = ()) -> DataFrame:
    """Per-document BPE token statistics via the distinct-word route
    (:func:`_distinct_word_sums`): words are the ``[a-z]+`` runs of the
    lowercased text (JVM-side regexp, codegen), each DISTINCT word is
    tokenized ONCE, and token counts rejoin the occurrences and
    aggregate per document."""
    out = _distinct_word_sums(
        df,
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0),
        "n_words",
        {"n_tokens": lambda w: len(bpe_apply(w))},
        carry_cols,
    )
    return out.withColumn(
        "tokens_per_word",
        F.round(F.col("n_tokens") / F.col("n_words"), 6),
    )
