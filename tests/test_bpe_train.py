"""BPE merge TRAINING (round 11, t56): the doubled-separator merge
trick, Sennrich overlapping pair counts, deterministic tie-breaks, and
the train/apply consistency property — the learned table fed back
through `bpe_apply_symbols` reproduces the trained segmentation."""

from __future__ import annotations

import pytest

from youbike_etl_pipeline_spark.operators.bpe_train import bpe_train_merges
from youbike_etl_pipeline_spark.operators.text import bpe_apply_symbols

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False


def _seg(word: str) -> str:
    """Doubled-separator encoding: 'cat' -> '|c||a||t|'."""
    return "|" + "||".join(word) + "|"


def _merge_py(s: str, a: str, b: str) -> str:
    """The engine/oracle merge step: plain L2R non-overlapping replace."""
    return s.replace(f"|{a}||{b}|", f"|{a}{b}|")


def _apply_one_l2r(syms: list, a: str, b: str) -> list:
    """Reference single-merge L2R greedy application (the inner loop of
    bpe_apply_symbols for one pair)."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _split(s: str) -> list:
    return [t for t in s.strip("|").split("||") if t]


def test_doubled_separator_self_pair_is_l2r():
    # 5 a's -> aa aa a (floor pairing, L2R), not the replace-all mispair
    assert _split(_merge_py(_seg("aaaaa"), "a", "a")) == ["aa", "aa", "a"]
    assert _split(_merge_py(_seg("aaaa"), "a", "a")) == ["aa", "aa"]
    assert _split(_merge_py(_seg("aba"), "a", "b")) == ["ab", "a"]
    # adjacent non-self matches don't share a boundary pipe
    assert _split(_merge_py(_seg("abab"), "a", "b")) == ["ab", "ab"]


if HAVE_HYPOTHESIS:

    @given(
        st.text(alphabet="abc", min_size=0, max_size=12),
        st.sampled_from([("a", "b"), ("a", "a"), ("b", "c"), ("c", "c")]),
    )
    @settings(max_examples=200, deadline=None)
    def test_doubled_separator_equals_reference(word, pair):
        a, b = pair
        got = _split(_merge_py(_seg(word), a, b)) if word else []
        assert got == _apply_one_l2r(list(word), a, b)


@pytest.fixture(scope="module")
def trained(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat then the hat"),
            (2, "then that the thee"),
            (3, "aaa aaaa banana"),
        ],
        "doc_id long, text string",
    )
    return df, bpe_train_merges(df, k=5).collect()


def test_train_first_merge_and_counts(spark, trained):
    _, rows = trained
    rows = sorted(rows, key=lambda r: r["it"])
    assert len(rows) == 5
    # corpus pair counts: 'th' appears in the(3x incl 'thee','then'...)
    # count by hand over DISTINCT words weighted by occurrences:
    # words: the x3, cat, then x2, hat, that, thee, aaa, aaaa, banana
    # (t,h): the3 + then2 + hat? no ('a','t') not (t,h); that1 + thee1 -> 3+2+1+1 = 7
    # (a,a): aaa has 2 overlapping + aaaa has 3 -> 5; (a,n): banana 2 + then? no -> 2
    first = rows[0]
    assert (first["sym_a"], first["sym_b"], first["pair_cnt"]) == ("t", "h", 7)


def test_overlapping_pair_counts_sennrich(spark):
    df = spark.createDataFrame([(1, "aaa")], "doc_id long, text string")
    rows = bpe_train_merges(df, k=1).collect()
    # 'aaa' contributes the (a,a) pair TWICE (overlapping adjacency)...
    assert rows[0]["pair_cnt"] == 2
    # ...but the merge applies L2R non-overlapping: tokens after = 2 (aa, a)
    assert rows[0]["vocab_tokens"] == 2


def test_tie_break_deterministic(spark):
    # (a,b) and (c,d) both count 1 -> lexicographically smallest wins
    df = spark.createDataFrame([(1, "ab cd")], "doc_id long, text string")
    rows = bpe_train_merges(df, k=1).collect()
    assert (rows[0]["sym_a"], rows[0]["sym_b"]) == ("a", "b")


def test_learned_table_reproduces_segmentation(spark, trained):
    """Train/apply consistency: applying the learned merges through the
    standard lowest-rank-first encoder (`bpe_apply_symbols`) yields the
    same segmentation as the training loop's own sequential passes —
    merges never re-enable earlier merges (fused symbols are new), so
    rank-order replay equals the training order."""
    df, rows = trained
    merges = tuple((r["sym_a"], r["sym_b"]) for r in sorted(rows, key=lambda r: r["it"]))
    assert len(merges) == 5
    words = set()
    for r in df.select("text").collect():
        words.update(r["text"].split())
    for w in sorted(words):
        seq = list(w)
        for a, b in merges:  # training's sequential application
            seq = _apply_one_l2r(seq, a, b)
        assert bpe_apply_symbols(list(w), merges) == seq, w


def test_vocab_tokens_monotone_nonincreasing(trained):
    _, rows = trained
    toks = [r["vocab_tokens"] for r in sorted(rows, key=lambda r: r["it"])]
    assert all(b <= a for a, b in zip(toks, toks[1:]))


def test_fully_merged_vocab_stops_early(spark):
    df = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    rows = bpe_train_merges(df, k=4).collect()
    # one merge exhausts the vocabulary (every word becomes one symbol)
    assert len(rows) == 1
    # occurrence-weighted corpus tokens: 2 occurrences x 1 symbol
    assert rows[0]["vocab_tokens"] == 2
