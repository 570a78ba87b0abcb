"""Seed-robustness parity: adversarial synthetic tables.

The driver regenerates the testdata parquet each round with a fresh seed, so
a query that hash-matches on today's data can fail on tomorrow's (this is
exactly how f12/t3/t5 went driver-red in round 1 while passing locally).
These tests re-run the text/rounding corpus queries on hand-built tables
containing every edge the generators could plausibly emit: empty and
whitespace-only documents, CJK, combining accents, emoji, control chars,
exact .5 rounding boundaries, and negative values.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from youbike_etl_pipeline_spark.parity import duck_views, oracle_diff
from youbike_etl_pipeline_spark.plans.corpus import CORPUS

ADV_DOCS = [
    # (doc_id, text, lang, source)
    (0, "", "en", "web"),
    (10, "   ", "en", "web"),
    (20, "\t\n  \r", "de", "web"),
    (30, "the quick brown fox and the lazy dog", "en", "book"),
    (40, "中文文本沒有空格也沒有標點符號", "zh", "web"),
    (50, "café déjà vu", "fr", "web"),  # precomposed accents
    (60, "café déjà vu", "fr", "web"),  # combining accents
    (70, "emoji \U0001f600 and more \U0001f680 text", "en", "social"),
    (80, "der die und das ist, oder?", "de", "book"),
    (90, "el que y la de -- punct!!! ???", "es", "web"),
    (100, "a", "en", "web"),
    (110, "word", "en", "web"),
    (120, "tab\tseparated\ttokens here", "en", "log"),
    (130, "trailing spaces   ", "en", "log"),
    (140, "   leading spaces", "en", "log"),
]

ADV_EVENTS = [
    # (event_id, user_id, event_type, value): exact .5 boundaries around the
    # corpus's value-250.0 shift, negatives, and sub-integer noise
    (1, 1, "view", 250.5),
    (2, 1, "view", 252.5),
    (3, 1, "view", 249.5),  # value-250 = -0.5 → clamp
    (4, 2, "click", 247.5),  # -2.5 → clamp
    (5, 2, "click", 250.0),
    (6, 2, "click", 1250.5),
    (7, 3, "buy", 0.0),
    (8, 3, "buy", 251.49999999999997),
    (9, 3, "buy", 250.50000000000003),
    (10, 3, "buy", 499.5),
]


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("advdata")
    docs = pa.table(
        {
            "doc_id": pa.array([r[0] for r in ADV_DOCS], pa.int64()),
            "text": pa.array([r[1] for r in ADV_DOCS], pa.string()),
            "lang": pa.array([r[2] for r in ADV_DOCS], pa.string()),
            "source": pa.array([r[3] for r in ADV_DOCS], pa.string()),
            "n_chars": pa.array([len(r[1]) for r in ADV_DOCS], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(d, "documents.parquet"))
    events = pa.table(
        {
            "event_id": pa.array([r[0] for r in ADV_EVENTS], pa.int64()),
            "ts": pa.array(
                [1700000000000000000 + i * 10**9 for i in range(len(ADV_EVENTS))],
                pa.timestamp("ns"),
            ),
            "user_id": pa.array([r[1] for r in ADV_EVENTS], pa.int64()),
            "event_type": pa.array([r[2] for r in ADV_EVENTS], pa.string()),
            "value": pa.array([r[3] for r in ADV_EVENTS], pa.float64()),
            "props": pa.array(["{}"] * len(ADV_EVENTS), pa.string()),
        }
    )
    pq.write_table(events, os.path.join(d, "events.parquet"))
    return str(d)


ADV_QUERIES = [
    "f12_clamp_round",
    "f1_f2_tz_normalize",
    "m12_median_absolute_deviation",
    "t3_token_stats",
    "t4_lang_id_confusion",
    "t5_char_fingerprint",
    "t6_quality_scores",
    "t16_contamination_check",
    "t17_repetition_ratio",
    "t18_char_entropy",
    "t19_bigram_lm",
    # round-4c text/sequence queries: empty/whitespace-only docs must be
    # dropped identically by both engines' \S+ tokenizers; the sequence
    # and transition queries see the hand-built tiny event stream
    "t29_adaptive_quality_filter",
    "t27_user_event_sequences",
    "ev3_transition_matrix",
    "dq4_volume_anomalies",
    "cdc2_incremental_rollup",
    # interval/scaffold ops on the 10-event hand-built stream: single-event
    # sessions (zero-length intervals) and a contiguous hour span
    "j11_interval_overlap_join",
    "w16_user_acquisition_curve",
    "w17_regular_grid_resample",
    # the fixture's precomposed-vs-combining 'café déjà vu' pair is exactly
    # the case where raw-text Levenshtein units diverge between engines
    "t9_levenshtein_pairs",
    # round-9 crawl-text family: empty/whitespace-only/CJK/emoji/control
    # docs flow through the HTML fixture → WARC → extraction → quality /
    # BPE — entity escaping, whitespace normalization and [a-z]+ word
    # projection must agree on every shape the generator could emit
    "mm29_html_text_extract",
    "mm31_crawl_quality_pipeline",
    "t50_bpe_encode",
    "mm30_url_canonicalize",
    "t51_bpe_mixture_budget",
    "mm32_charset_transfer_decode",
    "mm33_robots_policy",
    "t52_extracted_lang_id",
    # round-10: transfer decoding must survive chunk/gzip round-trips of
    # every text shape; byte-BPE must byte-tokenize CJK/emoji/combining
    # accents identically to the hex-symbol CTE; boilerplate and
    # paragraph dedup re-assemble from the same raw shapes
    "mm34_transfer_decoding",
    "t53_byte_bpe_encode",
    "mm35_boilerplate_removal",
    "t54_paragraph_dedup",
    "mm36_http_status_frontier",
    "mm37_wet_conversion_sink",
    "st15_streaming_transfer_decode",
    "mm38_crawl_admission",
    "mm39_cdx_index",
]


@pytest.mark.parametrize("name", ADV_QUERIES)
def test_adversarial_parity(spark, adv_dir, name):
    spec = CORPUS[name]
    diff = oracle_diff(spec.fn(spark, adv_dir), spec.oracle, duck_views(adv_dir))
    assert diff is None, f"{name}: {diff}"
