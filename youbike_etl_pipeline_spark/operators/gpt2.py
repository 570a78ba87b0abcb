"""GPT-2-EXACT byte-BPE pretokenization.

The GPT-2 tokenizer splits text into pretokens with one famous regex
(Radford et al. 2019, `gpt-2/src/encoder.py`):

    's|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+

whose behaviors the t53 whitespace+CJK approximation
(:data:`..operators.text.BYTE_PRETOKEN_RE`) does not reproduce:

- lowercase English contraction suffixes split off (``'s``/``'t``/
  ``'re``/``'ve``/``'m``/``'ll``/``'d`` — case-SENSITIVE, no word
  boundary: they fire only when the scanner lands ON the apostrophe,
  so ``!!'t`` keeps ``!!'`` together as a punctuation run),
- a single LEADING SPACE attaches to the following letter/number/
  punctuation run (`` the`` is one pretoken — the property that gives
  GPT-2 its space-prefixed vocabulary),
- a whitespace run before a non-space token yields all but its LAST
  character (the ``\\s+(?!\\S)`` lookahead branch — the final space is
  left to lead the next token), while a trailing run at end-of-text is
  consumed whole,
- letters/numbers are full Unicode categories (CJK ideographs are
  LETTERS — a CJK run is ONE pretoken, not per-codepoint).

Two independent implementations live here:

- :data:`GPT2_PRETOKEN_RE` — the pattern for Spark's JVM
  ``regexp_extract_all`` (java.util.regex supports the ``(?!...)``
  lookahead RE2 lacks). ``(?U)`` (UNICODE_CHARACTER_CLASS) pins
  ``\\s`` to the Unicode White_Space property, matching
  :data:`WHITESPACE` below.
- :func:`gpt2_pretokenize` — a from-scratch Python scanner of the same
  grammar (ordered alternatives, explicit lookahead backtrack), used
  by the hypothesis equivalence suite (tests/test_gpt2_pretoken.py) to
  pin the JVM pattern's behavior, and by the oracle design: the t55
  DuckDB oracle re-derives the scanner as a recursive-CTE
  position-stepper (RE2 has no lookahead, so the oracle cannot just
  run the regex — the CTE implements the alternative order and the
  run-minus-last-char whitespace rule directly).

Reference parity: the reference repo has no tokenizer (SURVEY.md §2
ext:text-analysis north star); this is the GPT-2-exact pretokenization
the byte-level BPE statistics (t55) run.

Scale posture: pretokenization is a per-row JVM regexp inside the
scan — zero shuffle; downstream
:func:`..operators.text.byte_bpe_token_stats` keeps its broadcast-
vocab route (GPT-2 pretokens still obey Heaps' law: space-led word
forms roughly double the vocabulary, they do not unbound it).
"""

from __future__ import annotations

import unicodedata

__all__ = [
    "GPT2_PRETOKEN_RE",
    "WHITESPACE",
    "gpt2_pretokenize",
]

#: Java-regex form of the GPT-2 pattern. (?U) = UNICODE_CHARACTER_CLASS,
#: making \s exactly the Unicode White_Space set (:data:`WHITESPACE`);
#: \p{L}/\p{N} are Unicode categories with or without the flag.
GPT2_PRETOKEN_RE = (
    "(?U)'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+"
    "| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+"
)

#: What java.util.regex ``\s`` matches under (?U) — the engine's
#: operative whitespace class, pinned EMPIRICALLY against the JVM over
#: the whole BMP (tests/test_gpt2_pretoken.py probes every codepoint:
#: the scanner must match the ENGINE, not a spec paraphrase): exactly
#: the 25-codepoint Unicode White_Space property (\p{IsWhite_Space}).
#: Notably this EXCLUDES U+001C-001F (file/group/record/unit
#: separators), which Python's `re` \s DOES match — the fixture and
#: hypothesis alphabets avoid those four controls, and the JVM class
#: is the one the engine runs.
WHITESPACE = frozenset(
    "\t\n\x0b\x0c\r \x85\xa0\u1680"
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "\u2028\u2029\u202f\u205f\u3000"
)

_CONTRACTIONS = ("'s", "'t", "'re", "'ve", "'m", "'ll", "'d")


def _is_letter(ch: str) -> bool:
    return unicodedata.category(ch).startswith("L")


def _is_number(ch: str) -> bool:
    return unicodedata.category(ch).startswith("N")


def _is_other(ch: str) -> bool:
    """[^\\s\\p{L}\\p{N}] — the punctuation/symbol run class."""
    return ch not in WHITESPACE and not _is_letter(ch) and not _is_number(ch)


def gpt2_pretokenize(text: str) -> "list[str]":
    """Reference scanner for the GPT-2 pattern: ordered alternatives,
    leftmost match, every position consumed (the alternatives cover the
    whole alphabet, so the pretokens CONCATENATE BACK to the input —
    pinned by tests). See module docstring for the grammar."""
    toks: list[str] = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        # 1) contraction suffixes (only when AT the apostrophe)
        if c == "'":
            m = next((s for s in _CONTRACTIONS if text.startswith(s, i)), None)
            if m is not None:
                toks.append(m)
                i += len(m)
                continue
        # 2-4) ' ?CLASS+' — optional single literal space, then a run
        j = i + 1 if c == " " else i
        matched = False
        if j < n:
            for pred in (_is_letter, _is_number, _is_other):
                if pred(text[j]):
                    k = j + 1
                    while k < n and pred(text[k]):
                        k += 1
                    toks.append(text[i:k])
                    i = k
                    matched = True
                    break
        if matched:
            continue
        # 5-6) whitespace runs: all-but-last before a non-space (the
        # (?!\S) backtrack), the whole run at end-of-text, a single
        # whitespace char otherwise
        k = i + 1
        while k < n and text[k] in WHITESPACE:
            k += 1
        if k < n and k - i >= 2:
            toks.append(text[i : k - 1])
            i = k - 1
        else:
            toks.append(text[i:k])
            i = k
    return toks
