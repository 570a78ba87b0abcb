"""Bench regression gate: turns a "zero regressions" claim from an
observation into a build invariant.

Usage:
    python tools/bench_gate.py NEW_BENCH.json [REF_BENCH.json]

Compares a fresh ``bench.py`` JSON against a reference (default: the last
line of ``BENCH_HISTORY.jsonl``) and FAILS (exit 1) when any common query
slows more than ``RATIO`` (1.5x) AND more than ``ABS_SEC`` (0.3 s
absolute) — a double threshold, so sub-second jitter on cheap queries never trips the gate. min-of-repeats
is compared against min-of-repeats when both sides carry ``queries_min``
(single-shot medians sit in a +/-35% noise band on this host — bench.py's
header documents the measurement); otherwise whatever per-query numbers
both sides share.

Exit 0 prints the per-query verdict table; exit 1 lists the regressions.
"""

from __future__ import annotations

import json
import os
import sys

RATIO = 1.5
ABS_SEC = 0.3


def pick_timings(bench: dict) -> dict[str, float]:
    """Per-query numbers for comparison: min-of-repeats when present
    (steadier round-over-round), else the headline medians."""
    return dict(bench.get("queries_min") or bench["queries"])


def find_regressions(
    new: dict, ref: dict, ratio: float = RATIO, abs_sec: float = ABS_SEC
) -> list[tuple[str, float, float]]:
    """(name, ref_sec, new_sec) for every common query that is BOTH
    ratio-slower and absolutely slower than the thresholds."""
    # compare like with like: min-vs-min only when both sides have it
    if new.get("queries_min") and ref.get("queries_min"):
        new_t, ref_t = dict(new["queries_min"]), dict(ref["queries_min"])
    else:
        new_t, ref_t = dict(new["queries"]), dict(ref["queries"])
    out = []
    for name, t_new in new_t.items():
        t_ref = ref_t.get(name)
        if t_ref is None or t_ref <= 0:
            continue
        if t_new > t_ref * ratio and (t_new - t_ref) > abs_sec:
            out.append((name, float(t_ref), float(t_new)))
    return sorted(out, key=lambda x: x[2] / x[1], reverse=True)


def last_history_line(path: str) -> dict:
    last = None
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line:
                last = json.loads(line)
    if last is None:
        raise SystemExit(f"bench_gate: {path} is empty")
    return last


def main() -> None:
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    new = json.load(open(sys.argv[1]))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ref = (
        json.load(open(sys.argv[2]))
        if len(sys.argv) > 2
        else last_history_line(os.path.join(root, "BENCH_HISTORY.jsonl"))
    )
    regs = find_regressions(new, ref)
    # count the SAME key sets find_regressions compared (min-vs-min only
    # when both sides carry it)
    if new.get("queries_min") and ref.get("queries_min"):
        common = set(new["queries_min"]) & set(ref["queries_min"])
    else:
        common = set(new["queries"]) & set(ref["queries"])
    ref_tag = ref.get("round", "HISTORY[-1]")
    if regs:
        print(
            f"BENCH GATE FAIL vs round {ref_tag} "
            f"({len(regs)} regression(s) > {RATIO}x and > {ABS_SEC}s "
            f"over {len(common)} common queries):"
        )
        for name, t_ref, t_new in regs:
            print(f"  {name}: {t_ref:.3f}s -> {t_new:.3f}s ({t_new / t_ref:.2f}x)")
        sys.exit(1)
    print(
        f"BENCH GATE PASS vs round {ref_tag}: {len(common)} common queries, "
        f"none slower than {RATIO}x + {ABS_SEC}s"
    )


if __name__ == "__main__":
    main()
