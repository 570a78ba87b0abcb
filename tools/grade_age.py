"""Cumulative driver-grade ledger: query -> latest CORRECTNESS round.

Usage: python tools/grade_age.py [--by-round]

Reads every committed CORRECTNESS_r*.json at the repo root through
plans/corpus.py's grade_ledger (the reader its window steering uses) and
prints, in the current queries() export order:

  position  query  latest-grade-round  status-at-that-grade

so each round's window budgeting (CHANGED_THIS_ROUND + never-graded
<= ~50 slots) stops needing hand-computed set differences.
`--by-round` prints the histogram + the stalest-first tail instead.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    from youbike_etl_pipeline_spark.plans import corpus

    order = corpus._export_order()
    ledger = corpus.grade_ledger()
    if "--by-round" in sys.argv:
        from collections import Counter

        hist = Counter(r for r, _ in ledger.values())
        never = [n for n in order if n not in ledger]
        print(f"graded {len(ledger)} / {len(order)} queries; never-graded: {never}")
        for rnd in sorted(hist):
            print(f"  r{rnd}: {hist[rnd]} queries")
        stale = sorted(
            (n for n in order if n in ledger), key=lambda n: ledger[n][0]
        )[:15]
        print("stalest:", ", ".join(f"{n}(r{ledger[n][0]})" for n in stale))
        return 0
    window = 50
    for i, name in enumerate(order):
        rnd, status = ledger.get(name, (0, "NEVER"))
        marker = "<- window edge" if i == window - 1 else ""
        grade = f"r{rnd}" if rnd else "-"
        print(f"{i + 1:4d}  {name:45s} {grade:>4s}  {status:8s} {marker}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
