"""Generate PLANS.md: a physical-plan audit of every corpus query.

For each query (at $SPARK_GRAFT_SF_DIR or sf0.01): join strategies chosen,
shuffle (Exchange hashpartitioning) count, presence of pushed filters, and
red flags (CartesianProduct, SortAggregate, row-at-a-time PythonUDF). This is
the "is it the plan you'd want" sweep made repeatable — a regression here is
a scale regression even when results stay correct.

Usage: python tools/plan_report.py [> PLANS.md]
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from youbike_etl_pipeline_spark.plans.corpus import CORPUS  # noqa: E402
from youbike_etl_pipeline_spark.session import get_spark  # noqa: E402

JOIN_KINDS = [
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
]


def plan_text(df, mode: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _side_max_rows(node) -> int | None:
    """Logical max-rows bound of a physical subtree, via its logical link
    (Catalyst's ``maxRows``: Some(1) for a grouping-free aggregate, the
    limit for Limit, None when unbounded). Descends through single-child
    wrappers (broadcast exchanges, AQE query stages) that carry no logical
    link of their own."""
    cur = node
    for _ in range(8):
        try:
            # literal frames (local_frame of a fixed list): LocalRelation
            # does NOT override logical maxRows, but the physical scan holds
            # its rows — a 3-row fold/ctx-len frame is a static bound
            if cur.nodeName() == "LocalTableScan":
                return int(cur.rows().length())
        except Exception:  # noqa: BLE001
            pass
        try:
            link = cur.logicalLink()
            if link.isDefined():
                mr = link.get().maxRows()
                if mr.isDefined():
                    return int(mr.get())
        except Exception:  # noqa: BLE001 — missing link ⇒ keep descending
            pass
        try:
            kids = cur.children()
            if kids.length() != 1:
                return None
            cur = kids.apply(0)
        except Exception:  # noqa: BLE001
            return None
    return None


#: BNL-bearing queries whose nested loop is quadratic BY SEMANTICS on a
#: data-derived (hence statically unbounded) side — each documented in its
#: docstring with the callable scale routing. Values are (max adjudicated
#: BNL nodes, reason): the adjudication is COUNT-AWARE, so a NEW unbounded
#: BNL creeping into an already-adjudicated query still fails loud instead
#: of hiding behind the name.
BNL_QUADRATIC_BY_DESIGN = {
    "f4_haversine_distance": (1, "5x25 dim-dim min-distance (region x nation)"),
    "s5_topk_per_query": (1, "per-query ranking: query frame x vectors, "
    "query side is a deliberate small filter of the corpus"),
    "e3_knn_label_consistency": (1, "exact pair audit; routing = e3b (ann_bits)"),
    "e6_jl_projection_audit": (1, "exact pair audit; routing = e6b (sample_mod)"),
    "m28_kendall_tau": (1, "entity-pair tau-b; routing = m28b (sample_mod)"),
    "e6b_jl_audit_sampled": (1, "e6's routing: same BNL shape, pair work / 16"),
    "m28b_kendall_tau_sampled": (1, "m28's routing: same shape, pair work / 100"),
}

BOUNDED_SIDE_ROWS = 10_000  # a side statically bounded below this is a
# constant replicate/fold/grid frame, not a scaling input


def unbounded_bnl_joins(df) -> list[str]:
    """The f20 bug-class detector: BroadcastNestedLoopJoin nodes where
    NEITHER side has a static row bound.

    A BNL against a scalar aggregate, a literal frame, or a small range
    (≤ BOUNDED_SIDE_ROWS) is a fine plan — it attaches a global statistic
    or fans out a constant replicate/fold frame, O(n·C). A BNL whose both
    sides scale with the data is O(n·m) predicate evaluations; f20 once
    had exactly that (the join condition mixed both sides' columns so
    Catalyst could not extract equi-keys) and it never finished at the
    100× probe. This walks the physical plan so the class FAILS the plan
    audit instead of waiting for a probe. Quadratic-by-semantics pair
    audits are adjudicated by name in BNL_QUADRATIC_BY_DESIGN."""
    hits: list[str] = []

    def walk(node) -> None:
        if node.nodeName() == "BroadcastNestedLoopJoin":
            lm = _side_max_rows(node.left())
            rm = _side_max_rows(node.right())
            if not (
                (lm is not None and lm <= BOUNDED_SIDE_ROWS)
                or (rm is not None and rm <= BOUNDED_SIDE_ROWS)
            ):
                hits.append(
                    f"BNL-both-sides-unbounded (left≤{lm}, right≤{rm})"
                )
        kids = node.children()
        for i in range(kids.length()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().sparkPlan())
    return hits


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(app_name="plan-report")
    lines = [
        "# PLANS — physical-plan audit of the query corpus",
        "",
        f"Generated by `tools/plan_report.py` at `{sf_dir}`. Columns: join",
        "strategies in the plan, shuffle count (`Exchange hashpartitioning`),",
        "whether parquet pushdown is active, and red flags.",
        "",
        "Driver-local inputs (rows built on the driver: literal lookup tables,",
        "collected streaming partials, union-find components) go through",
        "`sources.readers.local_frame` and plan as `LocalTableScan`, a JVM",
        "local relation with row-count statistics, never as a PythonRDD",
        "(`Scan ExistingRDD`). The replicate statistics m25 and m30 run their one",
        "fused `MapInArrow` pass (`stats.resample`) while the query is built and",
        "return their few result rows this way, so their rows here show the",
        "`LocalTableScan` alone; `tests/test_plans.py` checks the pass itself.",
        "",
        "| query | joins | shuffles | pushdown | flags |",
        "|---|---|---|---|---|",
    ]
    flags_total = 0
    for name, spec in CORPUS.items():
        try:
            df = spec.fn(spark, sf_dir)
            simple = plan_text(df, "simple")
            formatted = plan_text(df, "formatted")
        except Exception as exc:  # noqa: BLE001
            lines.append(f"| {name} | ERROR | — | — | {type(exc).__name__} |")
            flags_total += 1
            continue
        joins = sorted(
            {k for k in JOIN_KINDS if k in simple},
        )
        shuffles = simple.count("Exchange hashpartitioning")
        pushdown = "yes" if re.search(r"PushedFilters: \[[^\]]", formatted) else "—"
        flags = []
        if "CartesianProduct" in simple:
            flags.append("CARTESIAN")
        if "SortAggregate" in simple:
            flags.append("SortAggregate")
        if "BatchEvalPython" in simple:
            flags.append("row-at-a-time PythonUDF")
        if "BroadcastNestedLoopJoin" in simple:
            bnl = unbounded_bnl_joins(df)
            max_adj = BNL_QUADRATIC_BY_DESIGN.get(name, (0, ""))[0]
            if bnl and len(bnl) <= max_adj:
                flags.append("BNL-quadratic-by-design (adjudicated)")
            elif bnl and max_adj:
                # more unbounded BNLs than adjudicated: surface ALL of them
                flags.append(f"BNL-count-exceeds-adjudication ({len(bnl)}>{max_adj})")
                flags.extend(bnl)
            else:
                flags.extend(bnl)
        flags_total += len(flags)
        lines.append(
            f"| {name} | {', '.join(joins) or '—'} | {shuffles} | {pushdown} | "
            f"{', '.join(flags) or '—'} |"
        )
    lines += [
        "",
        f"Red flags: {flags_total}",
        "",
        "`BNL-both-sides-unbounded` is NEVER acceptable — it is the f20 bug",
        "class (a join condition mixing both sides' columns, so Catalyst",
        "can't extract equi-keys and both scaling sides nested-loop): fix",
        "the join, don't adjudicate the flag. `BNL-quadratic-by-design` is",
        "the adjudicated sibling: pair audits whose nested loop is the",
        "semantics (each named in BNL_QUADRATIC_BY_DESIGN with its callable",
        "scale routing); any NEW query tripping the detector fails loud.",
        "",
        "Known-acceptable flags: `SortAggregate` on queries whose only",
        "aggregate buffer is a STRING min/max (Spark's hash aggregate needs",
        "mutable fixed-width buffers; the inputs there are group-cardinality",
        "sized). `CARTESIAN` on m5_tukey_hsd_pairs is the intentional k×k",
        "group-pair product over the 5-row sufficient-statistics frame —",
        "pairwise post-hoc tests are quadratic in *groups*, not rows.",
    ]
    print("\n".join(lines))


if __name__ == "__main__":
    main()
