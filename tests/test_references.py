"""Every capability has one implementation, and something runs it.

Each top-level function and class of the package must be called or
referenced from somewhere other than its own body, in the package,
``tools/``, ``bench.py``, ``perfbench/`` or ``__spark_entry__.py``.
Tests do not count: a definition only a test reaches is a second
implementation of something the corpus or the pipeline already does, or
dead code. Corpus queries count as reached through their ``@register``
decorator, which puts them in the exported query table.

References resolve by name, as in ``tests/test_options.py``, with one
refinement: a bare name that the same file defines at top level means that
definition (so corpus's ``@register`` does not reach
``snapshot_datasource.register``). Attribute references and other bare
names reach every definition of that name, which over-approximates.

Definitions left unreached on purpose are listed in ``ALLOWED`` by reason;
an entry that something does reach, or that no longer exists, fails too.

The same holds one level down: each SQL fragment the corpus oracles share
has one owner in ``plans/corpus.py``, each wire format the operators read
or write has one owner module, a twin query whose answer is its exact
twin's grades against that twin's own oracle, no six-line run of package
code is written twice, and no file imports a name it never uses (no linter
is installed to catch those).
"""

from __future__ import annotations

import ast
import re
from collections import defaultdict
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "youbike_etl_pipeline_spark"
CALLERS = [
    PKG,
    ROOT / "tools",
    ROOT / "perfbench",
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
]

#: package-relative ``path:name`` of each definition nothing outside the
#: tests reaches, grouped by why it stays.
ALLOWED = {
    # ROADMAP open item 5: capabilities of the reference workload that
    # no corpus query or pipeline step needs (deployment I/O, the scipy-
    # gated p-values, the reference's own small transforms, the UDTF form
    # of the UDF surface).
    "reference capability": {
        "sources/http.py:fetch_json_with_retry",
        "sources/readers.py:read_csv_tolerant",
        "sources/readers.py:read_jdbc",
        "sources/writers.py:write_jdbc",
        "stats/inference.py:p_value_t",
        "stats/inference.py:p_value_f",
        "stats/inference.py:p_value_chi2",
        "stats/inference.py:q_critical",
        "operators/relational.py:rename_synonyms",
        "operators/windows.py:bfill",
        "operators/joins.py:nearest_mrt_distance",
        "functions/udtf.py:ChunkText",
        "functions/udtf.py:JsonKVExplode",
    },
    # ROADMAP open item 5: library forms of what a corpus query runs
    # inline or through a cheaper operator (COVERAGE.md names which).
    "test-only by design": {
        "operators/aggregations.py:describe_block",
        "operators/joins.py:nearest_neighbor_join",
        "operators/joins.py:grid_nn_join",
    },
    # Independent implementations the tests check the Spark paths against.
    "test reference implementation": {
        "operators/gpt2.py:gpt2_pretokenize",
        "operators/html.py:expected_main_text",
        "operators/html.py:expected_extraction",
        "operators/text.py:bpe_apply_fixpoint",
        "sources/readers.py:read_images",
    },
    # The only stream source of snapshot ticks; a session opts in.
    "snapshot DataSource": {
        "sources/snapshot_datasource.py:register",
    },
    # Warehouse operators beyond the reference (COVERAGE.md "CDC / MERGE
    # and data quality", storage layout).
    "CDC, layout and quality extras": {
        "operators/cdc.py:apply_deletes",
        "operators/cdc.py:scd2_apply",
        "operators/quality.py:observe_quality",
        "streaming/rollup.py:IncrementalRollup",
        "sources/writers.py:write_bucketed",
        "sources/writers.py:compact_parquet",
        "sources/writers.py:zorder_write",
    },
}


def _py_files(path: Path) -> list[Path]:
    return [path] if path.suffix == ".py" else sorted(path.rglob("*.py"))


def _top_level(tree: ast.Module) -> list[ast.AST]:
    return [
        n
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    ]



def unreached(pkg: Path = PKG, callers=CALLERS) -> set[str]:
    """``path:name`` of every top-level package definition that nothing
    outside its own body references."""
    # name -> {(file, whether the file defines the name, enclosing
    # top-level definition or None)}
    refs = defaultdict(set)
    for root in callers:
        for path in _py_files(root):
            tree = ast.parse(path.read_text())
            local = {n.name for n in _top_level(tree)}
            for top in tree.body:
                owner = getattr(top, "name", None)
                for n in ast.walk(top):
                    if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
                        refs[n.id].add((path, n.id in local, owner))
                    elif isinstance(n, ast.Attribute):
                        refs[n.attr].add((path, False, owner))
    out = set()
    for path in _py_files(pkg):
        for node in _top_level(ast.parse(path.read_text())):
            if any(
                isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
                for d in node.decorator_list
            ):
                continue
            reached = any(
                (f, owner) != (path, node.name) and (f == path or not is_local)
                for f, is_local, owner in refs[node.name]
            )
            if not reached:
                out.add(f"{path.relative_to(pkg).as_posix()}:{node.name}")
    return out


def test_every_definition_is_reached_outside_the_tests():
    allowed = set().union(*ALLOWED.values())
    got = unreached()
    missing = sorted(got - allowed)
    stale = sorted(allowed - got)
    assert missing == [], "reached only by tests or by nothing:\n" + "\n".join(missing)
    assert stale == [], "allowed but reached, or gone:\n" + "\n".join(stale)


def test_the_scan_sees_every_way_a_definition_is_reached(tmp_path):
    pkg = tmp_path / "youbike_etl_pipeline_spark"
    pkg.mkdir()
    (pkg / "__init__.py").write_text(
        "from .m import exported_only\n__all__ = ['exported_only']\n"
    )
    (pkg / "m.py").write_text(
        "def called(): ...\n"
        "def by_attribute(): ...\n"
        "def by_import(): ...\n"
        "class Made: ...\n"
        "def exported_only(): ...\n"
        "def only_docstring():\n"
        "    '''only_self is named here, not referenced'''\n"
        "def only_self(n):\n"
        "    return only_self(n - 1)\n"
        "def register(name):\n"
        "    return lambda fn: fn\n"
        "@register('q')\n"
        "def query(): ...\n"
        "def user():\n"
        "    called()\n"
        "    Made()\n"
    )
    # same name as m.register, reached by nothing
    (pkg / "q.py").write_text("def register(spark): ...\n")
    caller = tmp_path / "tool.py"
    caller.write_text(
        "from youbike_etl_pipeline_spark import m\n"
        "from youbike_etl_pipeline_spark.m import by_import\n"
        "m.by_attribute()\n"
        "by_import()\n"
    )
    assert unreached(pkg, [pkg, caller]) == {
        "m.py:exported_only",
        "m.py:only_docstring",
        "m.py:only_self",
        "m.py:user",
        "q.py:register",
    }


@pytest.mark.parametrize(
    "needle,owner",
    [
        ("strpos('0123456789abcdef'", "_md5_bytes_ctes"),
        ("s * prev < 0", "_pcm_features_sql"),
        ("regexp_split_to_array(trim(text)", "_SQL_WORDS"),
        ("words[i+2]", "_shingle_cte"),
        ("_hyperplanes(64, 8, seed=42)", "_lsh_planes"),
        ("json_extract(props, '$.k') AS INT) AS item", "_SQL_ITEM"),
        ("regexp_split_to_array(trim(lower(text))", "_SQL_LOWER_WORDS"),
        ("ASOF LEFT JOIN cps", "_asof_checkpoint_sql"),
        (
            "SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC",
            "_sessions_cte",
        ),
        ("JOIN hidx b ON b.doc_id = c.id_b", "_minhash_verify_ctes"),
        ("md5_number_lower(w) % 1048576", "_HASHED_SCORES_SQL"),
        ("(0.75 * d.dl)", "_SQL_BM25_CTES"),
        (
            "CAST(SUM(CAST(sx AS DECIMAL(27,6))) AS DOUBLE) AS sx_tot",
            "_SQL_ANOVA_TOTALS",
        ),
        ("WHEN s_de = GREATEST", "_SQL_LANG_CONFUSION"),
        ("SQRT(CAST(n_tokens AS DOUBLE))", "_SQL_MIXTURE_BUDGET"),
        ("lower(trim(p_name)) AS nm", "_SQL_PART_CANON"),
        ("' *\\n *', chr(10)", "_sql_normalize_ws"),
    ],
)
def test_each_oracle_fragment_has_one_owner(needle, owner):
    """Each SQL restatement of a fixture format or a shared definition (the
    md5 fixture bytes, the PCM feature block, the word tokens and their
    lowercased form, the word-3-gram shingle, the LSH hyperplanes, the
    event item id, the as-of checkpoint join, the session numbering, the
    MinHash verify, the hashed doc scores, BM25, the ANOVA totals, the
    language guess, the mixture budget, the part-name canon, the
    whitespace normalization) is written once in ``plans/corpus.py``: its
    marker appears only inside the owning builder, and the oracles call
    the builder."""
    corpus = PKG / "plans" / "corpus.py"
    text = corpus.read_text()
    node = next(
        n
        for n in ast.parse(text).body
        if getattr(n, "name", None) == owner
        or any(getattr(t, "id", None) == owner for t in getattr(n, "targets", []))
    )
    lines = [i for i, line in enumerate(text.splitlines(), 1) if needle in line]
    inside = [i for i in lines if node.lineno <= i <= node.end_lineno]
    assert inside, f"{needle!r} is not in {owner}"
    outside = sorted(set(lines) - set(inside))
    assert not outside, f"{needle!r} outside {owner}: corpus.py lines {outside}"


@pytest.mark.parametrize(
    "marker,owner",
    [
        pytest.param(
            r"(?<!de)compressobj\(", "operators/warc.py:gzip_member", id="gzip-writer"
        ),
        pytest.param(r"wbits=47", "operators/warc.py:_gunzip_members", id="gzip-walker"),
        pytest.param(r"WARC-Record-ID", "operators/warc.py:warc_record", id="warc-id"),
        pytest.param(r'b"WARC/1\.0"', "operators/warc.py:warc_record", id="warc-version"),
        pytest.param(r'b"RIFF"', "operators/riff.py", id="riff-tag"),
        pytest.param(
            r'unpack_from\("<I", \w+, (pos \+ )?4\)',
            "operators/riff.py:riff_chunks",
            id="riff-size",
        ),
    ],
)
def test_each_wire_format_has_one_owner(marker, owner):
    """Each container format the operators read or write is spelled out
    once: gzip members are written by ``warc.gzip_member`` and walked by
    ``warc._gunzip_members``, WARC records are written by
    ``warc.warc_record``, and RIFF chunks (WAV, AVI, WebP) are written,
    sniffed and walked only in ``operators/riff.py``. ``owner`` is a
    package-relative ``path`` or ``path:function``; the marker (a regular
    expression) must appear inside it and nowhere else in the package."""
    path, _, func = owner.partition(":")
    text = (PKG / path).read_text()
    span = (1, len(text.splitlines()))
    if func:
        node = next(n for n in _top_level(ast.parse(text)) if n.name == func)
        span = (node.lineno, node.end_lineno)
    hits = [
        (f.relative_to(PKG).as_posix(), i)
        for f in _py_files(PKG)
        for i, line in enumerate(f.read_text().splitlines(), 1)
        if re.search(marker, line)
    ]
    inside = [h for h in hits if h[0] == path and span[0] <= h[1] <= span[1]]
    assert inside, f"{marker!r} is not in {owner}"
    outside = sorted(set(hits) - set(inside))
    assert not outside, f"{marker!r} outside {owner}: {outside}"


@pytest.mark.parametrize(
    "twin,exact",
    [
        ("j14_bucketed_asof_join", "j7_asof_join"),
        ("w28_bucketed_systematic_sample", "w11_stratified_systematic_sample"),
        ("a27_bucketed_equi_depth", "a22_equi_depth_histogram"),
        ("s4_ivf_topk", "s1_cosine_topk"),
        ("st10_streaming_drift_monitor", "e2_embedding_drift"),
        ("st11_streaming_hll_distinct", "t45_portable_hll_distinct"),
        ("st12_streaming_countmin", "a23_countmin_heavy_hitters"),
        ("mm32_charset_transfer_decode", "mm29_html_text_extract"),
        ("mm34_transfer_decoding", "mm29_html_text_extract"),
        ("st14_streaming_crawl_extract", "mm29_html_text_extract"),
        ("st15_streaming_transfer_decode", "mm29_html_text_extract"),
    ],
)
def test_twin_queries_share_their_exact_twins_oracle(twin, exact):
    """A routed or streaming twin whose answer contract is its exact
    twin's is graded by that twin's oracle object, not by a copy of its
    text that could drift."""
    from youbike_etl_pipeline_spark.plans.corpus import CORPUS

    assert CORPUS[twin].oracle is CORPUS[exact].oracle


#: Lines of a window: every line of a package module except blank lines,
#: comments and lines of brackets and punctuation alone, stripped.
WINDOW = 6

#: Repeated windows the package keeps on purpose, keyed by the window's
#: lines joined with newlines, with the reason each stays.
REPEATS_ALLOWED: dict[str, str] = {
    "left: DataFrame,\nright: DataFrame,\non: str,\nleft_ts: str,\nright_ts: str,\n"
    "right_values: list[str],": (
        "joins.py: the parameter list of the as-of join; asof_join and "
        "asof_join_forward are its two public directions and _asof_union "
        "takes the same arguments, so the signature is the shared contract, "
        "not a copied body"
    ),
}


def repeated_windows(files: "dict[str, str]") -> dict[str, list[str]]:
    """Every run of ``WINDOW`` consecutive significant lines of one file
    (stripped; blank, ``#`` comment and punctuation-only lines skipped)
    that occurs more than once across ``files`` (name → text), with the
    ``name:line`` where its second and later copies start."""
    seen: set[str] = set()
    repeats: dict[str, list[str]] = defaultdict(list)
    for name, text in files.items():
        kept = [
            (i, line.strip())
            for i, line in enumerate(text.splitlines(), 1)
            if line.strip()
            and not line.strip().startswith("#")
            and any(c.isalnum() or c == "_" for c in line)
        ]
        for k in range(len(kept) - WINDOW + 1):
            key = "\n".join(t for _, t in kept[k : k + WINDOW])
            if key in seen:
                repeats[key].append(f"{name}:{kept[k][0]}")
            seen.add(key)
    return dict(repeats)


def test_no_six_line_window_of_the_package_is_written_twice():
    """A second copy of a query's frame, a CTE chain, an oracle tail, a
    codec's walk or a signature is one more place a change has to reach:
    twins call one builder instead, in one module or across modules."""
    repeats = repeated_windows(
        {f.relative_to(PKG).as_posix(): f.read_text() for f in _py_files(PKG)}
    )
    stray = {k: v for k, v in repeats.items() if k not in REPEATS_ALLOWED}
    assert not stray, "\n\n".join(f"{v} repeat:\n{k}" for k, v in stray.items())
    stale = set(REPEATS_ALLOWED) - set(repeats)
    assert not stale, f"allowed repeats no longer in the package: {sorted(stale)}"


def test_the_window_scan_skips_what_carries_no_code():
    block = "a = 1\nb = 2\nc = 3\nd = 4\ne = 5\nf = 6\n"
    text = block + "# note\n\n)\n" + block + "x = 0\n" + block.replace("c = 3", "c = 4")
    assert repeated_windows({"m.py": text}) == {block.strip(): ["m.py:10"]}
    # a window a second module repeats counts once per copy
    assert repeated_windows({"m.py": block, "n.py": "y = 0\n" + block}) == {
        block.strip(): ["n.py:2"]
    }


#: Where an import nothing uses is dead weight: the package, the tools,
#: the tests and bench.py.
IMPORTERS = [PKG, ROOT / "tools", ROOT / "tests", ROOT / "bench.py"]


def unused_imports(path: Path) -> list[str]:
    """``name`` of every import in ``path`` that the file never reads.
    Names in string annotations and in ``__all__`` count as read, and so
    does an import inside a ``try`` that catches ``ImportError`` (an
    availability probe). Scope is the whole file: a name imported in one
    function and read in another counts as read."""
    tree = ast.parse(path.read_text())
    probes = {
        id(n)
        for t in ast.walk(tree)
        if isinstance(t, ast.Try)
        and any(
            getattr(h.type, "id", None) in ("ImportError", "ModuleNotFoundError")
            for h in t.handlers
        )
        for s in t.body
        for n in ast.walk(s)
    }
    imported, read = {}, set()
    for n in ast.walk(tree):
        if isinstance(n, (ast.Import, ast.ImportFrom)) and id(n) not in probes:
            if getattr(n, "module", None) == "__future__":
                continue
            for a in n.names:
                imported[a.asname or a.name.split(".")[0]] = n.lineno
        elif isinstance(n, ast.Name):
            read.add(n.id)
        elif isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.AnnAssign)):
            args = [] if isinstance(n, ast.AnnAssign) else [
                *n.args.posonlyargs, *n.args.args, *n.args.kwonlyargs,
                n.args.vararg, n.args.kwarg,
            ]
            anns = [n.annotation if isinstance(n, ast.AnnAssign) else n.returns]
            anns += [a.annotation for a in args if a is not None]
            for ann in filter(None, anns):
                for c in ast.walk(ann):
                    if isinstance(c, ast.Constant) and isinstance(c.value, str):
                        read |= {
                            m.id
                            for m in ast.walk(ast.parse(c.value, mode="eval"))
                            if isinstance(m, ast.Name)
                        }
        elif isinstance(n, ast.Assign) and any(
            getattr(t, "id", None) == "__all__" for t in n.targets
        ):
            read |= {c.value for c in ast.walk(n.value) if isinstance(c, ast.Constant)}
    return [f"{name} (line {ln})" for name, ln in sorted(imported.items()) if name not in read]


def test_no_unused_imports():
    found = [
        f"{path.relative_to(ROOT).as_posix()}: {u}"
        for root in IMPORTERS
        for path in _py_files(root)
        for u in unused_imports(path)
    ]
    assert found == [], "imported but never used:\n" + "\n".join(found)


def test_the_import_scan_counts_every_kind_of_use(tmp_path):
    f = tmp_path / "m.py"
    f.write_text(
        "from __future__ import annotations\n"
        "import os, os.path as osp\n"
        "import json\n"
        "from typing import Any, Iterable\n"
        "from collections import OrderedDict as OD\n"
        "from dataclasses import field\n"
        "__all__ = ['OD']\n"
        "try:\n"
        "    import numpy\n"
        "except ImportError:\n"
        "    numpy = None\n"
        "def f(x: 'Iterable[Any]') -> None:\n"
        "    return os.getcwd()\n"
        "def g():\n"
        "    import re\n"
        "    '''json is only named here'''\n"
    )
    assert unused_imports(f) == [
        "field (line 6)", "json (line 3)", "osp (line 2)", "re (line 15)",
    ]


#: The join-strategy hints the package keeps, by ``path:function``, each
#: with the plan it buys over the planner's own choice at sf0.01 and sf0.1,
#: counted over the initial and final adaptive plans of every execution
#: ("builds X" names the broadcast side of a hash join). Every other join
#: is left to Spark's size-based planner and adaptive execution.
BROADCAST_HINTS = {
    "operators/dedup.py:_candidate_pairs": "t7, t38, t38b, t49, st9: 2 BroadcastHashJoins "
    "build the candidate pairs, not the feature frames (ROADMAP item 3)",
    "operators/dedup.py:ngram_jaccard_pairs": "t2, t10, t25, t26, t37: 2 BroadcastHashJoin, "
    "not SortMergeJoin",
    "operators/joins.py:nearest_neighbor_join": "the per-key minima join is a "
    "BroadcastHashJoin, not SortMergeJoin (sf0.1), and the cross product broadcasts the "
    "right point set, not the left",
    "plans/corpus.py:dq2_iqr_outliers": "dq2: BroadcastHashJoin builds the quartiles, not "
    "the events (the hint costs 2 Exchanges)",
    "plans/corpus.py:m12_median_absolute_deviation": "m12: BroadcastHashJoin builds the "
    "medians, not the events (the hint costs 1 Exchange)",
    "plans/corpus.py:q8_national_market_share": "q8: the customer semi join is a "
    "BroadcastHashJoin, not SortMergeJoin",
    "plans/corpus.py:q21_suppliers_kept_waiting": "q21: 1 Exchange fewer at sf0.1",
    "plans/corpus.py:dq4_volume_anomalies": "dq4: BroadcastHashJoin builds the per-type "
    "stats, not the daily counts",
    "plans/corpus.py:_bm25_scores": "s7, s8: BroadcastHashJoin builds the idf table, not "
    "the term frequencies",
    "plans/corpus.py:ev4_conversion_latency": "ev4: BroadcastNestedLoopJoin broadcasts the "
    "quantile row, not the counts",
    "plans/corpus.py:ev5_rfm_segmentation": "ev5: BroadcastNestedLoopJoin broadcasts the "
    "thresholds, not the RFM frame (the hint costs 1 Exchange)",
    "plans/corpus.py:f18_winsorized_stats": "f18: BroadcastNestedLoopJoin broadcasts the "
    "thresholds, not the values (the hint costs 1 Exchange)",
    "plans/corpus.py:m17_levene_brown_forsythe": "m17: BroadcastHashJoin builds the "
    "medians, not the values (the hint costs 1 Exchange)",
    "plans/corpus.py:e4_fisher_separation": "e4: BroadcastHashJoin builds the global "
    "centroid, not the label centroids",
    "plans/corpus.py:m26_theil_sen_trend": "m26: the origin joins are BroadcastHashJoins, "
    "not 3 SortMergeJoins, and 2 more build the slopes, not the day index",
    "plans/corpus.py:g5_partition_modularity": "g5: the community left join is a "
    "BroadcastHashJoin, not SortMergeJoin",
    "plans/corpus.py:g6_ra_link_prediction": "g6: the degree join is a BroadcastHashJoin, "
    "not SortMergeJoin",
    "plans/corpus.py:t47_pmi_cooccurrence": "t47: BroadcastHashJoin builds the vocabulary, "
    "not the tokens (the hint costs 1 Exchange)",
    "plans/corpus.py:w24_robust_anomaly_days": "w24: 2 BroadcastHashJoins build the medians "
    "and MADs, not the daily frames (the hints cost 2 Exchanges)",
    "plans/corpus.py:w26_dominant_period": "w26: 2 Projects fewer around the period grid",
    "plans/corpus.py:mm9_channel_histogram": "mm9: BroadcastHashJoin builds the channel "
    "entropies, not the histogram",
    "plans/corpus.py:m32_g_test": "m32: BroadcastHashJoin builds the margins, not the "
    "observed counts (sf0.1)",
    "stats/inference.py:ks_two_sample": "m11: the ECDF offsets join is a "
    "BroadcastHashJoin, not SortMergeJoin",
}


def broadcast_hints(pkg: Path = PKG) -> set[str]:
    """``path:function`` of every ``F.broadcast(...)`` call in the package
    (``<module>`` outside any function)."""
    found = set()

    def visit(node: ast.AST, owner: str, rel: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name, rel)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "broadcast"
                and getattr(child.func.value, "id", None) == "F"
            ):
                found.add(f"{rel}:{owner}")
            visit(child, owner, rel)

    for path in _py_files(pkg):
        visit(ast.parse(path.read_text()), "<module>", path.relative_to(pkg).as_posix())
    return found


def test_every_broadcast_hint_buys_a_plan():
    """A hint the planner would have chosen anyway is one more place a
    join-strategy change has to reach, and a hint on a frame that grows
    with the corpus holds that frame in every executor's memory."""
    found = broadcast_hints()
    assert not found - set(BROADCAST_HINTS), f"unlisted hints: {sorted(found - set(BROADCAST_HINTS))}"
    assert not set(BROADCAST_HINTS) - found, f"stale entries: {sorted(set(BROADCAST_HINTS) - found)}"


def test_the_hint_scan_finds_each_hint_in_its_innermost_function(tmp_path):
    (tmp_path / "m.py").write_text(
        "x = F.broadcast(a)\n"
        "def f(df):\n"
        "    def g():\n"
        "        return df.join(F.broadcast(b), 'k')\n"
        "    sc.broadcast(c)  # a broadcast variable, not a join hint\n"
        "    return g\n"
        "def h(df):\n"
        "    return df.sparkContext.broadcast(d)\n"
    )
    assert broadcast_hints(tmp_path) == {"m.py:<module>", "m.py:g"}
