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
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

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
