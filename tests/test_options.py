"""Options that no caller sets are constants, not parameters.

A defaulted parameter of a package function counts as set when some call
in the package, ``tools/``, ``bench.py``, ``perfbench/``, ``tests/`` or
``__spark_entry__.py`` passes it: by keyword, by position, or as a literal
key of a dict splatted into the call (``fn(x, **{"k": 1})``, and
``fn(x, **kwargs)`` with ``kwargs`` built from dict literals or ``dict(...)``
calls in the same top-level statement, such as a parametrize list or a
``combos`` rotation). A value that is a literal equal to the default
does not count: passing it leaves the default as the one value in use.
Calls resolve by name, which over-approximates: a parameter counts as set
when any function of that name receives it.

The only parameters allowed to stay unset are deployment I/O settings in
``sources/`` and the CLI entry point ``pipelines.youbike.run_ingest_cli``.
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
    ROOT / "tests",
    ROOT / "perfbench",
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
]


def _py_files(path: Path) -> list[Path]:
    return [path] if path.suffix == ".py" else sorted(path.rglob("*.py"))


def _defaulted_params(pkg: Path):
    """(file, qualname, name, is_method, [(position or None, param, default)])"""
    out = []

    def visit(node, path, prefix, in_class):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = ch.args
                pos = a.posonlyargs + a.args
                first = len(pos) - len(a.defaults)
                params = [
                    (i, x.arg, a.defaults[i - first]) for i, x in enumerate(pos) if i >= first
                ]
                params += [
                    (None, x.arg, d) for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
                ]
                static = any(
                    isinstance(d, ast.Name) and d.id == "staticmethod" for d in ch.decorator_list
                )
                out.append((path, prefix + ch.name, ch.name, in_class and not static, params))
                visit(ch, path, f"{prefix}{ch.name}.", False)
            elif isinstance(ch, ast.ClassDef):
                visit(ch, path, f"{prefix}{ch.name}.", True)
            else:
                visit(ch, path, prefix, in_class)

    for path in _py_files(pkg):
        visit(ast.parse(path.read_text()), path.relative_to(pkg.parent).as_posix(), "", False)
    return out


def _dict_items(node) -> list[tuple[str, ast.expr]]:
    """(key, value) of every dict literal and ``dict(...)`` call under ``node``."""
    items = []
    for n in ast.walk(node):
        if isinstance(n, ast.Dict):
            items += [
                (k.value, v) for k, v in zip(n.keys, n.values) if isinstance(k, ast.Constant)
            ]
        elif isinstance(n, ast.Call) and isinstance(n.func, ast.Name) and n.func.id == "dict":
            items += [(k.arg, k.value) for k in n.keywords if k.arg]
    return items


_MISSING = object()


def _literal(node):
    try:
        value = ast.literal_eval(node)
    except (ValueError, TypeError):
        return _MISSING
    return (type(value), value)


def _sets(arg, default) -> bool:
    """Whether passing ``arg`` sets a parameter defaulting to ``default``:
    a literal equal to the default leaves the default in force."""
    value = _literal(arg)
    return value is _MISSING or value != _literal(default)


def unset_parameters(pkg: Path = PKG, callers=CALLERS) -> list[tuple[str, str, str]]:
    """(file, qualname, parameter) of every defaulted parameter no call sets."""
    defs = _defaulted_params(pkg)
    names = {d[2] for d in defs}
    classes = {
        n.name
        for p in _py_files(pkg)
        for n in ast.walk(ast.parse(p.read_text()))
        if isinstance(n, ast.ClassDef)
    }
    # callee name -> [(positional args or None after a *splat, whether the
    # args fill ``self`` of a method, [(keyword, value)] incl. **splats)]
    calls = defaultdict(list)
    for root in callers:
        for path in _py_files(root):
            for top in ast.parse(path.read_text()).body:
                literals = None
                for call in ast.walk(top):
                    if not isinstance(call, ast.Call):
                        continue
                    f = call.func
                    name = getattr(f, "id", None) or getattr(f, "attr", None)
                    targets = {name} - {None}
                    splats = [k.value for k in call.keywords if k.arg is None]
                    keywords = [(k.arg, k.value) for k in call.keywords if k.arg]
                    for s in splats:
                        if isinstance(s, ast.Dict):
                            keywords += _dict_items(s)
                            continue
                        # **kwargs: the dict literals of this statement, for the
                        # callee or any function it names as a string
                        if literals is None:
                            literals = {
                                c.value
                                for c in ast.walk(top)
                                if isinstance(c, ast.Constant) and isinstance(c.value, str)
                            }
                        keywords += _dict_items(top)
                        targets |= literals & names
                    starred = any(isinstance(a, ast.Starred) for a in call.args)
                    args = None if starred else call.args
                    if name in classes:
                        targets.add("__init__")
                    for t in targets:
                        # obj.f(...) calls, and calls reached through a string
                        # name, fill ``self`` first when f is a method
                        bound = isinstance(f, ast.Attribute) or t != name
                        calls[t].append((args, bound, keywords))
    unset = []
    for path, qual, name, is_method, params in defs:
        for i, param, default in params:
            for args, bound, keywords in calls[name]:
                passed = [v for k, v in keywords if k == param]
                if passed:
                    if any(_sets(v, default) for v in passed):
                        break
                    continue
                if i is None:
                    continue
                j = i - (is_method and bound)
                if args is None or (0 <= j < len(args) and _sets(args[j], default)):
                    break
            else:
                unset.append((path, qual, param))
    return unset


def _in_scope(entry: tuple[str, str, str]) -> bool:
    path, qual, _ = entry
    if "/sources/" in path:
        return False
    return not (path.endswith("pipelines/youbike.py") and qual == "run_ingest_cli")


def test_every_defaulted_parameter_is_set_by_some_call():
    unset = [u for u in unset_parameters() if _in_scope(u)]
    assert unset == [], "\n".join(f"{p}:{q}({a}) is set by no call" for p, q, a in unset)


def test_the_scan_sees_every_way_a_call_sets_a_parameter(tmp_path):
    pkg = tmp_path / "youbike_etl_pipeline_spark"
    pkg.mkdir()
    (pkg / "m.py").write_text(
        "def kw(df, a=1, b=2): ...\n"
        "def pos(df, a=1, b=2): ...\n"
        "def splat(df, a=1, b=2): ...\n"
        "def rotated(df, a=1, b=2): ...\n"
        "def same(df, a=1, b=2, c='x'): ...\n"
        "class C:\n"
        "    def __init__(self, a=1, b=2): ...\n"
        "    def m(self, a=1, b=2): ...\n"
    )
    calls = tmp_path / "calls.py"
    calls.write_text(
        "kw(df, b=3)\n"
        "pos(df, 5)\n"
        "splat(df, **{'b': 3})\n"
        "def run():\n"
        "    combos = (dict(a=2),)\n"
        "    return rotated(df, **combos[0])\n"
        "C(5).m(5, 6)\n"
        "same(df, 1, b=2, **{'c': 'x'})\n"
    )
    got = {(q, a) for _, q, a in unset_parameters(pkg, [pkg, calls])}
    assert got == {
        ("kw", "a"),
        ("pos", "b"),
        ("splat", "a"),
        ("rotated", "b"),
        ("C.__init__", "b"),
        ("same", "a"),
        ("same", "b"),
        ("same", "c"),
    }
