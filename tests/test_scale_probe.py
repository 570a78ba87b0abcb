"""tools/scale_probe.py: the blow-up builder writes disjoint re-keyed copies,
the budgeted run cancels an over-budget query and frees the session, and a
rerun skips every recorded (query, scale) pair."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from youbike_etl_pipeline_spark.sources.readers import read_events

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COPIES = 3


def _load_tool():
    spec = importlib.util.spec_from_file_location(
        "scale_probe", os.path.join(ROOT, "tools", "scale_probe.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


sp = _load_tool()


@pytest.fixture(scope="module")
def blown(spark, sf_small, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("blowup") / "x3")
    sp.blow_up(spark, out, COPIES, base_dir=sf_small)
    return out


def _base(spark, sf_dir, table):
    if table == "events":
        return read_events(spark, sf_dir)
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))


def _out(spark, out_dir, table):
    return spark.read.parquet(os.path.join(out_dir, f"{table}.parquet"))


def test_every_table_is_built(blown):
    assert sorted(os.listdir(blown)) == sorted(f"{t}.parquet" for t in sp.TABLES)


@pytest.mark.parametrize("table", ["region", "nation"])
def test_dimension_tables_copied_once(spark, sf_small, blown, table):
    base, out = _base(spark, sf_small, table), _out(spark, blown, table)
    assert out.dtypes == base.dtypes
    assert out.count() == base.count()
    assert out.exceptAll(base).count() == 0 and base.exceptAll(out).count() == 0


@pytest.mark.parametrize("table", sorted(sp.SHIFTS))
def test_shifted_table_is_disjoint_copies(spark, sf_small, blown, table):
    base, out = _base(spark, sf_small, table), _out(spark, blown, table)
    keys = sp.SHIFTS[table]
    assert out.dtypes == base.dtypes
    assert out.count() == COPIES * base.count()
    for key in keys:
        base_ids = {r[0] for r in base.select(key).distinct().collect()}
        out_ids = {r[0] for r in out.select(key).distinct().collect()}
        want = {k + c * sp.KEY_SHIFT for c in range(COPIES) for k in base_ids}
        # 3× the distinct values and exactly the shifted ones: no copy
        # overlaps another
        assert len(want) == COPIES * len(base_ids)
        assert out_ids == want, key
    rest = [c for c in base.columns if c not in keys]
    tripled = base.select(rest)
    for _ in range(COPIES - 1):
        tripled = tripled.unionByName(base.select(rest))
    assert out.select(rest).exceptAll(tripled).count() == 0
    assert tripled.exceptAll(out.select(rest)).count() == 0


def test_each_copy_joins_its_own_part_and_supplier(spark, sf_small, blown):
    li = _out(spark, blown, "lineitem")
    for table, fk, key in (("part", "l_partkey", "p_partkey"),
                           ("supplier", "l_suppkey", "s_suppkey")):
        dim = _out(spark, blown, table)
        joined = li.join(dim, li[fk] == dim[key])
        assert joined.count() == li.count(), table
        copies = joined.select(
            (F.floor(li[fk] / sp.KEY_SHIFT) == F.floor(li["l_orderkey"] / sp.KEY_SHIFT)).alias("same")
        ).distinct().collect()
        assert copies == [(True,)], table


def test_second_build_is_a_noop(spark, sf_small, blown):
    def stamp():
        return {
            os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _, files in os.walk(blown)
            for f in files
        }

    before = stamp()
    sp.blow_up(spark, blown, COPIES, base_dir=sf_small)
    assert stamp() == before


def test_scale_factor_and_bad_scales():
    assert sp.factor("sf0.01") == pytest.approx(0.1)
    assert sp.factor("100x") == 100.0
    assert [sp.decade(s) for s in ("sf0.1", "10x", "100x", "1000x")] == [
        (120.0, 1), (120.0, 1), (360.0, 1), (900.0, 3)]
    for bad in ("0x", "7y", "sfx", "10", "sfnan"):
        with pytest.raises(ValueError):
            sp.factor(bad)


def test_budget_runs_out_then_next_query_runs(spark, sf_small):
    def endless(spark, sf_dir):
        return spark.range(0, 10**12, 1, 4).select(F.max("id"))

    t0 = time.perf_counter()
    assert sp.timed_run(spark, endless, sf_small, budget=1.0) == {"timeout": 1.0}
    assert time.perf_counter() - t0 < 30
    ok = sp.timed_run(spark, sp.corpus.CORPUS["t1_exact_dedup"].fn, sf_small, budget=120.0)
    assert set(ok) == {"sec"}, ok


def test_failed_warm_up_is_the_cell_and_runs_once(spark, sf_small, tmp_path, monkeypatch):
    calls = []

    def endless(spark, sf_dir):
        calls.append(sf_dir)
        return spark.range(0, 10**12, 1, 4).select(F.max("id"))

    monkeypatch.setitem(sp.VARIANTS, "endless", endless)
    monkeypatch.setattr(sp, "DECADES", ((float("inf"), 1.0, 3),))
    scales = ["sf0.001", "sf0.01"]
    records = sp.probe(spark, ["endless"], scales, dict.fromkeys(scales, sf_small),
                       str(tmp_path / "probe.jsonl"))
    assert calls == [sf_small]
    assert records == {("endless", "sf0.001"): {
        "query": "endless", "scale": "sf0.001", "budget": 1.0, "timeout": 1.0}}


def test_error_is_recorded_not_raised(spark, sf_small):
    rec = sp.timed_run(spark, lambda s, d: s.read.parquet(d + "/missing.parquet"), sf_small, 60.0)
    assert rec["err"].startswith("AnalysisException"), rec

    def divide_by_zero(batches):
        for pdf in batches:
            yield pdf.assign(id=len(pdf) // 0)

    rec = sp.timed_run(
        spark, lambda s, d: s.range(4).mapInPandas(divide_by_zero, "id long"), sf_small, 60.0
    )
    # the cell names what failed in the worker, not the traceback header
    assert rec["err"].startswith("PythonException: "), rec
    assert "ZeroDivisionError" in rec["err"] and len(rec["err"]) <= 230, rec


def test_python_workers_find_the_package_outside_the_repo(tmp_path):
    """Launched from another directory with no PYTHONPATH, a query that runs
    Python on the executors still records a time: the workers import the
    package from the repo root, not from the working directory."""
    out = tmp_path / "probe.jsonl"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    tool = os.path.join(ROOT, "tools", "scale_probe.py")
    done = subprocess.run(
        [sys.executable, tool, "sf0.001", "mm2_decode_features", "--out", str(out)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-2000:]
    (rec,) = [json.loads(line) for line in out.read_text().splitlines()]
    assert "sec" in rec, rec


def test_rerun_skips_recorded_pairs(spark, sf_small, tmp_path):
    out = str(tmp_path / "probe.jsonl")
    names, scales = ["t1_exact_dedup", "m27_bucketed"], ["sf0.001"]
    records = sp.probe(spark, names, scales, {"sf0.001": sf_small}, out)
    lines = open(out).read().splitlines()
    assert [(json.loads(x)["query"], json.loads(x)["scale"]) for x in lines] == [
        (n, "sf0.001") for n in names
    ]
    assert all(len(json.loads(x)["runs"]) == sp.decade("sf0.001")[1] for x in lines)
    again = sp.probe(spark, names, scales, {"sf0.001": sf_small}, out)
    assert open(out).read().splitlines() == lines
    assert again == records
    rows = sp.table(names, scales, records).splitlines()
    assert len(rows) == 2 + len(names)
    assert rows[2].startswith("| t1_exact_dedup | ") and rows[2].endswith(" | - |")


def test_table_ratio_and_failed_cells():
    records = {
        ("q", "10x"): {"sec": 2.0},
        ("q", "100x"): {"sec": 21.0},
        ("slow", "10x"): {"sec": 2.0},
        ("slow", "100x"): {"timeout": 120.0},
        ("bad", "10x"): {"err": "AnalysisException: boom"},
    }
    rows = sp.table(["q", "slow", "bad"], ["10x", "100x"], records).splitlines()
    assert rows[0] == "| query | 10x | 100x | ratio |"
    assert rows[2] == "| q | 2.00s | 21.00s | 10.5× |"
    assert rows[3] == "| slow | 2.00s | TIMEOUT>120s | - |"
    assert rows[4] == "| bad | ERR AnalysisException: boom | - | - |"
