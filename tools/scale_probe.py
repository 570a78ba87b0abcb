"""Scale probe: time corpus queries across scale factors and report the slope.

A linear operator's time grows about as fast as its data (10x per decade),
a quadratic one about 100x per decade; the ratio column shows which one a
query is. The probe owns three things, each once: the blow-up data, the
budgeted run and the report.

Usage:
  python tools/scale_probe.py SCALES [QUERY ...] [--tables T,T,...] [--out FILE]

  SCALES   comma list, smallest first. ``sf<X>`` is a testdata scale factor
           (``sf0.001``, ``sf0.01``, ``sf0.1``); ``<N>x`` is N disjoint,
           re-keyed copies of sf0.1 (``10x``, ``100x``, ``1000x``), built on
           first use under BLOWUP_ROOT.
  QUERY    corpus query names or probe-only VARIANTS (default: the corpus).
  --tables the tables a blow-up builds (default: all of TABLES).
  --out    the JSONL record file (default /tmp/scale_probe.jsonl).

Each (query, scale) pair is one JSONL record; a rerun skips every recorded
pair (delete a line to re-probe it). After the run, one markdown row per
query goes to stdout: one cell per scale and the ratio of the last two.

Examples:
  python tools/scale_probe.py sf0.001,sf0.01,sf0.1,10x t1_exact_dedup
  python tools/scale_probe.py 10x,100x               # every corpus query
  python tools/scale_probe.py 100x,1000x m28_auto_budget e6_auto_budget
  python tools/scale_probe.py 100x,1000x --tables documents mm14_webp_lossless_decode
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from youbike_etl_pipeline_spark.operators import aggregations as agg  # noqa: E402
from youbike_etl_pipeline_spark.operators import joins as oj  # noqa: E402
from youbike_etl_pipeline_spark.operators.similarity import (  # noqa: E402
    jl_projection_audit,
    knn_label_consistency,
)
from youbike_etl_pipeline_spark.operators.windows import (  # noqa: E402
    bucketed_ntile,
    bucketed_row_number,
)
from youbike_etl_pipeline_spark.plans import corpus  # noqa: E402
from youbike_etl_pipeline_spark.session import get_spark  # noqa: E402
from youbike_etl_pipeline_spark.sources.readers import (  # noqa: E402
    read_events,
    read_parquet_table,
)
from youbike_etl_pipeline_spark.stats.inference import kendall_tau_b  # noqa: E402

#: The corpus data root (TESTDATA.md); ``sf<X>`` scales are directories in it.
TESTDATA = "/root/testdata"
#: Blow-ups of sf0.1 go here, one directory per copy count.
BLOWUP_ROOT = "/tmp/spark_graft_blowup"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
#: Keys re-based per copy: copy c adds c * KEY_SHIFT, so copies are disjoint
#: and joins, dedup and per-key state grow as they would on bigger data. A
#: foreign key shifts with the key it joins, so copy c's lineitem rows join
#: copy c's orders, part and supplier rows. A table not listed here (region,
#: nation) is copied once.
SHIFTS = {
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "orders": ("o_orderkey", "o_custkey"),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
KEY_SHIFT = 100_000_000
#: Per decade of data size relative to sf0.1: the largest size it covers,
#: the wall-clock budget of each run in seconds, and the timed runs per cell
#: (the cell is their minimum). SCALING.md's numbers were measured with these
#: values. At 1000x a single shot sat up to 4x off steady state (shuffle-file
#: warm-up, JIT), so that decade takes the minimum of 3.
DECADES = ((10.0, 120.0, 1), (100.0, 360.0, 1), (float("inf"), 900.0, 3))


# ---------------------------------------------------------------------------
# The blow-up data
# ---------------------------------------------------------------------------


def blow_up(spark, out_dir: str, copies: int, tables=TABLES,
            base_dir: str = os.path.join(TESTDATA, "sf0.1")) -> None:
    """Write ``copies`` disjoint copies of ``base_dir``'s tables to ``out_dir``.

    One ``sequence`` explode per table, so the plan has the same size for 3
    copies as for 1000. A table whose ``_SUCCESS`` marker exists is kept, so
    a second build is a no-op and an interrupted one resumes."""
    for table in tables:
        path = os.path.join(out_dir, f"{table}.parquet")
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            continue
        if table == "events":
            df = read_events(spark, base_dir)
        else:
            df = read_parquet_table(spark, base_dir, table)
        if table in SHIFTS:
            # the base files are single-row-group: spread them first, or the
            # whole fan-out runs in one task
            copy_ids = F.sequence(F.lit(0).cast("long"), F.lit(copies - 1).cast("long"))
            df = df.repartition(min(copies, 64)).withColumn("__copy", F.explode(copy_ids))
            for key in SHIFTS[table]:
                df = df.withColumn(key, F.col(key) + F.col("__copy") * KEY_SHIFT)
            df = df.drop("__copy")
        df.write.mode("overwrite").parquet(path)


def factor(scale: str) -> float:
    """Data size of ``scale`` relative to sf0.1."""
    if scale.startswith("sf"):
        size = float(scale[2:]) / 0.1
    elif scale.endswith("x"):
        size = float(int(scale[:-1]))
    else:
        raise ValueError(scale)
    if not 0 < size < float("inf"):
        raise ValueError(scale)
    return size


def scale_dir(spark, scale: str, tables) -> str:
    if scale.startswith("sf"):
        return os.path.join(TESTDATA, scale)
    copies = int(scale[:-1])
    out_dir = os.path.join(BLOWUP_ROOT, f"x{copies}")
    blow_up(spark, out_dir, copies, tables)
    return out_dir


# ---------------------------------------------------------------------------
# The budgeted run
# ---------------------------------------------------------------------------


def timed_run(spark, fn, sf_dir: str, budget: float) -> dict:
    """Run ``fn(spark, sf_dir)`` into the noop sink under a wall-clock budget:
    ``{"sec": s}``, ``{"timeout": budget}`` or ``{"err": message}``.

    The query runs in a worker thread that owns a job group (Spark pins each
    Python thread to a JVM thread, so the group must be set where the jobs
    start). When the budget runs out the group is cancelled once a second
    until the worker ends, so a job the query starts after the first cancel
    (Spark cancels only active jobs) is caught too, and the session is free
    for the next query."""
    corpus.clear_pair_graph_cache()
    group = f"scale-probe-{time.monotonic_ns()}"
    result: dict = {}

    def target() -> None:
        try:
            spark.sparkContext.setJobGroup(group, "scale probe", interruptOnCancel=True)
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            result["sec"] = round(time.perf_counter() - t0, 2)
        except Exception as ex:  # noqa: BLE001 — a probe records, never dies
            # the last line names the failure; a Python worker's message
            # starts with a generic header and ends with its exception
            lines = [x.strip() for x in str(ex).splitlines() if x.strip()]
            result["err"] = f"{type(ex).__name__}: {lines[-1][:200] if lines else ''}"

    worker = threading.Thread(target=target, daemon=True)
    worker.start()
    worker.join(budget)
    if not worker.is_alive():
        return result
    for _ in range(60):
        spark.sparkContext.cancelJobGroup(group)
        worker.join(1)
        if not worker.is_alive():
            break
    return {"timeout": round(budget, 1)}


def decade(scale: str) -> tuple[float, int]:
    """The (budget, timed runs) of ``scale``."""
    return next((b, r) for top, b, r in DECADES if factor(scale) <= top)


def probe_cell(spark, fn, sf_dir: str, scale: str, warm_up: bool) -> dict:
    """An untimed warm-up run when ``warm_up`` (it pays codegen and JIT), then
    the decade's timed runs: their minimum, or the first failure. A failed
    warm-up is the cell, so a query that hangs or breaks runs once."""
    budget, reps = decade(scale)
    runs = []
    for _ in range(reps + warm_up):
        r = timed_run(spark, fn, sf_dir, budget)
        if "sec" not in r:
            return {"budget": budget, **r}
        runs.append(r["sec"])
    return {"budget": budget, "sec": min(runs[warm_up:]), "runs": runs[warm_up:]}


# ---------------------------------------------------------------------------
# The report
# ---------------------------------------------------------------------------


def cell(rec: dict | None) -> str:
    if rec is None:
        return "-"
    if "sec" in rec:
        return f"{rec['sec']:.2f}s"
    if "timeout" in rec:
        return f"TIMEOUT>{rec['timeout']:.0f}s"
    return "ERR " + rec["err"][:60]


def table(names, scales, records: dict) -> str:
    lines = ["| query | " + " | ".join(scales) + " | ratio |", "|---" * (len(scales) + 2) + "|"]
    for name in names:
        recs = [records.get((name, s)) for s in scales]
        a, b = ([None] + recs)[-2:]
        ratio = f"{b['sec'] / max(a['sec'], 0.01):.1f}×" if a and b and "sec" in a and "sec" in b else "-"
        lines.append(f"| {name} | " + " | ".join(map(cell, recs)) + f" | {ratio} |")
    return "\n".join(lines)


def load(path: str) -> dict:
    records = {}
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                try:
                    rec = json.loads(line)
                    records[(rec["query"], rec["scale"])] = rec
                except (ValueError, KeyError):
                    pass
    return records


def probe(spark, names, scales, dirs: dict, out_path: str) -> dict:
    """Probe every unrecorded (query, scale) pair, appending one JSONL record
    each; returns every record of ``out_path``."""
    records = load(out_path)
    with open(out_path, "a") as out:
        for name in names:
            fn = VARIANTS.get(name) or corpus.CORPUS[name].fn
            prev, warm = None, False
            for scale in scales:
                rec = records.get((name, scale))
                if rec is None:
                    if prev is not None and "sec" not in prev:
                        break  # a failed smaller scale fails a larger one too
                    rec = {"query": name, "scale": scale,
                           **probe_cell(spark, fn, dirs[scale], scale, not warm)}
                    warm = True
                    out.write(json.dumps(rec) + "\n")
                    out.flush()
                    records[(name, scale)] = rec
                    print(json.dumps(rec), file=sys.stderr, flush=True)
                prev = rec
    return records


# ---------------------------------------------------------------------------
# Probe-only variants: scale routes no corpus query runs
# ---------------------------------------------------------------------------


def j7_bucketed_day(spark, sf_dir):
    """j7's as-of join with ``bucket_seconds=86400``: each of the 4 keys
    sorts per-day sub-partitions in parallel instead of one partition per
    key. Answer-identical for non-null timestamps."""
    ev = read_events(spark, sf_dir).withColumn("grp", F.col("user_id") % 4)
    cps = ev.filter((F.col("event_id") % 50 == 0) & F.col("value").isNotNull()).select(
        "grp", F.col("ts").alias("cp_ts"), F.col("value").alias("cp_value")
    )
    joined = oj.asof_join(
        ev.select("grp", "ts", "event_id", "value"), cps, on="grp", left_ts="ts",
        right_ts="cp_ts", right_values=["cp_value"], bucket_seconds=86400.0,
    )
    return joined.groupBy("grp").agg(
        F.count("cp_value").alias("n_matched"),
        agg.decimal_avg_q4(F.col("value") - F.col("cp_value")).alias("mean_delta"),
    )


def w11_bucketed(spark, sf_dir):
    """w11's systematic sample through ``bucketed_row_number``: parallelism
    strata × buckets instead of strata. Answer-identical."""
    ranked = bucketed_row_number(
        read_events(spark, sf_dir), ["event_type"], "event_id", bucket_width=1_000_000
    )
    return (
        ranked.filter(F.col("rn") % 10 == 1)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), agg.decimal_sum("value").alias("sum_value"))
    )


def m27_bucketed(spark, sf_dir):
    """m27's two-sample Q-Q table ranked per (grp, value range) with counts
    from a 2-row broadcast, instead of two single-threaded grp windows.
    Answer-identical: same total order, same order-statistic picks."""
    ev = read_events(spark, sf_dir).filter(F.col("value").isNotNull())
    v = ev.select("value", (F.col("user_id") % 2).alias("grp"), "event_id")
    ranked = bucketed_row_number(v, ["grp"], "value", bucket_width=10.0, tiebreak=["event_id"])
    ranked = ranked.join(F.broadcast(v.groupBy("grp").agg(F.count(F.lit(1)).alias("n"))), "grp")
    deciles = spark.range(1, 10).select(F.col("id").cast("int").alias("q"))
    pick = ranked.join(
        F.broadcast(deciles),
        ranked["rn"] == (F.floor(deciles["q"] * (ranked["n"] - 1) / F.lit(10.0)) + 1),
    ).select("q", "grp", "value")
    g0 = F.max(F.when(F.col("grp") == 0, F.col("value")))
    g1 = F.max(F.when(F.col("grp") == 1, F.col("value")))
    return (
        pick.groupBy("q")
        .agg(corpus.q6(g0).alias("q_grp0"), corpus.q6(g1).alias("q_grp1"),
             corpus.q6(g1 - g0).alias("qq_gap"))
        .orderBy("q")
    )


def a22_bucketed(spark, sf_dir):
    """a22's equi-depth histogram through ``bucketed_ntile`` instead of one
    ntile window per event_type. Answer-identical by construction."""
    ev = read_events(spark, sf_dir).filter(F.col("value").isNotNull())
    tiled = bucketed_ntile(
        ev.select("event_type", "value", "event_id"), ["event_type"], "value",
        n_tiles=4, bucket_width=10.0, tiebreak=["event_id"],
    )
    return (
        tiled.groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            corpus.q6(F.min("value")).alias("lo"),
            corpus.q6(F.max("value")).alias("hi"),
            agg.decimal_sum(F.col("value")).alias("bucket_sum"),
        )
        .orderBy("event_type", "bucket")
    )


def e3_ann_bits6(spark, sf_dir):
    """e3's kNN label audit with 6-bit hyperplane-LSH neighbours alone (no
    exact-duplicate collapse): the half of e3b's route that pays
    occupancy² inside hot buckets on duplicate-heavy data."""
    emb = read_parquet_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    return knn_label_consistency(emb, k=5, ann_bits=6, dim=64)


def _user_xy(spark, sf_dir):
    ev = read_events(spark, sf_dir).filter(F.col("value").isNotNull())
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(F.floor(F.col("value") * 1000).cast("long")).cast("long").alias("y"),
    )


def m28_auto_budget(spark, sf_dir):
    """m28's frame through the default ``hash_sample_mod="auto"``, which
    sizes the modulus from a cheap cardinality (m28b pins it at 10)."""
    return kendall_tau_b(_user_xy(spark, sf_dir), id_col="user_id")


def e6_auto_budget(spark, sf_dir):
    """e6 through the default ``"auto"`` sample, sized from parquet footers
    (e6b pins the modulus at 4)."""
    return jl_projection_audit(read_parquet_table(spark, sf_dir, "embeddings"))


VARIANTS = {f.__name__: f for f in (
    j7_bucketed_day, w11_bucketed, m27_bucketed, a22_bucketed,
    e3_ann_bits6, m28_auto_budget, e6_auto_budget,
)}


def _scales(text: str) -> list[str]:
    scales = text.split(",")
    for s in scales:
        try:
            factor(s)
        except ValueError:
            raise argparse.ArgumentTypeError(f"bad scale {s!r}: want sf<X> or <N>x") from None
    return scales


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("scales", type=_scales)
    ap.add_argument("names", nargs="*")
    ap.add_argument("--tables", type=lambda t: t.split(","), default=list(TABLES))
    ap.add_argument("--out", default="/tmp/scale_probe.jsonl")
    args = ap.parse_args()
    names = args.names or list(corpus.CORPUS)
    unknown = [n for n in names if n not in corpus.CORPUS and n not in VARIANTS]
    unknown += [t for t in args.tables if t not in TABLES]
    if unknown:
        ap.error(f"unknown query or table: {', '.join(unknown)}")
    # Python workers take their path from the JVM's environment, not from
    # this script's sys.path: give them the repo root wherever we run from
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))
    spark = get_spark(app_name="scale-probe")
    dirs = {s: scale_dir(spark, s, args.tables) for s in args.scales}
    records = probe(spark, names, args.scales, dirs, args.out)
    print(table(names, args.scales, records))


if __name__ == "__main__":
    main()
