"""Round-7 probe (round-6 verdict item 5): third-decade (100x -> 1000x)
points for the two sampled-audit twins with the highest 100x ratios —
m28b (Kendall tau, hash_sample_mod=10) and e6b (JL audit,
hash_sample_mod=4) — run side-by-side with the NEW auto-sized defaults
(``hash_sample_mod="auto"``) so the table shows both halves of the story:

* a FIXED modulus is a hand-turned budget knob — its sampled-pair count
  grows with corpus², so the twins are expected to exceed the linear bar
  at the third decade (that is the documented residual, not a defect: the
  graded twins pin their moduli so DuckDB can mirror the predicate);
* the ``auto`` default re-sizes the modulus from a cheap cardinality, so
  its pair stage is budget-flat and the measured cost is the linear scan.

Usage: python tools/probe_r7_budget.py            # all four probes
Env: PROBE1000_BUDGET (default 900 s per cell, watchdog-cancelled).
"""

from __future__ import annotations

import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from youbike_etl_pipeline_spark.plans.corpus import CORPUS  # noqa: E402
from youbike_etl_pipeline_spark.session import get_spark  # noqa: E402


def _m28_auto(spark, sf_dir):
    """m28's frame through the DEFAULT auto-sized sample: the call a user
    who never read the docstring gets at any scale."""
    from youbike_etl_pipeline_spark.sources.readers import read_events
    from youbike_etl_pipeline_spark.stats.inference import kendall_tau_b

    ev = read_events(spark, sf_dir).filter(F.col("value").isNotNull())
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(F.floor(F.col("value") * 1000).cast("long")).cast("long").alias("y"),
    )
    return kendall_tau_b(u, id_col="user_id")


def _e6_auto(spark, sf_dir):
    """e6 through the DEFAULT auto-sized sample (footer-count sizing —
    zero extra Spark jobs on the bare scan)."""
    from youbike_etl_pipeline_spark.operators.similarity import jl_projection_audit
    from youbike_etl_pipeline_spark.sources.readers import read_parquet_table

    return jl_projection_audit(read_parquet_table(spark, sf_dir, "embeddings"))


PROBES = {
    "m28b_kendall_tau_sampled": None,  # corpus fn (fixed mod 10)
    "m28_auto_budget": _m28_auto,
    "e6b_jl_audit_sampled": None,  # corpus fn (fixed mod 4)
    "e6_auto_budget": _e6_auto,
}


def timed(spark, name, fn, d, budget):
    from youbike_etl_pipeline_spark.plans import corpus as _corpus

    _corpus.clear_pair_graph_cache()
    group = f"r7probe-{name}"
    result: dict = {}

    def target() -> None:
        try:
            spark.sparkContext.setJobGroup(group, name, interruptOnCancel=True)
            t0 = time.perf_counter()
            fn(spark, d).write.mode("overwrite").format("noop").save()
            result["sec"] = round(time.perf_counter() - t0, 2)
        except Exception as ex:  # noqa: BLE001 — probe must record, not die
            result["err"] = f"{type(ex).__name__}: {str(ex)[:160]}"

    th = threading.Thread(target=target, daemon=True)
    th.start()
    th.join(budget)
    if th.is_alive():
        spark.sparkContext.cancelJobGroup(group)
        th.join(120)
        result.pop("err", None)
        result["timeout"] = int(budget)
    return result


def cell(r: dict) -> str:
    if "timeout" in r:
        return f"TIMEOUT>{r['timeout']}s"
    if "err" in r:
        return "ERR " + r["err"][:60]
    return f"{r['sec']}s"


def main() -> None:
    names = sys.argv[1:] or list(PROBES)
    spark = get_spark(app_name="r7-budget-probe")
    dir100 = "/tmp/spark_graft_sf10_synth"
    dir1000 = "/tmp/spark_graft_sf100x10_synth"
    from scale1000_probe import blow_up_1000
    from scaling_report import blow_up_sf01

    blow_up_sf01(spark, dir100, copies=100)
    blow_up_1000(spark, dir1000, copies=1000)
    budget = float(os.environ.get("PROBE1000_BUDGET", "900"))

    print()
    print("## r7 budget probe (100x -> 1000x; linear ~ 10x)")
    print()
    print("| probe | 100x | 1000x | ratio |")
    print("|---|---|---|---|")
    for name in names:
        fn = PROBES[name] or CORPUS[name].fn
        timed(spark, name, fn, dir100, budget)  # warm
        r100 = timed(spark, name, fn, dir100, budget)
        r1000 = timed(spark, name, fn, dir1000, budget)
        ratio = (
            f"{r1000['sec'] / r100['sec']:.1f}x"
            if "sec" in r100 and "sec" in r1000
            else "-"
        )
        print(f"| {name} | {cell(r100)} | {cell(r1000)} | {ratio} |", flush=True)


if __name__ == "__main__":
    main()
