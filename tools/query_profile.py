"""Per-query profiler: where each rep of a corpus query spent its time.

Runs named corpus queries the way bench.py does (same session factory, same
noop sink, same env contract) with Spark's event log on, uncompressed, in a
temporary directory, and every rep in its own job group. After the run the
log is read with ``perfbench/eventlog.py`` and each rep gets a breakdown:
jobs, stages, tasks, summed executor run and CPU time, shuffle read/write
bytes, spill, broadcast exchanges, the driver gap (wall time no stage
was running: planning, footer reads, driver-side Python), and what the
planner decided: the join strategies and exchanges of the plans the rep
executed (``plans.executed``), final adaptive plans only. A streaming
rep's micro-batches run under the stream's run-id job group, so every
other group whose stages all ran inside a rep's wall window counts as that
rep's. Unless ``--no-plans``, each query's ``.explain("formatted")`` goes
to plans/query_profile/<name>_<tag>.txt.

Usage:
  python tools/query_profile.py [--tag before] [--reps 3] [--no-plans] q1 q2 ...

The per-rep records go to /tmp/query_profile_last.json.

Env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.eventlog import GroupStats, read_events  # noqa: E402
from youbike_etl_pipeline_spark.plans.corpus import CORPUS  # noqa: E402
from youbike_etl_pipeline_spark.plans.executed import executed_plans, operator_counts  # noqa: E402
from youbike_etl_pipeline_spark.session import get_spark  # noqa: E402

#: The executed-plan nodes each rep records: join strategies and exchanges.
PLAN_OPS = (
    "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin",
    "CartesianProduct", "Exchange", "BroadcastExchange", "ReusedExchange",
)


def stream_groups(stats: GroupStats, rep_groups: set[str], start_ms: float, end_ms: float) -> list[str]:
    """Job groups that are not a rep's own but whose stages all ran inside
    one rep's wall window ``[start_ms, end_ms]``: Structured Streaming tags
    each micro-batch with the stream's run id, not the caller's group, so
    this is the stream work of a streaming rep."""
    return sorted(
        g
        for g, spans in stats.spans.items()
        if g not in rep_groups and spans and all(start_ms <= s and e <= end_ms for s, e in spans)
    )


def breakdown(stats: GroupStats, groups: list[str], wall_s: float, start_ms: float, end_ms: float) -> dict:
    """One rep's record: wall time and the summed Spark work of its job
    groups (its own, then any :func:`stream_groups`)."""
    g = defaultdict(float)
    for group in groups:
        for key, value in stats.get(group).items():
            g[key] += value
    busy_s = stats.busy_ms(groups, start_ms, end_ms) / 1000
    return {
        "wall_s": wall_s,
        "jobs": int(g["jobs"]),
        "stages": int(g["stages"]),
        "tasks": int(g["tasks"]),
        "executor_run_s": round(g["executor_run_ms"] / 1000, 3),
        "executor_cpu_s": round(g["executor_cpu_ns"] / 1e9, 3),
        "shuffle_read_bytes": int(g["shuffle_read_bytes"]),
        "shuffle_write_bytes": int(g["shuffle_write_bytes"]),
        "spill_bytes": int(g["spill_bytes"]),
        "broadcast_exchanges": int(g["broadcast_exchanges"]),
        "driver_gap_s": round(max(0.0, wall_s - busy_s), 3),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--no-plans", action="store_true")
    args = ap.parse_args()
    unknown = [n for n in args.names if n not in CORPUS]
    if unknown:
        ap.error(f"not in corpus: {', '.join(unknown)}")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    log_dir = tempfile.mkdtemp(prefix="query_profile_eventlog_")
    # Python workers take their path from the JVM's environment, not from
    # this script's sys.path: give them the repo root wherever we run from
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))
    spark = get_spark(app_name="query_profile", extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        # uncompressed: the zstd default needs a module this stack lacks
        "spark.eventLog.compress": "false",
    })
    sc = spark.sparkContext
    plans_dir = os.path.join(ROOT, "plans", "query_profile")

    # warmup (pay JVM/codegen startup outside the measured loop)
    CORPUS["flagship_segment_health"].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()

    reps: dict[str, list[tuple[str, float, float, float]]] = {}
    for name in args.names:
        fn = CORPUS[name].fn
        if not args.no_plans:
            os.makedirs(plans_dir, exist_ok=True)
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
            with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(plan)
        for rep in range(args.reps):
            group = f"{name}/{rep}"
            sc.setJobGroup(group, f"{name} rep{rep}")
            span = {}

            def run():
                span["start_ms"], t0 = time.time() * 1000, time.perf_counter()
                fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
                span["wall_s"] = round(time.perf_counter() - t0, 3)
                span["end_ms"] = time.time() * 1000

            ops = operator_counts(executed_plans(spark, run))
            reps.setdefault(name, []).append(
                (group, span["wall_s"], span["start_ms"], span["end_ms"], {k: ops[k] for k in PLAN_OPS if ops[k]})
            )
            sc.setJobGroup(None, None)
    spark.stop()  # flushes the event log
    try:
        stats = GroupStats(read_events(log_dir))
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)

    rep_groups = {group for runs in reps.values() for group, *_ in runs}
    out: dict[str, dict] = {}
    for name, runs in reps.items():
        per_rep = [
            {
                **breakdown(stats, [group, *stream_groups(stats, rep_groups, start, end)], wall, start, end),
                "plan_ops": plan_ops,
            }
            for group, wall, start, end, plan_ops in runs
        ]
        out[name] = {"min": min(r["wall_s"] for r in per_rep), "reps": per_rep}
        best = min(per_rep, key=lambda r: r["wall_s"])
        print(
            f"{name}: min {best['wall_s']}s over {len(per_rep)} reps; fastest rep: "
            f"{best['jobs']} jobs, {best['stages']} stages, {best['tasks']} tasks, "
            f"executor run {best['executor_run_s']}s cpu {best['executor_cpu_s']}s, "
            f"driver gap {best['driver_gap_s']}s; plan {best['plan_ops']}",
            flush=True,
        )
    with open("/tmp/query_profile_last.json", "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
