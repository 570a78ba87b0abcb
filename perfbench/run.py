"""Closed-loop benchmark of the spark-graft engine.

    python3 perfbench/run.py --workload similarity_heavy --seed 1 --seconds 24 --trace 0

Run from the root of a checkout. One client in one process drives the
package's public entry points on ``local[<cores>]``; the workloads are
described in ``BENCHMARK.json`` and ``perfbench/README.md``.

A run: generate the inputs, start the session, run every operation once
untimed and check its output (the warm-up), then time whole passes of the
workload, as many as fit ``--seconds`` at the pass length measured on 4
cores (at least one). With ``--trace 0`` the last stdout
line carries the end-to-end metrics. With ``--trace 1`` the same run is
followed by a second session with Spark's event log on and one traced pass,
and the line carries the per-layer metrics.

Everything the run writes goes to a fresh ``.perfbench_work/`` directory
under the checkout, deleted before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: The corpus tables are fixed; ``--seed`` orders the passes and drives the
#: snapshot generator.
TABLE_SEED = 20250602
#: Below the machine's memory; the package's 16g default is not.
DRIVER_MEM = "2g"
#: Seconds one pass of each workload took on 4 cores. A run times
#: ``round(--seconds / pass seconds)`` whole passes, at least one, so the
#: work per run is fixed and the same on every commit.
PASS_SECONDS = {"youbike_pipeline": 10.5, "similarity_heavy": 12.5}
WORKLOADS = tuple(PASS_SECONDS)

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_s.p50": "s",
    "op_s.p90": "s",
    "peak_rss_mb": "MiB",
    "cpu_s_per_op": "s",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "session.cached_blocks": "count",
    "session.pair_graph_cache_entries": "count",
    "sources.snapshot_to_df_s": "s",
    "sources.write_s": "s",
    "sources.files_written": "count",
    "sources.bytes_written": "B",
    "sources.files_read": "count",
    "sources.csv_export_s": "s",
    "pipelines.ingest_snapshot_s": "s",
    "pipelines.build_gold_table_s": "s",
    "pipelines.new_status_rows": "rows",
    "pipelines.new_stations": "rows",
    "pipelines.tick_s.p50": "s",
    "pipelines.tick_s.p90": "s",
    "pipelines.gold_export_s.p50": "s",
    "pipelines.warehouse_bytes_per_row": "B/row",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "plans.build_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.task_wait_s": "s",
    "spark.parallelism": "ratio",
    "spark.failed_tasks": "count",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.broadcast_exchanges": "count",
    "python.start_s": "s",
    "python.init_s": "s",
    "python.run_s": "s",
    "python.bytes_sent": "B",
    "python.bytes_returned": "B",
    "trace.overhead_ratio": "ratio",
}


def pin_environment(work: str) -> int:
    """Pin what the numbers depend on before pyspark or the package is
    imported. Returns the core count the session runs on."""
    cpus = len(os.sched_getaffinity(0))
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        # Python workers import the package, so they need the checkout
        PYTHONPATH=os.pathsep.join(paths),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    sys.path[:0] = [ROOT, HERE]
    return cpus


def spark_conf(work: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.eventLog.enabled": str(traced).lower(),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        # uncompressed: the zstd default needs a module this stack lacks
        conf.update({
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    return conf


def quantile(xs: list[float], q: float) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


class Runner:
    """One session's closed loop: runs passes and records each operation."""

    def __init__(self, spark, workload):
        self.spark = spark
        self.workload = workload
        self.cache_log: list[dict] = []

    def run_op(self, op, group: str) -> dict:
        sc = self.spark.sparkContext
        rec = {"name": op.name, "kind": op.kind, "group": group, "ok": False}
        rec["start_ms"] = time.time() * 1000
        t0 = t1 = time.perf_counter()
        try:
            sc.setJobGroup(group + "|build", op.name)
            handle = op.build(self.spark)
            t1 = time.perf_counter()
            sc.setJobGroup(group + "|exec", op.name)
            rec["ok"] = bool(op.execute(self.spark, handle))
        except Exception as exc:  # a raise is a failed operation; keep looping
            rec["error"] = repr(exc)[:300]
        t2 = time.perf_counter()
        rec["end_ms"] = time.time() * 1000
        rec.update(build_s=t1 - t0, exec_s=t2 - t1, wall_s=t2 - t0, stats=dict(op.stats))
        if not rec["ok"]:
            print(f"FAILED {group}: {rec.get('error') or op.stats.get('diff')}", file=sys.stderr)
        return rec

    def run_passes(self, rng: random.Random, tag: str, passes: int) -> tuple[list[dict], float]:
        """Run ``passes`` whole passes. Returns the operation records and
        the timed wall seconds."""
        records, timed = [], 0.0
        self.workload.clear_caches(self.spark)
        for n in range(passes):
            ops = self.workload.pass_ops(rng, f"{tag}{n}")
            t0 = time.perf_counter()
            records += [self.run_op(op, f"{tag}{n}:{i}:{op.name}") for i, op in enumerate(ops)]
            timed += time.perf_counter() - t0
            # clear between passes, untimed, and log what the clear left behind
            entries = self.workload.cache_state(self.spark)["pair_graph_cache_entries"]
            self.workload.clear_caches(self.spark)
            self.cache_log.append({
                "pair_graph_cache_entries": entries,
                "cached_blocks": self.workload.cache_state(self.spark)["cached_blocks"],
            })
        return records, timed


def best_walls(recs) -> list[float]:
    """Each operation's fastest wall time over the timed passes. Every pass
    runs every operation once, and the faster run drops the stalls that
    other tenants of a shared machine add to the slower one."""
    best: dict[str, float] = {}
    for r in recs:
        best[r["name"]] = min(best.get(r["name"], r["wall_s"]), r["wall_s"])
    return list(best.values())


def end_to_end(recs, setup_s, cpu_s, rss_mb) -> dict:
    walls = best_walls(recs)
    return {
        "setup_s": setup_s,
        "ops_per_s": len(walls) / sum(walls),
        "op_s.p50": statistics.median(walls),
        "op_s.p90": quantile(walls, 0.9),
        "peak_rss_mb": rss_mb,
        "cpu_s_per_op": cpu_s / len(recs),
    }


def per_layer(untraced, traced, traced_s, untraced_s, groups, cache_log, setup, cores) -> dict:
    """Per-layer metrics. Spark and Python figures are per-operation means
    over the traced pass; tick and export wall times come from the untraced
    passes; ``setup`` is ``(get_spark_s, warmup_s)``."""
    ticks = [r for r in untraced if r["kind"] == "tick"]
    exports = [r for r in untraced if r["kind"] == "export"]
    tr_ticks = [r for r in traced if r["kind"] == "tick"]
    tr_exports = [r for r in traced if r["kind"] == "export"]

    def stat(rs, key):
        return mean(r["stats"].get(key, 0.0) for r in rs)

    def spark_sum(r, key, phases=("build", "exec")):
        return sum(groups.get(f"{r['group']}|{p}")[key] for p in phases)

    def spark_mean(key, phases=("build", "exec"), scale=1.0):
        return mean(spark_sum(r, key, phases) for r in traced) * scale

    exec_run_ms = sum(spark_sum(r, "executor_run_ms", ("exec",)) for r in traced)
    exec_wall_ms = sum(r["exec_s"] for r in traced) * 1000
    gaps = [
        r["wall_s"] - groups.busy_ms([f"{r['group']}|build", f"{r['group']}|exec"], r["start_ms"], r["end_ms"]) / 1000
        for r in traced
    ]
    tick_walls = [r["wall_s"] for r in ticks]
    return {
        "session.get_spark_s": setup[0],
        "session.warmup_s": setup[1],
        "session.cached_blocks": max(c["cached_blocks"] for c in cache_log),
        "session.pair_graph_cache_entries": max(c["pair_graph_cache_entries"] for c in cache_log),
        "sources.snapshot_to_df_s": stat(tr_ticks, "snapshot_to_df_s"),
        "sources.write_s": stat(tr_ticks, "write_s"),
        "sources.files_written": stat(tr_ticks, "files_written"),
        "sources.bytes_written": stat(tr_ticks, "bytes_written"),
        "sources.files_read": stat(tr_ticks, "files_read"),
        "sources.csv_export_s": stat(tr_exports, "csv_export_s"),
        "pipelines.ingest_snapshot_s": stat(tr_ticks, "ingest_snapshot_s"),
        "pipelines.build_gold_table_s": stat(tr_exports, "build_gold_table_s"),
        "pipelines.new_status_rows": stat(tr_ticks, "new_status_rows"),
        "pipelines.new_stations": stat(tr_ticks, "new_stations"),
        "pipelines.tick_s.p50": statistics.median(tick_walls) if tick_walls else 0.0,
        "pipelines.tick_s.p90": quantile(tick_walls, 0.9),
        "pipelines.gold_export_s.p50": statistics.median([r["wall_s"] for r in exports]) if exports else 0.0,
        "pipelines.warehouse_bytes_per_row": stat(exports, "warehouse_bytes_per_row"),
        "plans.build_s": mean(r["build_s"] for r in traced),
        "plans.exec_s": mean(r["exec_s"] for r in traced),
        "plans.build_jobs": spark_mean("jobs", ("build",)),
        "spark.jobs": spark_mean("jobs"),
        "spark.stages": spark_mean("stages"),
        "spark.tasks": spark_mean("tasks"),
        "spark.driver_gap_s": mean(gaps),
        "spark.executor_run_s": spark_mean("executor_run_ms", scale=1e-3),
        "spark.executor_cpu_s": spark_mean("executor_cpu_ns", scale=1e-9),
        "spark.jvm_gc_s": spark_mean("jvm_gc_ms", scale=1e-3),
        "spark.task_wait_s": spark_mean("task_wait_ms", scale=1e-3),
        "spark.parallelism": exec_run_ms / (exec_wall_ms * cores) if exec_wall_ms else 0.0,
        "spark.failed_tasks": spark_mean("failed_tasks"),
        "spark.shuffle_write_bytes": spark_mean("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": spark_mean("shuffle_read_bytes"),
        "spark.spill_bytes": spark_mean("spill_bytes"),
        "spark.broadcast_exchanges": spark_mean("broadcast_exchanges"),
        "python.start_s": spark_mean("python_start_ms", scale=1e-3),
        "python.init_s": spark_mean("python_init_ms", scale=1e-3),
        "python.run_s": spark_mean("python_run_ms", scale=1e-3),
        "python.bytes_sent": spark_mean("python_bytes_sent"),
        "python.bytes_returned": spark_mean("python_bytes_returned"),
        "trace.overhead_ratio": (len(traced) / traced_s) / (len(untraced) / untraced_s),
    }


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit
    (its Python workers are stopped with its SparkEnv)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run(args, work: str) -> dict:
    cores = pin_environment(work)
    t_import = time.perf_counter()
    try:
        import pyspark  # noqa: F401
        import youbike_etl_pipeline_spark  # noqa: F401
    except ImportError as exc:
        raise SystemExit(f"perfbench: the package under test is not importable from {ROOT}: {exc}")
    import datagen
    import procstat
    import workloads
    from eventlog import GroupStats, read_events
    from youbike_etl_pipeline_spark.session import get_spark

    import_s = time.perf_counter() - t_import
    t0 = time.perf_counter()
    data_dir = os.path.join(work, "data")
    datagen.write_tables(TABLE_SEED, data_dir)
    datagen_s = time.perf_counter() - t0
    wl = workloads.make_workload(args.workload, args.seed, data_dir, work)

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=spark_conf(work, traced=False))
    get_spark_s = time.perf_counter() - t0
    try:
        checks = wl.check(spark)
        warmup_s = sum(s for _, s, _ in checks)
        for name, _, diff in checks:
            if diff is not None:
                print(f"CHECK FAILED {name}: {diff}", file=sys.stderr)
        runner = Runner(spark, wl)
        jvm = spark.sparkContext._gateway.proc.pid
        cpu0 = procstat.cpu_seconds(os.getpid())
        passes = max(1, round(args.seconds / PASS_SECONDS[args.workload]))
        recs, timed_s = runner.run_passes(random.Random(f"{args.seed}:timed"), "p", passes)
        cpu_s = procstat.cpu_seconds(os.getpid()) - cpu0
        rss_mb = procstat.peak_rss_mb(jvm) + procstat.peak_rss_mb(os.getpid())
        e2e = end_to_end(recs, import_s + get_spark_s + warmup_s, cpu_s, rss_mb)
        all_recs = list(recs)
        if args.trace:
            spark.stop()  # same JVM, new context: the event log is a context setting
            spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=spark_conf(work, traced=True))
            tracer = Runner(spark, wl)
            traced, traced_s = tracer.run_passes(random.Random(f"{args.seed}:traced"), "t", 1)
            all_recs += traced
            stop_session(spark)
            spark = None
            groups = GroupStats(read_events(os.path.join(work, "eventlog")))
            metrics = per_layer(recs, traced, traced_s, timed_s, groups,
                                runner.cache_log + tracer.cache_log, (get_spark_s, warmup_s), cores)
            units = PER_LAYER
        else:
            metrics, units = e2e, END_TO_END
    finally:
        if spark is not None:
            stop_session(spark)
        wl.close()
    print(
        f"perfbench: import {import_s:.2f}s, inputs {datagen_s:.2f}s, get_spark {get_spark_s:.2f}s,"
        f" warm-up {warmup_s:.2f}s, timed {timed_s:.2f}s over {len(recs)} ops",
        file=sys.stderr,
    )
    failed = sum(d is not None for _, _, d in checks) + sum(not r["ok"] for r in all_recs)
    return {
        "correct": failed == 0,
        "attempted": len(checks) + len(all_recs),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
