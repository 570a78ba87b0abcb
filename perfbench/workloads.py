"""The workloads and the operations they run.

An operation has two timed parts: ``build`` (the call into the package that
returns a DataFrame; eager checkpoints, ``approxQuantile`` and footer reads
run here) and ``execute`` (the action). A pass is one ordered list of
operations; the benchmark repeats passes in a closed loop with one client.
Every workload calls only the package's public entry points.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import duckdb

from youbike_etl_pipeline_spark.parity import diff_frames, spark_to_pandas
from youbike_etl_pipeline_spark.pipelines import youbike
from youbike_etl_pipeline_spark.plans import corpus
from youbike_etl_pipeline_spark.sources import writers

from datagen import SnapshotStream, weather_payload

#: Self-joins, candidate-pair fan-outs, eager checkpoints, forced broadcasts
#: and the 200x m25 multiplier that ROADMAP items 2-4 target, plus one codec
#: decode (mm14) so that the Python-worker layer and the multimodal widen gate
#: are measured too.
SIMILARITY_HEAVY = [
    "t2_ngram_jaccard_pairs", "t10_dedup_clusters", "t7_minhash_lsh_dedup",
    "t49_prefix_filter_jaccard", "j11_interval_overlap_join", "m25_poisson_bootstrap_ci",
    "t46_containment_pairs", "mm14_webp_lossless_decode",
]
#: Operations that always run right after another one: t10 reads the pair
#: graph t2 leaves in the session cache.
FOLLOWS = {"t10_dedup_clusters": "t2_ngram_jaccard_pairs"}


@dataclass
class Op:
    """One operation of a pass. ``build`` returns a handle that ``execute``
    consumes; ``execute`` returns whether the output passed its check."""

    name: str
    kind: str
    build: callable
    execute: callable
    stats: dict = field(default_factory=dict)


class CorpusWorkload:
    """The :data:`SIMILARITY_HEAVY` corpus queries over the generated tables,
    in a seeded order per pass. Outputs are checked once per run against the
    DuckDB oracles."""

    kind = "query"
    names = SIMILARITY_HEAVY

    def __init__(self, data_dir: str):
        missing = [n for n in self.names if n not in corpus.CORPUS]
        if missing:
            raise KeyError(f"not in the corpus: {missing}")
        self.data_dir = data_dir

    def check(self, spark) -> list[tuple[str, float, str | None]]:
        """Run every query once, collect it and diff it against its oracle.
        Returns ``(name, spark_seconds, diff_or_None)`` per query; the
        seconds cover only the Spark side, not the oracle. The queries run
        in list order, so a follower reuses its leader's cache as it does in
        a pass."""
        con = duckdb.connect()
        try:
            for path in sorted(glob.glob(os.path.join(self.data_dir, "*.parquet"))):
                table = os.path.basename(path)[: -len(".parquet")]
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
            out = []
            self.clear_caches(spark)
            for name in self.names:
                t0 = time.perf_counter()
                try:
                    df = corpus.CORPUS[name].fn(spark, self.data_dir)
                    got = spark_to_pandas(df.collect(), df.columns)
                except Exception as exc:  # a raise is a failed operation
                    out.append((name, time.perf_counter() - t0, f"raised {exc!r}"[:300]))
                    continue
                spark_s = time.perf_counter() - t0
                want = con.execute(corpus.CORPUS[name].oracle).df()
                out.append((name, spark_s, diff_frames(got, want)))
            return out
        finally:
            con.close()

    def pass_ops(self, rng: random.Random, tag: str) -> list[Op]:
        """Every query once, in an order drawn from ``rng``; a follower
        stays right behind its leader."""
        order = [n for n in self.names if FOLLOWS.get(n) not in self.names]
        rng.shuffle(order)
        for follower, leader in FOLLOWS.items():
            if follower in self.names and leader in order:
                order.insert(order.index(leader) + 1, follower)
        return [self._op(n) for n in order]

    def _op(self, name: str) -> Op:
        fn = corpus.CORPUS[name].fn

        def build(spark):
            return fn(spark, self.data_dir)

        def execute(spark, df):
            df.write.mode("overwrite").format("noop").save()
            return True

        return Op(name, self.kind, build, execute)

    def clear_caches(self, spark) -> None:
        corpus.clear_pair_graph_cache()

    def cache_state(self, spark) -> dict:
        """Session-shared materializations: pair-graph cache entries and the
        RDD blocks the block manager still holds."""
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {
            "pair_graph_cache_entries": len(corpus._PAIR_GRAPH_CACHE),
            "cached_blocks": sum(i.numCachedPartitions() for i in infos),
        }

    def close(self) -> None:
        pass


def _parquet_files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "*.parquet"))


def _bytes(files: list[str]) -> int:
    return sum(os.path.getsize(f) for f in files)


def _read_bytes(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


#: Snapshot ticks in one ingest cycle; the cycle ends with one gold export.
#: Four ticks, one of them a replay, and one export put the median operation
#: among the three ticks that write, not in the gap between them and the
#: cheaper replay and export.
TICKS = 4
#: Ticks in the warm-up cycle: the first load into an empty warehouse and one
#: append cover every code path of a tick; the replay only skips the writes.
WARMUP_TICKS = 2


class PipelineWorkload:
    """The reference's dataflow. A pass is one ingest cycle into a fresh
    parquet warehouse: :data:`TICKS` snapshot ticks, then one weather + gold
    merge + Tableau CSV export. Every tick and the export are checked against
    counts the snapshot generator derived."""

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.work_dir = work_dir
        self.warehouse: str | None = None
        self.snapshot_to_df_s = 0.0
        # a span around the sources layer inside ingest_snapshot: wrap the
        # module attribute the pipeline looks up at call time
        self._snapshot_to_df = youbike.snapshot_to_df
        youbike.snapshot_to_df = self._timed_snapshot_to_df

    def _timed_snapshot_to_df(self, spark, records):
        t0 = time.perf_counter()
        try:
            return self._snapshot_to_df(spark, records)
        finally:
            self.snapshot_to_df_s = time.perf_counter() - t0

    def close(self) -> None:
        youbike.snapshot_to_df = self._snapshot_to_df

    def check(self, spark) -> list[tuple[str, float, str | None]]:
        """One untimed warm-up cycle of :data:`WARMUP_TICKS` ticks and the
        export; each operation checks itself."""
        out = []
        for op in self.pass_ops(random.Random(f"{self.seed}:check"), "check", WARMUP_TICKS):
            t0 = time.perf_counter()
            try:
                ok = op.execute(spark, op.build(spark))
                out.append((op.name, time.perf_counter() - t0, None if ok else op.stats.get("diff")))
            except Exception as exc:  # a raise is a failed operation
                out.append((op.name, time.perf_counter() - t0, f"raised {exc!r}"[:300]))
        return out

    def clear_caches(self, spark) -> None:
        pass

    def cache_state(self, spark) -> dict:
        return {"pair_graph_cache_entries": 0, "cached_blocks": 0}

    def pass_ops(self, rng: random.Random, tag: str, ticks: int = TICKS) -> list[Op]:
        if self.warehouse:
            shutil.rmtree(self.warehouse, ignore_errors=True)
        wh = self.warehouse = os.path.join(self.work_dir, f"warehouse-{tag}")
        stream = SnapshotStream(rng.randrange(1 << 62))
        state = {"status_rows": 0}
        info_path = os.path.join(wh, "station_info")
        status_path = os.path.join(wh, "station_status")
        ops = [self._tick_op(info_path, status_path, stream, state, t) for t in range(ticks)]
        ops.append(self._export_op(os.path.join(wh, "tableau"), info_path, status_path, state))
        return ops

    def _tick_op(self, info_path, status_path, stream, state, t) -> Op:
        op = Op(f"tick{t}", "tick", None, None)

        def build(spark):
            records, expected = stream.next()
            files = _parquet_files(info_path) + _parquet_files(status_path)
            op.stats["files_read"] = len(files)
            existing_info = spark.read.parquet(info_path) if os.path.exists(info_path) else None
            existing_status = spark.read.parquet(status_path) if os.path.exists(status_path) else None
            t0 = time.perf_counter()
            new_info, new_status = youbike.ingest_snapshot(spark, records, existing_info, existing_status)
            op.stats["ingest_snapshot_s"] = time.perf_counter() - t0
            op.stats["snapshot_to_df_s"] = self.snapshot_to_df_s
            return new_info, new_status, expected

        def execute(spark, handle):
            # the body of the package's own ingest CLI tick: count, then append
            new_info, new_status, expected = handle
            n_info, n_status = new_info.count(), new_status.count()
            before = set(_parquet_files(info_path) + _parquet_files(status_path))
            t0 = time.perf_counter()
            if n_info:
                writers.write_parquet(new_info, info_path)
            if n_status:
                writers.write_parquet(new_status, status_path)
            op.stats["write_s"] = time.perf_counter() - t0
            added = set(_parquet_files(info_path) + _parquet_files(status_path)) - before
            op.stats.update(
                files_written=len(added), bytes_written=_bytes(list(added)),
                new_status_rows=n_status, new_stations=n_info,
            )
            state["status_rows"] += expected["new_status_rows"]
            got = {"new_status_rows": n_status, "new_stations": n_info}
            if got != expected:
                op.stats["diff"] = f"tick {t}: got {got}, generator expects {expected}"
                return False
            return True

        op.build, op.execute = build, execute
        return op

    def _export_op(self, csv_dir, info_path, status_path, state) -> Op:
        op = Op("gold_export", "export", None, None)

        def build(spark):
            weather = youbike.weather_to_df(spark, weather_payload(self.seed))
            info, status = spark.read.parquet(info_path), spark.read.parquet(status_path)
            t0 = time.perf_counter()
            gold = youbike.build_gold_table(status, info, weather)
            op.stats["build_gold_table_s"] = time.perf_counter() - t0
            return gold

        def execute(spark, gold):
            t0 = time.perf_counter()
            youbike.tableau_master_dataset(gold, csv_dir)
            op.stats["csv_export_s"] = time.perf_counter() - t0
            parts = glob.glob(os.path.join(csv_dir, "*.csv"))
            data = b"".join(_read_bytes(p) for p in parts)
            bom = data.startswith(b"\xef\xbb\xbf")
            rows = data.count(b"\n") - 1
            stored = _bytes(_parquet_files(info_path) + _parquet_files(status_path))
            op.stats["warehouse_bytes_per_row"] = stored / max(1, state["status_rows"])
            if len(parts) != 1 or not bom or rows != state["status_rows"]:
                op.stats["diff"] = (
                    f"export: {len(parts)} part files, bom={bom}, {rows} csv rows"
                    f" vs {state['status_rows']} status rows"
                )
                return False
            return True

        op.build, op.execute = build, execute
        return op


def make_workload(name: str, seed: int, data_dir: str, work_dir: str):
    if name == "youbike_pipeline":
        return PipelineWorkload(seed, work_dir)
    return CorpusWorkload(data_dir)
