"""Full-corpus scale sweep: 10x/100x slope for every never-probed query.

scale100_probe.py probes the advertised 100 TB routes by hand; this sweep
covers the long tail — the round-5 extended probe showed that even
"obviously linear" queries hide 100x-only defects (long overflow in w26/m28,
a BroadcastNestedLoopJoin in f20), so every corpus query gets a slope point.

Each run carries a wall-clock budget enforced by cancelling the Spark job
group from a watchdog, so one pathological query cannot stall the sweep.
Results stream to a JSONL file; re-running skips queries already recorded
(delete the line to re-probe one).

Usage: python tools/scale_sweep.py [query ...]
       (no args = every CORPUS query not already in SCALING.md's tables)
Env:   SWEEP_OUT (default /tmp/scale_sweep.jsonl)
       SWEEP_BUDGET10 / SWEEP_BUDGET100 (seconds, default 120 / 360)
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from youbike_etl_pipeline_spark.plans.corpus import CORPUS  # noqa: E402
from youbike_etl_pipeline_spark.session import get_spark  # noqa: E402

from scaling_report import blow_up_sf01  # noqa: E402

OUT = os.environ.get("SWEEP_OUT", "/tmp/scale_sweep.jsonl")
BUDGET10 = float(os.environ.get("SWEEP_BUDGET10", "120"))
BUDGET100 = float(os.environ.get("SWEEP_BUDGET100", "360"))


def never_probed() -> list[str]:
    """Corpus queries with no slope-TABLE row in SCALING.md.

    Only `| name | ...` table rows count as "probed" — a query mentioned in
    prose or a comment has no slope point, and the old any-snake_case-token
    scan silently excluded such queries from the sweep (round-5 advice)."""
    text = open(os.path.join(os.path.dirname(__file__), "..", "SCALING.md")).read()
    probed = set(re.findall(r"^\|\s*([a-z][a-z0-9_]*)\s*\|", text, re.MULTILINE))
    return [n for n in CORPUS if n not in probed]


def timed_run(spark, name: str, d: str, budget: float) -> dict:
    """Run one query against one dir under a wall-clock budget.

    The query executes in a worker thread that owns the job group (Spark 4
    pins Python threads to JVM threads, so the group must be set where the
    job runs); on budget exhaustion the watchdog cancels the group and the
    worker surfaces the cancellation as TIMEOUT.
    """
    from youbike_etl_pipeline_spark.plans import corpus as _corpus

    _corpus.clear_pair_graph_cache()
    group = f"sweep-{name}"
    result: dict = {}

    def target() -> None:
        try:
            spark.sparkContext.setJobGroup(group, name, interruptOnCancel=True)
            t0 = time.perf_counter()
            CORPUS[name].fn(spark, d).write.mode("overwrite").format("noop").save()
            result["sec"] = round(time.perf_counter() - t0, 2)
        except Exception as ex:  # noqa: BLE001 — sweep must record, not die
            result["err"] = f"{type(ex).__name__}: {str(ex)[:200]}"

    th = threading.Thread(target=target, daemon=True)
    t0 = time.perf_counter()
    th.start()
    th.join(budget)
    if th.is_alive():
        spark.sparkContext.cancelJobGroup(group)
        th.join(60)
        result.pop("err", None)
        result["timeout"] = round(time.perf_counter() - t0, 1)
    return result


def main() -> None:
    names = sys.argv[1:] or never_probed()
    done = set()
    if os.path.exists(OUT):
        for line in open(OUT):
            try:
                done.add(json.loads(line)["query"])
            except (ValueError, KeyError):
                pass
    todo = [n for n in names if n not in done]
    print(f"sweep: {len(todo)} queries (skipping {len(names) - len(todo)} already recorded)")

    spark = get_spark(app_name="scale-sweep")
    dir10 = "/tmp/spark_graft_sf1_synth"
    dir100 = "/tmp/spark_graft_sf10_synth"
    blow_up_sf01(spark, dir10, copies=10)
    blow_up_sf01(spark, dir100, copies=100)

    out = open(OUT, "a")
    for i, name in enumerate(todo):
        rec: dict = {"query": name}
        warm = timed_run(spark, name, dir10, BUDGET10)
        if "err" in warm or "timeout" in warm:
            rec["r10"] = warm
        else:
            rec["r10"] = timed_run(spark, name, dir10, BUDGET10)
            rec["r100"] = timed_run(spark, name, dir100, BUDGET100)
            if "sec" in rec["r10"] and "sec" in rec.get("r100", {}):
                rec["ratio"] = round(rec["r100"]["sec"] / max(rec["r10"]["sec"], 0.01), 1)
        out.write(json.dumps(rec) + "\n")
        out.flush()
        print(f"[{i + 1}/{len(todo)}] {json.dumps(rec)}", flush=True)
    out.close()

    flagged = []
    for line in open(OUT):
        r = json.loads(line)
        bad = (
            "err" in r.get("r10", {})
            or "timeout" in r.get("r10", {})
            or "err" in r.get("r100", {})
            or "timeout" in r.get("r100", {})
            or r.get("ratio", 0) > 15
        )
        if bad:
            flagged.append(r)
    print(f"\nFLAGGED {len(flagged)}:")
    for r in flagged:
        print(" ", json.dumps(r))


if __name__ == "__main__":
    main()
