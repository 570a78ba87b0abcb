"""Per-query profiler.

Runs named corpus queries exactly the way bench.py does (same session
factory, same noop sink, same env contract), but additionally:

  * writes ``.explain("formatted")`` to plans/query_profile/<name>_<tag>.txt
  * labels each run with setJobGroup and, with the UI enabled, pulls
    per-job wall-clock from the REST API (port from the bound
    ``sc.uiWebUrl``) so time can be attributed to operators; jobs without
    a ``completionTime`` are skipped rather than scored 0.0, so they
    cannot skew the "fastest rep" pick.

Usage:
  python tools/query_profile.py [--tag before] [--reps 3] [--no-stages] q1 q2 ...

Env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from youbike_etl_pipeline_spark.plans.corpus import CORPUS  # noqa: E402
from youbike_etl_pipeline_spark.session import get_spark  # noqa: E402

UI_BASE = "http://localhost:4040"


def rest(path: str):
    with urllib.request.urlopen(f"{UI_BASE}/api/v1/{path}") as r:
        return json.loads(r.read())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--no-stages", action="store_true")
    ap.add_argument("--no-plans", action="store_true")
    args = ap.parse_args()

    global UI_BASE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="query_profile", extra_conf={"spark.ui.enabled": "true"})
    sc = spark.sparkContext
    if sc.uiWebUrl:
        UI_BASE = sc.uiWebUrl
    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "query_profile"
    )
    os.makedirs(plans_dir, exist_ok=True)

    # warmup (pay JVM/codegen startup outside the measured loop)
    CORPUS["flagship_segment_health"].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()

    app_id = sc.applicationId
    out: dict[str, dict] = {}
    for name in args.names:
        if name not in CORPUS:
            print(f"!! {name}: not in corpus", flush=True)
            continue
        fn = CORPUS[name].fn
        if not args.no_plans:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
            with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(plan)
        times = []
        for rep in range(args.reps):
            sc.setJobGroup(f"{name}/{rep}", f"{name} rep{rep}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            times.append(round(time.perf_counter() - t0, 3))
            sc.setJobGroup(None, None)
        rec: dict = {"times": times, "min": min(times)}
        if not args.no_stages:
            try:
                jobs = rest(f"applications/{app_id}/jobs?status=succeeded")
                mine = [
                    j
                    for j in jobs
                    if (j.get("jobGroup") or "").startswith(name + "/")
                    and j.get("completionTime")  # skip unfinished/unparsed
                ]
                by_rep: dict[str, list] = {}
                for j in mine:
                    by_rep.setdefault(j["jobGroup"], []).append(j)
                # report the fastest COMPLETE rep's job breakdown
                best = min(by_rep.values(), key=lambda js: sum(_dur(j) for j in js), default=[])
                rec["jobs"] = [
                    {
                        "desc": (j.get("description") or "")[:60],
                        "sec": _dur(j),
                        "stages": j.get("stageIds"),
                        "tasks": j.get("numCompletedTasks"),
                    }
                    for j in sorted(best, key=lambda j: j["jobId"])
                ]
                rec["n_jobs_per_run"] = len(best)
            except Exception as ex:  # pragma: no cover
                rec["jobs_err"] = str(ex)[:120]
        out[name] = rec
        print(f"{name}: min {rec['min']}s runs {times} jobs/run {rec.get('n_jobs_per_run')}", flush=True)
    json.dump(out, open("/tmp/query_profile_last.json", "w"), indent=1)


def _dur(j) -> float:
    from datetime import datetime

    fmt = "%Y-%m-%dT%H:%M:%S.%fGMT"
    try:
        a = datetime.strptime(j["submissionTime"], fmt)
        b = datetime.strptime(j["completionTime"], fmt)
        return round((b - a).total_seconds(), 3)
    except Exception:
        return 0.0


if __name__ == "__main__":
    main()
