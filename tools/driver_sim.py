"""Standalone replica of the driver's correctness gate (driver-strict).

Usage: python tools/driver_sim.py [query ...]   # default: all queries
Env: SIM_SF (default sf0.01), SIM_MASTER, SIM_SHUF, SIM_SPLIT.

Materializes both sides as pandas (DuckDB via .df() so HUGEINT → float64 is
visible) and compares canonical stringified cells — no cross-type numeric
coercion, mirroring the driver's hash.
"""
import os, sys, time, json
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as e
from pyspark.sql import SparkSession
from youbike_etl_pipeline_spark.parity import duck_views, oracle_diff, spark_to_pandas
from youbike_etl_pipeline_spark.session import host_driver_memory

SF = os.environ.get("SIM_SF", "/root/testdata/sf0.01")
conf = (SparkSession.builder.master(os.environ.get("SIM_MASTER","local[8]"))
        .config("spark.sql.shuffle.partitions", os.environ.get("SIM_SHUF","8"))
        .config("spark.sql.session.timeZone","UTC")
        .config("spark.ui.enabled","false")
        .config("spark.driver.memory", host_driver_memory()))
if os.environ.get("SIM_SPLIT"):
    conf = conf.config("spark.sql.files.maxPartitionBytes", os.environ["SIM_SPLIT"])
spark = conf.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
con = duck_views(SF)

qs, osql = e.queries(), e.oracle_sql()
names = sys.argv[1:] or list(qs)
results = {}
t_total = time.time()
for name in names:
    t0 = time.time()
    status, detail = "PASS", ""
    try:
        sdf = qs[name](spark, SF)
        if name in osql:
            diff = oracle_diff(sdf, osql[name], con)
            if diff is not None:
                status, detail = "HASH", diff
        else:
            spark_to_pandas(sdf.collect(), sdf.columns)
            status = "ROWSONLY"
    except Exception as ex:
        status, detail = "ERROR", f"{type(ex).__name__}: {str(ex)[:200]}"
    dt = time.time()-t0
    results[name] = (status, round(dt,2), detail)
    print(f"{name}: {status} {dt:.1f}s {detail}", flush=True)
bad = [n for n,(s,_,_) in results.items() if s not in ("PASS","ROWSONLY")]
print(f"\nTOTAL {time.time()-t_total:.0f}s; {len(bad)} failures: {bad}")
json.dump({n:{"status":s,"sec":d} for n,(s,d,_) in results.items()}, open("/tmp/driver_sim_last.json","w"), indent=1)
sys.exit(1 if bad else 0)
