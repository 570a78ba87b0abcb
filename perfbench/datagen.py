"""Seeded inputs for the benchmark.

Two generators live here:

* :func:`write_tables` writes the ten star-schema tables the corpus queries
  read (``region`` … ``embeddings``), in the column names and physical types
  of the engine's test data, at the row counts of its sf0.01 set.
* :class:`SnapshotStream` produces YouBike API snapshots tick by tick, with
  the expected outcome of ingesting each one, plus the hourly weather payload
  the gold merge joins against.

Everything is a pure function of its seed, so the same seed gives the same
inputs byte for byte.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts of the generated tables (the sf0.01 shape).
TABLE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
COLORS = "blue cold hot large new old red small".split()
NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _pick(rng: np.random.Generator, pool: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(pool, dtype=object)[rng.choice(len(pool), n, p=p)], pa.string())


def make_tables(seed: int) -> dict[str, pa.Table]:
    """The ten corpus tables, generated from ``seed``."""
    rng = np.random.default_rng(seed)
    n = TABLE_ROWS
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["customer"])),
        "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"])),
    })
    names = [f"{c} {w}" for c in COLORS for w in NOUNS]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n["part"]), i64),
        "p_name": _pick(rng, names, n["part"]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n["part"])]),
        "p_type": _pick(rng, PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
        "p_retailprice": pa.array([round(900 + (i % 1000) / 10, 1) for i in range(n["part"])]),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n["orders"]), i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n["orders"])),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
        "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
    })
    m = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), i64),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
        "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, m)),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m),
    })
    e = n["events"]
    base_us = 1704067200 * 1_000_000  # 2024-01-01 UTC
    gaps = rng.integers(1, 2 * 259_000_000, e)
    t["events"] = pa.table({
        "event_id": pa.array(range(e), i64),
        "ts": pa.array(base_us + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, e), i64),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, e), 2))),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, e)]),
    })
    texts: list[str] = []
    for i in range(n["documents"]):
        if i >= 20 and rng.random() < 0.05:  # near duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n["documents"]), i64),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n["documents"], p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n["documents"])]),
        "n_chars": pa.array([len(x) for x in texts], i64),
    })
    v = rng.standard_normal((n["embeddings"], 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n["embeddings"]), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n["embeddings"]), i32),
    })
    return t


def write_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write :func:`make_tables` as ``<out_dir>/<name>.parquet``; returns
    the row count of each table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


DISTRICTS = [
    "中正區", "大同區", "中山區", "松山區", "大安區", "萬華區",
    "信義區", "士林區", "北投區", "內湖區", "南港區", "文山區",
]
TICK_MINUTES = 10  # the reference's cron interval
START = dt.datetime(2025, 6, 2, 7, 0, 0)  # local Asia/Taipei wall clock
REPLAY_TICK = 2  # this tick repeats the previous payload exactly
WEATHER_HOURS = 48  # from 12 h before START: covers every tick of a run


class SnapshotStream:
    """YouBike API snapshots, one per 10-minute tick, from ``seed``.

    Each tick re-reports every known station. A seeded share of them keeps
    its previous ``srcUpdateTime`` (the ingest dedup drops those rows), a few
    new stations appear (the dimension upsert inserts them), a few records
    are duplicated inside the payload, and tick :data:`REPLAY_TICK` repeats the
    previous payload exactly (the load must be idempotent). ``expected``
    holds, per tick, the row counts a correct ingest appends.
    """

    def __init__(self, seed: int, n_stations: int = 1600):
        self.rng = np.random.default_rng(seed)
        self.stations: list[dict] = []
        self.last: dict[str, str] = {}  # sno -> srcUpdateTime last emitted
        self.tick = 0
        self.prev_payload: list[dict] = []
        self._add_stations(n_stations)

    def _add_stations(self, k: int) -> list[dict]:
        new = []
        for _ in range(k):
            idx = len(self.stations)
            total = int(self.rng.integers(10, 61))
            st = {
                "sno": f"5001{idx:05d}",
                "sna": f"YouBike2.0_站{idx:05d}",
                "sarea": DISTRICTS[int(self.rng.integers(0, len(DISTRICTS)))],
                "latitude": round(float(self.rng.uniform(24.96, 25.21)), 6),
                "longitude": round(float(self.rng.uniform(121.45, 121.66)), 6),
                "Quantity": total,
            }
            self.stations.append(st)
            new.append(st)
        return new

    def next(self) -> tuple[list[dict], dict[str, int]]:
        """The next payload and ``{"new_status_rows", "new_stations"}``."""
        t = self.tick
        self.tick += 1
        if t == REPLAY_TICK and self.prev_payload:
            return list(self.prev_payload), {"new_status_rows": 0, "new_stations": 0}
        new_st = self._add_stations(int(self.rng.integers(1, 6))) if t else []
        base = START + dt.timedelta(minutes=TICK_MINUTES * t)
        unchanged_share = float(self.rng.uniform(0.1, 0.4)) if t else 0.0
        payload, n_new_rows = [], 0
        for st in self.stations:
            sno = st["sno"]
            if sno in self.last and self.rng.random() < unchanged_share:
                ts = self.last[sno]
            else:
                sec = int(self.rng.integers(0, TICK_MINUTES * 60))
                ts = (base + dt.timedelta(seconds=sec)).strftime("%Y-%m-%d %H:%M:%S")
                n_new_rows += 1
            self.last[sno] = ts
            bikes = int(self.rng.integers(0, st["Quantity"] + 1))
            payload.append({
                **st,
                "available_rent_bikes": bikes,
                "available_return_bikes": st["Quantity"] - bikes,
                "srcUpdateTime": ts,
            })
        for j in self.rng.integers(0, len(payload), 8):  # in-payload duplicates
            payload.append(dict(payload[int(j)]))
        self.prev_payload = payload
        n_info = len(self.stations) if t == 0 else len(new_st)
        return payload, {"new_status_rows": n_new_rows, "new_stations": n_info}


def weather_payload(seed: int) -> dict[str, list]:
    """Open-Meteo-style hourly weather (UTC) covering every tick of a run."""
    n = WEATHER_HOURS
    rng = np.random.default_rng(seed + 1)
    start = START - dt.timedelta(hours=12)
    times = [(start + dt.timedelta(hours=h)).strftime("%Y-%m-%dT%H:%M") for h in range(n)]
    rain = np.where(rng.random(n) < 0.3, np.round(rng.exponential(3.0, n), 1), 0.0)
    return {
        "time": times,
        "temperature_2m": [round(float(x), 1) for x in rng.normal(29.0, 2.5, n)],
        "precipitation": [float(x) for x in rain],
    }
