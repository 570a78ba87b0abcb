"""Driver-side HTTP sources with retry/backoff (SURVEY §2.1 S1, S3).

Fetching a city-API JSON snapshot is inherently a driver-side action (one
small payload per 10-minute tick), so the retry loop stays plain Python —
exactly the reference's shape (3 attempts, linear backoff ``2.0 * attempt``,
``raise_for_status``; ``etl_job.py:64-80``). The payload then becomes a
schema-validated DataFrame via :func:`.readers.local_frame`: one Arrow table
handed to the JVM as a local relation (``LocalTableScan``), so later actions
on the snapshot run in the JVM without Python workers, and the rest of the
engine treats it like any other source.

``requests`` is gated behind an import-try: the engine works without it (tests
inject payloads directly via :func:`snapshot_to_df`).
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..schemas import RAW_REQUIRED_COLUMNS, RAW_STATION_SNAPSHOT
from .readers import read_json_records

try:  # pragma: no cover - optional dependency
    import requests
except ImportError:  # pragma: no cover
    requests = None


def fetch_json_with_retry(
    url: str,
    timeout: float = 10.0,
    max_retries: int = 3,
    backoff_base: float = 2.0,
) -> list[dict[str, Any]]:
    """GET a JSON list with the reference's retry/backoff policy
    (``etl_job.py:64-80``): ``max_retries`` attempts, linear backoff
    ``backoff_base * attempt`` seconds, HTTP errors raised."""
    if requests is None:  # pragma: no cover
        raise NotImplementedError("requests is not installed in this environment")
    last_exc: Exception | None = None
    for attempt in range(1, max_retries + 1):
        try:
            resp = requests.get(url, timeout=timeout)
            resp.raise_for_status()
            data = resp.json()
            if not isinstance(data, list):
                raise ValueError(f"expected JSON list, got {type(data).__name__}")
            return data
        except Exception as exc:  # noqa: BLE001 - retry loop by design
            last_exc = exc
            if attempt < max_retries:
                time.sleep(backoff_base * attempt)
    raise RuntimeError(f"source fetch failed after {max_retries} attempts") from last_exc


def snapshot_to_df(spark: SparkSession, records: list[dict[str, Any]]) -> DataFrame:
    """Raw API payload → schema-validated DataFrame.

    Empty payload raises ``ValueError`` and missing required fields raise
    ``KeyError`` — the reference's transform contract
    (``tests/test_etl.py:18-28``, ``etl_job.py:89-97``). A field null in
    *every* record counts as missing.
    """
    if not records:
        raise ValueError("empty extract: no records returned from source")
    present: set[str] = set()
    for rec in records:
        present.update(k for k, v in rec.items() if v is not None)
    missing = [c for c in RAW_REQUIRED_COLUMNS if c not in present]
    if missing:
        raise KeyError(f"missing required columns: {missing}")
    return read_json_records(spark, records, RAW_STATION_SNAPSHOT)
