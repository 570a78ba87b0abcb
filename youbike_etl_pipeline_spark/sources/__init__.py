"""Sources & sinks — schema-first readers and idempotent writers."""

from .readers import local_frame, read_csv_tolerant, read_json_records, read_parquet_table
from .writers import append_dedup, write_csv, write_parquet

__all__ = [
    "local_frame",
    "read_csv_tolerant",
    "read_json_records",
    "read_parquet_table",
    "append_dedup",
    "write_csv",
    "write_parquet",
]
