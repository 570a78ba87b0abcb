"""Schema-first readers (SURVEY §2.1 S1-S6).

Every production read declares its schema; inference is allowed only in the
tolerant-CSV exploration path, mirroring the reference's encoding/separator
sniffing loop (``notebooks/06_tableau_master_dataset.ipynb:L32-L47``) while
keeping the fast path (Parquet) fully pushdown-capable: with an explicit
schema + ``select``/``filter``, Catalyst emits ``ReadSchema``/``PushedFilters``
into the parquet scan, so a 100 TB table only materializes the referenced
columns and row groups.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_parquet_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Native columnar scan (S5). Pushdown-friendly: callers should chain
    ``select``/``filter`` immediately so pruning reaches the scan."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``events`` stream table, robust to the file's physical ``ts`` type.

    The testdata has shipped ``ts`` both as TIMESTAMP(NANOS) (which Spark's
    vectorized reader rejects — read nanos as long via
    ``spark.sql.legacy.parquet.nanosAsLong`` and truncate to micros, matching
    DuckDB's ns→us cast) and as plain ``timestamp[us]`` (which Spark reads as
    TIMESTAMP_NTZ). Either way the output contract is the same: ``ts`` is a
    session-tz TIMESTAMP (sessions pin UTC), so downstream epoch-seconds
    casts (``cast("double")``/``cast("long")``) and windowing keep working
    regardless of the footer's physical type.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet_table(spark, sf_dir, "events")
    return df.withColumn("ts", normalize_event_ts(df.schema["ts"].dataType))


def normalize_event_ts(dtype: T.DataType, col: str = "ts") -> F.Column:
    """Column expression mapping a raw events ``ts`` of physical type
    ``dtype`` to a session-tz TIMESTAMP: long = epoch nanos (truncate to
    micros); TIMESTAMP_NTZ = naive UTC wall clock (session tz is pinned UTC,
    so the cast preserves the instant); TIMESTAMP passes through."""
    if isinstance(dtype, T.LongType):
        return F.timestamp_micros(F.expr(f"{col} div 1000"))
    return F.col(col).cast("timestamp")


def local_frame(spark: SparkSession, rows: Iterable[tuple], schema: T.StructType | str) -> DataFrame:
    """Driver-local rows → DataFrame, planned as a JVM ``LocalTableScan``.

    ``rows`` are positional tuples (``Row`` objects qualify) and ``schema``
    is a ``StructType`` or a DDL string. The rows become one Arrow table in
    the schema's Arrow types, handed to the JVM as a local relation: actions
    on the frame never start a Python worker, unlike a Python-list
    ``createDataFrame``, whose PythonRDD re-pickles the rows through Python
    workers on every action.

    Type contract (checked on the driver, before any job):

    - ``None`` in a non-nullable top-level field raises ``ValueError``;
    - a value of the wrong Python type (``"30"`` for an int, ``1`` for a
      string, a float for an integral field) raises ``TypeError``;
    - an int is accepted for a floating-point field (JSON numbers);
    - an integer out of the field's range raises ``ValueError``;
    - a naive ``datetime`` in a ``TimestampType`` field is a UTC wall clock,
      the engine's pinned session time zone.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    try:
        columns = list(zip(*rows, strict=True)) or [()] * len(schema.fields)
    except ValueError as exc:
        raise ValueError(f"rows of unequal length for schema {schema.simpleString()}") from exc
    if len(columns) != len(schema.fields):
        raise ValueError(f"rows have {len(columns)} values, schema {schema.simpleString()} has {len(schema.fields)}")
    arrays = []
    for values, field, arrow_field in zip(columns, schema.fields, arrow_schema):
        if pa.types.is_integer(arrow_field.type) and any(isinstance(v, float) for v in values):
            raise TypeError(f"field {field.name}: {field.dataType.simpleString()} can not accept a float")
        try:
            arr = pa.array(values, type=arrow_field.type)
        except pa.ArrowTypeError as exc:
            raise TypeError(f"field {field.name}: {exc}") from exc
        except pa.ArrowInvalid as exc:
            err = TypeError if str(exc).startswith("Could not convert") else ValueError
            raise err(f"field {field.name}: {exc}") from exc
        if not field.nullable and arr.null_count:
            raise ValueError(f"field {field.name}: this field is not nullable, but got None")
        arrays.append(arr)
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow_schema), schema)


def read_json_records(spark: SparkSession, records: list[dict], schema: T.StructType) -> DataFrame:
    """JSON list-of-dicts → DataFrame with declared schema (S2).

    The reference flattens the API payload with ``pd.DataFrame(raw_data)``
    (``etl_job.py:88``); here the driver-side payload becomes a local
    relation via :func:`local_frame` with an explicit schema — missing keys
    surface as nulls and are caught by the required-column validator.
    """
    if not records:
        raise ValueError("empty extract: no records returned from source")
    names = schema.names
    return local_frame(spark, [tuple(rec.get(n) for n in names) for rec in records], schema)


#: Encoding/separator candidates the reference cycles through
#: (``notebooks/06_tableau_master_dataset.ipynb:L32-L47``).
CSV_ENCODINGS = ["utf-8", "big5", "cp950", "utf-8-sig"]
CSV_SEPARATORS = [",", "\t"]


def read_csv_tolerant(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    encodings: list[str] | None = None,
    separators: list[str] | None = None,
) -> DataFrame:
    """CSV scan tolerant to separator/encoding variants (S4).

    Tries each (sep, encoding) pair until a read yields >1 column, then
    normalizes headers: strips whitespace (reference
    ``notebooks/01_youbike_analysis.ipynb:L47-L48``) and drops duplicated
    column names keeping the first occurrence
    (``notebooks/06_tableau_master_dataset.ipynb:L40``).
    """
    last_err: Exception | None = None
    for sep in separators or CSV_SEPARATORS:
        for enc in encodings or CSV_ENCODINGS:
            try:
                reader = spark.read.option("header", True).option("sep", sep).option("encoding", enc)
                df = reader.schema(schema).csv(path) if schema else reader.option("inferSchema", True).csv(path)
                if len(df.columns) > 1:
                    return _normalize_headers(df)
            except Exception as exc:  # noqa: BLE001 - sniffing loop by design
                last_err = exc
    if last_err:
        raise last_err
    raise ValueError(f"could not read CSV at {path} with any (sep, encoding) candidate")


def _normalize_headers(df: DataFrame) -> DataFrame:
    seen: set[str] = set()
    keep_idx: list[int] = []
    names: list[str] = []
    for i, c in enumerate(df.columns):
        stripped = c.strip()
        if stripped in seen:
            continue
        seen.add(stripped)
        keep_idx.append(i)
        names.append(stripped)
    cols = [df[df.columns[i]].alias(n) for i, n in zip(keep_idx, names)]
    return df.select(*cols)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
) -> DataFrame:
    """JDBC scan (S6) — parallelized when a numeric partition column is given.

    Reference reads existing dimension PKs with ``pd.read_sql``
    (``etl_job.py:121``); at scale the read is split into ``num_partitions``
    range slices so executors pull concurrently.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound if lower_bound is not None else 0))
            .option("upperBound", str(upper_bound if upper_bound is not None else 1_000_000))
        )
    return reader.load()


def read_images(
    spark: SparkSession,
    path: str,
    drop_invalid: bool = True,
    recursive: bool = False,
) -> DataFrame:
    """Image-directory scan via Spark's built-in ``format("image")`` source
    — the preferred 100 TB decode path: the JVM (ImageIO) decodes
    JPEG/PNG/GIF/BMP executor-side with zero Python in the loop, yielding
    ``image.(origin, height, width, nChannels, mode, data)`` where ``data``
    is the row-major BGR(A) pixel buffer. Undecodable files surface as a
    sentinel row (all dims −1), dropped by default so downstream feature
    math never sees them; pass ``drop_invalid=False`` to audit them.

    The numpy decoders in ``operators.multimodal`` (PPM/BMP/PNG/baseline
    JPEG) serve the other regime — payloads already sitting in a binary
    COLUMN of a table — and are conformance-tested against this source's
    pixels, so the two decode paths agree.
    """
    reader = spark.read.format("image").option("dropInvalid", str(drop_invalid).lower())
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path)
