"""Test-fixture table loading and view registration.

The driver's synthetic tables (TESTDATA.md) stand in for the reference's
domain tables (FIXTURES.md §B): ``events`` plays ``raw.financial_data``
(ts ≙ observation_date, value ≙ value, event_type ≙ series_id), the
TPC-H-ish star schema provides join/aggregate fixtures, and
``documents``/``embeddings`` back the LLM-pipeline extension operators.

``_read_parquet`` is the engine's one parquet reader.
"""

from __future__ import annotations

import json
import os
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# footer key under which Spark's parquet writer stores the row schema
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"

# Spark's read types for the scalar types the pyarrow-written fixtures
# use; a column of any other type sends the read to Spark's inference.
_ARROW_SCALARS = {
    pa.bool_(): T.BooleanType(),
    pa.int8(): T.ByteType(),
    pa.int16(): T.ShortType(),
    pa.int32(): T.IntegerType(),
    pa.int64(): T.LongType(),
    pa.float32(): T.FloatType(),
    pa.float64(): T.DoubleType(),
    pa.string(): T.StringType(),
    pa.date32(): T.DateType(),
}


def _first_data_file(path: str) -> str | None:
    """The data file whose footer Spark's schema inference reads: the
    path itself, or the first file by name in the directory, searching
    subdirectories (``k=v`` partitions) after the files beside them.
    Names Spark skips (``.x``, ``_x`` without ``=``) are skipped. None
    for a non-local URI, a missing path or no data file."""
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        return None
    local = url.path if url.scheme else path
    if os.path.isfile(local):
        return local
    if not os.path.isdir(local):
        return None
    subdirs = []
    for entry in sorted(os.scandir(local), key=lambda e: e.name):
        name = entry.name
        if name.startswith(".") or (name.startswith("_") and "=" not in name):
            continue
        if not entry.is_dir():
            return entry.path
        subdirs.append(entry.path)
    for d in subdirs:
        found = _first_data_file(d)
        if found:
            return found
    return None


def _spark_type(t: pa.DataType) -> T.DataType | None:
    """Spark's read type for an arrow type other than timestamp[ns]:
    ``_ARROW_SCALARS``, timestamps and lists of these; None otherwise."""
    if t in _ARROW_SCALARS:
        return _ARROW_SCALARS[t]
    if pa.types.is_timestamp(t) and t.unit != "ns":
        # TIMESTAMP(MILLIS/MICROS) reads as a session-tz timestamp with
        # inferTimestampNTZ off (set below)
        return T.TimestampType()
    if pa.types.is_list(t):
        elem = _spark_type(t.value_type)
        return None if elem is None else T.ArrayType(elem, t.value_field.nullable)
    return None


def _footer_schema(footer: str) -> tuple[T.StructType, list[str]] | None:
    """Spark's schema for a file from its footer, plus the top-level
    TIMESTAMP(NANOS) columns that arrive as long nanoseconds. None when
    some column type is outside ``_spark_type``."""
    meta = pq.read_metadata(footer)
    spark_json = (meta.metadata or {}).get(_SPARK_ROW_METADATA)
    if spark_json:
        # Spark wrote it: its own schema, nullability included
        return T.StructType.fromJson(json.loads(spark_json)), []
    # INT64 TIMESTAMP(NANOS) only: arrow reports INT96 as timestamp[ns]
    # too, and Spark reads INT96 as a timestamp
    nanos = {
        col.path
        for col in meta.schema
        if col.physical_type == "INT64"
        and json.loads(col.logical_type.to_json()).get("timeUnit") == "nanoseconds"
    }
    fields = []
    for f in meta.schema.to_arrow_schema():
        if f.name in nanos:
            dt = T.LongType()  # spark.sql.legacy.parquet.nanosAsLong
        elif pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            dt = T.TimestampType()  # INT96
        else:
            dt = _spark_type(f.type)
        if dt is None:
            return None
        fields.append(T.StructField(f.name, dt, f.nullable))
    return T.StructType(fields), [f.name for f in fields if f.name in nanos]


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet file or directory without a Spark job.

    Given no schema, ``spark.read.parquet`` runs a one-task
    schema-inference job that reads one data file's footer. Here pyarrow
    reads that footer on the driver and the schema is handed to Spark,
    so building the DataFrame runs no job. A footer Spark wrote carries
    Spark's schema, used unchanged; Spark applies its own nullability
    rules on read (a streaming file sink's output keeps non-null
    columns). Other footers (pyarrow/pandas fixtures) are converted the
    way Spark converts them. Partition columns of a ``k=v`` directory
    are discovered by Spark as before. Without a local data file (a
    missing path, an empty directory, a non-local URI), or with a column
    type ``_spark_type`` does not map, this is ``spark.read.parquet``,
    which infers the schema or raises Spark's own error.

    Spark has no nanosecond timestamp type; with
    ``spark.sql.legacy.parquet.nanosAsLong`` INT64 TIMESTAMP(NANOS)
    columns arrive as long nanoseconds and are converted here to
    microsecond timestamps (Spark's native precision).

    ``session.get_spark`` sets both legacy confs at build time (the
    documented home for them); the ensure-set below only covers
    sessions this package didn't build (e.g. the correctness driver's),
    and is skipped when already configured so repeated reads don't
    churn conf.
    """
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # TIMESTAMP(MICROS, isAdjustedToUTC=false) must read as session-tz
    # (UTC) timestamps, not TIMESTAMP_NTZ — event-time ops (withWatermark)
    # reject NTZ, and the oracle compares wall-clock values either way.
    if spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true") != "false":
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    footer = _first_data_file(path)
    found = _footer_schema(footer) if footer else None
    if found is None:
        return spark.read.parquet(path)
    schema, ns_cols = found
    df = spark.read.schema(schema).parquet(path)
    for c in ns_cols:
        # integer division — ns values (~1.7e18) overflow double precision,
        # so a float divide would corrupt the microsecond value
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Load each parquet fixture as a DataFrame keyed by table name."""
    return {name: _read_parquet(spark, f"{sf_dir}/{name}.parquet") for name in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Load fixtures and register each as a temp view for spark.sql use."""
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
