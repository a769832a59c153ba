"""CSV staging surface (SURVEY §2.1 S5-S7).

The reference stages API frames as headered CSV in S3
(``df.to_csv(index=False)`` -> ``s3_hook.load_string``,
README.md:352-361) then bulk-loads via ``S3ToSqlOperator``
(README.md:272-279). Spark collapses both hops: ``df.write.csv`` with a
``partitionBy`` layout replaces the hand-built
``financial_data/{company}_{type}.csv`` key scheme, and
``spark.read.csv(...).write.saveAsTable`` is the bulk load. ``s3a://``
paths drop in for local paths unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from finance_reporting_etl_spark.tables import _read_parquet


def write_csv_staged(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Headered CSV sink; partition layout replaces templated S3 keys
    (README.md:358 '{company}_{report_type}.csv' ≙ partitionBy both).

    Paper ingest surface COVERAGE S5; no catalog query runs it."""
    writer = df.write.mode(mode).option("header", True)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.csv(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    infer: bool = True,
) -> DataFrame:
    """Headered CSV read; explicit schema at the warehouse boundary,
    inference at the raw boundary (SURVEY §1.3 typing split)."""
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def bulk_load_csv(
    spark: SparkSession,
    csv_path: str,
    table_path: str,
    schema: T.StructType | None = None,
    mode: str = "append",
) -> DataFrame:
    """S3ToSqlOperator analog: CSV -> parquet-backed table, append mode
    (the reference loads into raw_financial_data per DAG run).

    Paper ingest surface COVERAGE S7; no catalog query runs it."""
    df = read_csv(spark, csv_path, schema=schema)
    df.write.mode(mode).parquet(table_path)
    return _read_parquet(spark, table_path)
