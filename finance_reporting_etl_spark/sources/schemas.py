"""DDL-equivalent schemas (SURVEY §2.1 S8).

Typed StructTypes for the reference's warehouse tables — the Spark
analog of ``CREATE TABLE IF NOT EXISTS`` DDL:

- ``raw.financial_data`` (sql/init_db.sql:1-5): series_id TEXT,
  observation_date DATE, value TEXT (cast downstream).
- ``raw_financial_data`` (README.md:252-266): wide statement table,
  NUMERIC(18,2) money columns, created_at TIMESTAMPTZ DEFAULT NOW().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from finance_reporting_etl_spark.tables import _read_parquet

# sql/init_db.sql:1-5 — note value intentionally TEXT (cast in staging)
RAW_FINANCIAL_DATA_SCHEMA = T.StructType(
    [
        T.StructField("series_id", T.StringType(), True),
        T.StructField("observation_date", T.DateType(), True),
        T.StructField("value", T.StringType(), True),
    ]
)

# README.md:252-266 — wide statement table; DECIMAL(18,2) per the DDL
WIDE_FINANCIAL_DATA_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), True),
        T.StructField("symbol", T.StringType(), True),  # VARCHAR(10)
        T.StructField("report_type", T.StringType(), True),  # VARCHAR(20)
        T.StructField("fiscal_date", T.DateType(), True),
        T.StructField("currency", T.StringType(), True),  # VARCHAR(5)
        T.StructField("total_revenue", T.DecimalType(18, 2), True),
        T.StructField("gross_profit", T.DecimalType(18, 2), True),
        T.StructField("operating_income", T.DecimalType(18, 2), True),
        T.StructField("net_income", T.DecimalType(18, 2), True),
        T.StructField("total_assets", T.DecimalType(18, 2), True),
        T.StructField("total_liabilities", T.DecimalType(18, 2), True),
        T.StructField("total_equity", T.DecimalType(18, 2), True),
        T.StructField("created_at", T.TimestampType(), False),  # NOT NULL DEFAULT NOW()
    ]
)

ACCEPTED_REPORT_TYPES = ("income_statement", "balance_sheet", "cash_flow")  # README.md:227


def create_table(spark: SparkSession, name: str, schema: T.StructType, path: str | None = None) -> DataFrame:
    """CREATE TABLE IF NOT EXISTS analog: register an empty, typed view
    (or Parquet-backed table when ``path`` is given).

    Paper ingest surface COVERAGE S8; no catalog query runs it."""
    empty = spark.createDataFrame([], schema)
    if path is not None:
        empty.write.mode("ignore").parquet(path)
        df = _read_parquet(spark, path)
    else:
        df = empty
    df.createOrReplaceTempView(name)
    return df


def with_ingest_timestamp(df: DataFrame, col: str = "created_at") -> DataFrame:
    """``created_at TIMESTAMPTZ NOT NULL DEFAULT NOW()`` (README.md:265)."""
    return df.withColumn(col, F.current_timestamp())


def schema_to_ddl(schema: T.StructType) -> str:
    """StructType -> column DDL string (``name TYPE, ...``) via Spark's
    own simpleString mapping — round-trips through
    ``T._parse_datatype_string`` and ``CREATE TABLE``."""
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)


def create_table_sql(
    spark: SparkSession,
    name: str,
    schema: T.StructType,
    path: str | None = None,
    partition_cols: tuple[str, ...] = (),
) -> None:
    """The SQL-string DDL form of S8 (sql/init_db.sql:1-5 CREATE TABLE
    IF NOT EXISTS): issues ``spark.sql("CREATE TABLE ...")`` against the
    session catalog — parquet-backed (EXTERNAL at ``path`` if given,
    else managed under spark.sql.warehouse.dir), optionally partitioned.
    Unlike ``create_table`` (temp view), the result is a catalog table
    visible to any session sharing the metastore.

    Paper ingest surface COVERAGE S8; no catalog query runs it.
    """
    cols = schema_to_ddl(schema)
    parts = f" PARTITIONED BY ({', '.join(partition_cols)})" if partition_cols else ""
    loc = f" LOCATION '{path}'" if path else ""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {name} ({cols}) USING parquet{parts}{loc}"
    )
