"""JSON ingest: API payload -> tabular rows (SURVEY §2.1 S1-S4).

Covers the two payload shapes the reference ingests:

- FRED observations (data_loader/fetch_data.py:4-14):
  ``{"observations": [{"date": ..., "value": ...}, ...]}`` — value is a
  string, "." means missing -> NULL after cast.
- Alpha Vantage statements (README.md:327-350):
  ``{"symbol": ..., "annualReports": [{...}, ...]}`` — flatten the
  report array, append literal symbol/report_type columns.

The flatten is ``explode`` + ``select("col.*")`` — pure Catalyst, and
``spark.read.json`` parallelizes over files, so a 100 TB raw zone of
JSON shards scans distributed with no driver involvement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_json(spark: SparkSession, path: str, multiline: bool = True) -> DataFrame:
    """Raw JSON read (schema-on-read, permissive — matches the
    reference's lax ingest typing, SURVEY §1.3).

    Paper ingest surface COVERAGE S4; no catalog query runs it."""
    return spark.read.option("multiLine", multiline).json(path)


def flatten_observations(raw: DataFrame) -> DataFrame:
    """FRED shape -> (observation_date DATE, value_raw TEXT, value DOUBLE).

    '.' placeholders (A3) become NULL via try_cast — same behavior the
    staging-layer ``value::numeric`` relies on.
    """
    obs = raw.select(F.explode("observations").alias("o")).select("o.*")
    return obs.select(
        F.col("date").cast("date").alias("observation_date"),
        F.col("value").alias("value_raw"),
        F.col("value").try_cast("double").alias("value"),
    )


def flatten_annual_reports_batch(raw: DataFrame, report_type: str) -> DataFrame:
    """Alpha Vantage shape -> one row per (company, report), with a
    literal report_type column (README.md:347-350: pd.DataFrame(
    data['annualReports']); df['symbol'] = company; ...).

    One DataFrame holds MANY companies' payloads of a single report
    type (each payload carries its ``symbol`` field, as the Alpha
    Vantage response does), flattened in one plan — one Spark read per
    REPORT TYPE instead of one per (company, type) pair, so the fan-out
    cost stops growing with the company list."""
    reports = raw.select(
        F.col("symbol"), F.explode("annualReports").alias("r")
    ).select("symbol", "r.*")
    return reports.select(
        F.col("symbol"),
        F.lit(report_type).alias("report_type"),
        F.col("fiscalDateEnding").cast("date").alias("fiscal_date"),
        F.col("reportedCurrency").alias("currency"),
        *[
            F.col(c).try_cast("decimal(18,2)").alias(_snake(c))
            for c in reports.columns
            if c not in ("symbol", "fiscalDateEnding", "reportedCurrency")
        ],
    )


def _snake(camel: str) -> str:
    out = []
    for ch in camel:
        if ch.isupper():
            out.append("_")
            out.append(ch.lower())
        else:
            out.append(ch)
    return "".join(out).lstrip("_")


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON file sink (fetch_data.py:13-14 analog).

    Paper ingest surface COVERAGE S4; no catalog query runs it."""
    df.write.mode(mode).json(path)
