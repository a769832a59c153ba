"""REST extraction shim (SURVEY §2.1 S1-S2, §2.10 O1-O2).

The reference's extract layer is driver-side Python: GET a JSON API,
stage to disk/S3 (data_loader/fetch_data.py:4-17; the custom
API-to-S3 operator, README.md:295-370). In Spark the extract stays
driver-side by design — the engine starts at the staged files — so
this module is a thin, injectable fetcher:

- ``fetch_fn`` is injected (tests/offline use canned payloads; real
  deployments pass ``requests.get``-based callables). No network access
  is assumed anywhere.
- ``RateLimiter`` reproduces the 15s inter-call sleep / budget
  semantics (README.md:367-369, readme.md:439) without real sleeping
  in tests (injectable clock).
- Fan-out over (company, report_type) pairs mirrors the DAG's loop
  (README.md:327-345).
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

FetchFn = Callable[[str], dict]


@dataclass
class RateLimiter:
    """min_interval seconds between calls, max_calls budget (free-tier
    ceilings: 5/min + 500/day, readme.md:439)."""

    min_interval: float = 15.0
    max_calls: int | None = 500
    clock: Callable[[], float] = time.monotonic
    sleep: Callable[[float], None] = time.sleep
    _last: float | None = field(default=None, init=False)
    calls: int = field(default=0, init=False)

    def wait(self) -> None:
        if self.max_calls is not None and self.calls >= self.max_calls:
            raise RuntimeError(f"rate budget exhausted ({self.max_calls} calls)")
        if self._last is not None:
            elapsed = self.clock() - self._last
            if elapsed < self.min_interval:
                self.sleep(self.min_interval - elapsed)
        self._last = self.clock()
        self.calls += 1


def fetch_series(
    fetch_fn: FetchFn,
    base_url: str,
    series_id: str,
    api_key: str = "demo",
    limiter: RateLimiter | None = None,
) -> dict:
    """FRED-style series GET (fetch_data.py:5-11 URL construction).

    Paper ingest surface COVERAGE S1; no catalog query runs it."""
    if limiter:
        limiter.wait()
    url = f"{base_url}?series_id={series_id}&api_key={api_key}&file_type=json"
    return fetch_fn(url)


def fetch_statements(
    fetch_fn: FetchFn,
    base_url: str,
    companies: Iterable[str],
    report_types: Iterable[str],
    api_key: str = "demo",
    limiter: RateLimiter | None = None,
) -> list[tuple[str, str, dict]]:
    """Alpha Vantage fan-out: loop companies x report_types
    (README.md:327-345), honoring the rate limiter between calls."""
    out = []
    for company in companies:
        for rt in report_types:
            if limiter:
                limiter.wait()
            url = f"{base_url}?function={rt.upper()}&symbol={company}&apikey={api_key}"
            out.append((company, rt, fetch_fn(url)))
    return out


def payloads_to_df(spark: SparkSession, payloads: list[dict]) -> DataFrame:
    """Parallelize raw payloads as a one-JSON-per-row DataFrame, then
    parse with spark.read.json semantics (schema inferred JVM-side)."""
    rdd = spark.sparkContext.parallelize([json.dumps(p) for p in payloads])
    return spark.read.json(rdd)


def ingest_statements_long(spark, fetch, base_url, companies, report_types):
    """The statements fan-out end to end: driver-side fetch over
    companies x report_types (rate-limited in real deployments), JSON
    parse, per-report flatten with literal symbol/report_type, then
    unpivot to the long (metric, value) shape raw_financial_data
    stores. At 100 TB the fetch stages JSON shards and
    spark.read.json scans them distributed; everything from flatten on
    is the same Catalyst plan."""
    from finance_reporting_etl_spark.sources.json_source import (
        flatten_annual_reports_batch,
    )

    triples = fetch_statements(fetch, base_url, companies, report_types)
    if not triples:
        raise ValueError(
            f"statements fan-out is empty: companies={list(companies)}, "
            f"report_types={list(report_types)}"
        )
    # batch by report type: payloads of one type share a schema and
    # each carries its own symbol, so ONE json read + flatten covers
    # every company — the per-(company, type) loop paid a driver
    # round-trip per cell of the fan-out (r5 review)
    by_rt: dict = {}
    for _symbol, rt, payload in triples:
        by_rt.setdefault(rt, []).append(payload)
    legs = []
    for rt, payloads in by_rt.items():
        flat = flatten_annual_reports_batch(payloads_to_df(spark, payloads), rt)
        metrics = [
            c
            for c in flat.columns
            if c not in ("symbol", "report_type", "fiscal_date", "currency")
        ]
        stack = ", ".join(f"'{m}', CAST({m} AS DOUBLE)" for m in metrics)
        legs.append(
            flat.selectExpr(
                "symbol",
                "report_type",
                "fiscal_date",
                "currency",
                f"stack({len(metrics)}, {stack}) AS (metric, value)",
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out
