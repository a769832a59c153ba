"""End-to-end pipeline runner — the engine's analog of the reference DAG.

Reference chain (dags/etl_dag.py:6-22 + README.md:216-288):
``extract_financial_data >> create_raw_table >> load_to_timescale >>
run_dbt_transformations``, scheduled daily with retries. Airflow's
process boundaries (worker fork, psycopg2, S3 HTTP, docker exec)
collapse into one Spark driver: stages are function calls in dependency
order; retries/scheduling belong to whatever invokes ``run_pipeline``
(cron, Airflow, anything) — the engine is scheduler-agnostic.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from finance_reporting_etl_spark.plans.models import registry
from finance_reporting_etl_spark.sources.json_source import flatten_observations
from finance_reporting_etl_spark.sources.rest import payloads_to_df
from finance_reporting_etl_spark.sources.schemas import with_ingest_timestamp
from finance_reporting_etl_spark.tables import load_tables

# Offline default: a canned FRED-shaped payload (fetch_data.py:11-14's
# GDP series). Real deployments inject fetch_payloads that hits the API.
CANNED_FRED_PAYLOAD = {
    "observations": [
        {"date": "2023-01-01", "value": "26500.0"},
        {"date": "2023-04-01", "value": "."},
        {"date": "2023-07-01", "value": "27000.5"},
        {"date": "2023-10-01", "value": "27600.25"},
    ]
}


# Canned Alpha Vantage fan-out fixtures (README.md:327-361): the DAG
# loops companies x report_types, each GET returning {"symbol": ...,
# "annualReports": [...]}. Values are deterministic functions of the
# (symbol, report_type, metric, year) indices so the ingest oracle can
# re-derive them independently.
STATEMENT_COMPANIES = ["AAPL", "MSFT"]
STATEMENT_REPORT_TYPES = ["income_statement", "balance_sheet", "cash_flow"]
STATEMENT_YEARS = [2022, 2023]
STATEMENT_METRICS = {
    "income_statement": ["totalRevenue", "netIncome"],
    "balance_sheet": ["totalAssets", "totalLiabilities"],
    "cash_flow": ["operatingCashflow", "capitalExpenditures"],
}


def canned_statement_value(symbol: str, report_type: str, metric: str, year: int) -> float:
    si = STATEMENT_COMPANIES.index(symbol)
    ti = STATEMENT_REPORT_TYPES.index(report_type)
    mi = STATEMENT_METRICS[report_type].index(metric)
    return (si + 1) * 100000 + (ti + 1) * 10000 + (mi + 1) * 1000 + (year - 2021) * 100 + 0.25


def canned_statement_payload(symbol: str, report_type: str) -> dict:
    """One canned API response: Alpha Vantage returns every numeric as a
    string; fiscal year ends Dec 31."""
    return {
        "symbol": symbol,
        "annualReports": [
            {
                "fiscalDateEnding": f"{year}-12-31",
                "reportedCurrency": "USD",
                **{
                    m: str(canned_statement_value(symbol, report_type, m, year))
                    for m in STATEMENT_METRICS[report_type]
                },
            }
            for year in STATEMENT_YEARS
        ],
    }


def canned_statement_fetch(url: str) -> dict:
    """Offline FetchFn for fetch_statements: routes on the
    function=/symbol= query params the fan-out URL carries."""
    import re as _re

    fn = _re.search(r"function=([A-Z_]+)", url).group(1).lower()
    symbol = _re.search(r"symbol=([A-Za-z.]+)", url).group(1)
    return canned_statement_payload(symbol, fn)


@dataclass
class PipelineResult:
    raw_observations: DataFrame
    marts: dict[str, DataFrame] = field(default_factory=dict)


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    warehouse_dir: str | None = None,
    fetch_payloads: Callable[[], list[dict]] | None = None,
    on_complete: Callable[[PipelineResult], None] | None = None,
    on_failure: Callable[[BaseException], None] | None = None,
    retries: int = 0,
    retry_delay_s: float = 300.0,
    sleep: Callable[[float], None] | None = None,
) -> PipelineResult:
    """extract -> create/load raw -> transform (dbt-run analog).

    1. extract: REST payloads (injected or canned) -> JSON parse ->
       flatten -> ingest-timestamped raw observations (S1-S4, P4).
    2. load: fixture tables stand in for the warehouse's raw zone
       (S7/S10); registered as views so spark.sql sees them.
    3. transform: model registry builds staging views + mart tables in
       ref order (O3); marts persist under ``warehouse_dir`` when given
       and stay queryable via spark.sql (entry point 3).

    ``on_complete``/``on_failure`` are the O4 notification hooks — the
    reference appends an EmailOperator task (readme.md:309-318) and sets
    email_on_failure in default_args (dags/etl_dag.py); here any sender
    (SMTP, Slack webhook, ...) drops in as a callback, keeping the
    engine transport-agnostic. The failure callback observes the final
    exception, which still propagates; callback errors are swallowed so
    a broken notifier can never mask the original pipeline failure.

    ``retries``/``retry_delay_s`` mirror the reference DAG's
    default_args (dags/etl_dag.py:9: retries=1, retry_delay=5 min): a
    transient failure re-runs the whole idempotent chain after the
    delay. ``sleep`` is injectable for tests (defaults to time.sleep).
    """
    do_sleep = sleep if sleep is not None else time.sleep
    attempts = retries + 1
    for attempt in range(attempts):
        try:
            payloads = fetch_payloads() if fetch_payloads else [CANNED_FRED_PAYLOAD]
            raw = payloads_to_df(spark, payloads)
            observations = with_ingest_timestamp(flatten_observations(raw))
            observations.createOrReplaceTempView("raw_observations")

            sources = load_tables(spark, sf_dir)
            for name, df in sources.items():
                df.createOrReplaceTempView(name)

            marts = registry.run(spark, sources, warehouse_dir=warehouse_dir)
            result = PipelineResult(raw_observations=observations, marts=marts)
        except BaseException as exc:
            if attempt + 1 < attempts:
                do_sleep(retry_delay_s)
                continue
            if on_failure is not None:
                try:
                    on_failure(exc)
                except Exception:  # noqa: BLE001 — never mask the real failure
                    pass
            raise
        if on_complete is not None:
            on_complete(result)
        return result
    raise AssertionError("unreachable")  # pragma: no cover


def observe_quality(
    df,
    name: str = "dq",
    null_cols: tuple[str, ...] = (),
    bounds: dict[str, tuple[float, float]] | None = None,
):
    """Attach ZERO-COST data-quality counters to a DataFrame via
    ``Observation`` (reference parity: the Airflow DAG's post-load row
    checks, etl_dag.py's load step — but computed inside the SAME job
    that writes the data, not by a second scan).

    Metrics ride the existing action as accumulator-style aggregates:
    row count, per-column null counts, and min/max for bounded columns.
    At 100 TB a validation re-scan costs as much as the pipeline stage
    itself; ``observe`` makes the check free.

    Returns (df, observation); read ``observation.get`` AFTER the
    caller's first action on ``df``. Use :func:`check_quality` to turn
    the collected metrics into pass/fail assertions.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for c in null_cols:
        metrics.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}")
        )
    for c in (bounds or {}):
        metrics.append(F.min(c).alias(f"min_{c}"))
        metrics.append(F.max(c).alias(f"max_{c}"))
    return df.observe(obs, *metrics), obs


def check_quality(
    observation,
    min_rows: int = 1,
    max_null_fraction: float = 0.0,
    bounds: dict[str, tuple[float, float]] | None = None,
) -> dict:
    """Evaluate metrics collected by :func:`observe_quality` (call
    after an action). Raises ``ValueError`` listing every violated
    rule; returns the metric dict when clean."""
    m = observation.get
    problems = []
    if m["n_rows"] < min_rows:
        problems.append(f"n_rows={m['n_rows']} < min_rows={min_rows}")
    for k, v in m.items():
        if k.startswith("nulls_") and m["n_rows"]:
            frac = v / m["n_rows"]
            if frac > max_null_fraction:
                problems.append(f"{k}: null fraction {frac:.4f} > {max_null_fraction}")
    for c, (lo, hi) in (bounds or {}).items():
        if m[f"min_{c}"] is not None and m[f"min_{c}"] < lo:
            problems.append(f"min_{c}={m[f'min_{c}']} < {lo}")
        if m[f"max_{c}"] is not None and m[f"max_{c}"] > hi:
            problems.append(f"max_{c}={m[f'max_{c}']} > {hi}")
    if problems:
        raise ValueError("; ".join(problems))
    return m


def publish_validated(
    spark,
    df,
    path: str,
    *,
    null_cols: tuple[str, ...] = (),
    bounds: dict[str, tuple[float, float]] | None = None,
    min_rows: int = 1,
    max_null_fraction: float = 0.0,
) -> dict:
    """Write-audit-publish: stage the output, audit it with the write
    job's OWN Observation counters (:func:`observe_quality` — no
    second scan), and only then swap it into the live path with a
    rename. A failed audit raises, leaves the current live table
    untouched, and keeps the staged directory for inspection — bad
    data is never visible to readers, which is the entire point of WAP
    on a 100 TB nightly build.

    Publish uses ``operators.incremental.checked_swap`` — the
    rename-aside swap streaming state also uses
    (``streaming.merge.overwrite_state_dir``), with every Hadoop
    ``rename()`` boolean checked: live data survives (as
    ``<path>_wap_old``) until the staged files are in place, and the
    backup is never deleted after a failed rename. The unrecoverable
    window is the single staged->live rename after live was moved
    aside. Single-writer only; concurrent writers need a transactional
    table format.

    Returns the collected metric dict on success.
    """
    obs_df, obs = observe_quality(df, null_cols=null_cols, bounds=bounds)
    staged = path.rstrip("/") + "_wap_staged"
    obs_df.write.mode("overwrite").parquet(staged)  # the audited action
    metrics = check_quality(
        obs,
        min_rows=min_rows,
        max_null_fraction=max_null_fraction,
        bounds=bounds,
    )
    from finance_reporting_etl_spark.operators.incremental import checked_swap

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    live = HPath(path)
    fs = live.getFileSystem(conf)
    old = HPath(path.rstrip("/") + "_wap_old")
    checked_swap(fs, live, HPath(staged), old)
    return metrics
