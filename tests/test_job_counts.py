"""Spark job-count pins at sf0.001.

Job counts do not change from run to run while wall time does, so they
pin the driver-side cost of an op. Each op runs in its own job group;
none of them streams, so the group sees every job the op starts. A count
below its pin passes; a count above it fails until the pin is raised in
the same change that raised the count.
"""

from __future__ import annotations

import itertools

import pytest

from finance_reporting_etl_spark.tables import TABLES, _read_parquet

_GROUPS = itertools.count()

# the report_mix ops of perfbench: each query plus its noop write
QUERY_JOB_PINS = {
    "mart_financial_summary": 2,
    "q1_pricing_summary": 2,
    "q3_top_orders": 4,
    "sessionize_events": 2,
    "cohort_retention": 5,
    "lsh_embedding_cosine_dups": 5,
}
PIPELINE_JOB_PIN = 12


def _jobs(spark, action) -> int:
    sc = spark.sparkContext
    group = f"job-count-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", TABLES)
def test_fixture_read_runs_no_job(spark, sf_dir, name):
    assert _jobs(spark, lambda: _read_parquet(spark, f"{sf_dir}/{name}.parquet")) == 0


@pytest.mark.parametrize("name", sorted(QUERY_JOB_PINS))
def test_query_job_count_at_or_under_pin(spark, sf_dir, name):
    from finance_reporting_etl_spark.queries import CATALOG

    def op():
        df = CATALOG[name].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()

    assert _jobs(spark, op) <= QUERY_JOB_PINS[name]


def test_run_pipeline_job_count_at_or_under_pin(spark, sf_dir, tmp_path):
    from finance_reporting_etl_spark.pipeline import run_pipeline

    n = _jobs(spark, lambda: run_pipeline(spark, sf_dir, warehouse_dir=str(tmp_path)))
    assert n <= PIPELINE_JOB_PIN
