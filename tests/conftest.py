from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# Isolate this pytest run's oracle_aux and bkt_* tables from any
# concurrently running gate/bench process; removed at exit. Must run
# before anything imports queries/oracles, which read the run id once.
from finance_reporting_etl_spark.runs import start_run  # noqa: E402

start_run("pytest")

from tests.oracle_util import duck_views  # noqa: E402

# Derandomize Hypothesis so the suite is deterministic on ANY box: the
# r14 driver run drew a twap rounding-tie example the builder's three
# green runs never drew. Examples are now derived from each test's
# structure, not a per-run seed; known tie cases are pinned with
# @example so they stay covered regardless.
from hypothesis import settings as _hyp_settings  # noqa: E402

_hyp_settings.register_profile("deterministic", derandomize=True)
_hyp_settings.load_profile("deterministic")


SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from finance_reporting_etl_spark.session import get_spark

    spark = get_spark(app_name="tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def duck():
    con = duck_views(SF_SMOKE)
    yield con
    con.close()


@pytest.fixture(scope="session")
def duck_oracle():
    """DuckDB views over SF_ORACLE (sf0.01) — the driver's gate scale.
    Used by the gate-window exact-compare test; the three r7 driver
    hash failures were invisible at sf0.001."""
    con = duck_views(SF_ORACLE)
    yield con
    con.close()
