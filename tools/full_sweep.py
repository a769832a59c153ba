"""Exact-oracle sweep at one SF (default sf0.1): every catalog query,
or only the named ones, against its DuckDB oracle with the float
re-rounding off (the gate-window harness). Prints one line per query
and a final census; exits 1 on any failure.

    SPARK_GRAFT_SWEEP_SF=/root/testdata/sf0.1 python tools/full_sweep.py [name ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from finance_reporting_etl_spark.runs import start_run  # noqa: E402

# Isolate this sweep's oracle_aux / bucketed tables from concurrent
# gate/bench/pytest processes (the r13 freeze sweep recorded one false
# 401/402 from exactly this race).
start_run("sweep")

from finance_reporting_etl_spark.queries import CATALOG  # noqa: E402
from finance_reporting_etl_spark.session import get_spark  # noqa: E402
from tests.oracle_util import assert_matches_oracle, duck_views  # noqa: E402


def main() -> int:
    sf = os.environ.get("SPARK_GRAFT_SWEEP_SF", "/root/testdata/sf0.1")
    names = sys.argv[1:] or list(CATALOG)
    unknown = [n for n in names if n not in CATALOG]
    if unknown:
        raise SystemExit(f"full_sweep: unknown queries {unknown}")
    spark = get_spark(app_name="full_sweep", shuffle_partitions=32)
    con = duck_views(sf)
    fails: list[str] = []
    t0 = time.monotonic()
    for i, name in enumerate(names):
        e = CATALOG[name]
        try:
            assert_matches_oracle(e.fn(spark, sf), con, e.oracle, exact_floats=True)
            print(f"ok   {i + 1:3d}/{len(names)} {name}", flush=True)
        except Exception as ex:  # noqa: BLE001
            fails.append(name)
            print(f"FAIL {i + 1:3d}/{len(names)} {name}: {str(ex)[:300]}", flush=True)
    dt = time.monotonic() - t0
    print(f"SWEEP {len(names) - len(fails)}/{len(names)} exact at {sf}"
          f" in {dt:.0f}s; fails={fails}")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
