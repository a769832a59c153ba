"""Time a named subset of catalog queries with the bench methodology
(bench.time_queries: noop sink, interleaved passes, best time per
query) — the measure/re-measure loop of the optimization round without
paying for the full catalog. To tell plan drift from box drift, list an
unchanged sibling first and compare against it: ``-n3 <sibling>
<drifter ...>``.

Usage: python tools/bench_subset.py [-nPASSES] name [name ...]
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from finance_reporting_etl_spark.runs import start_run  # noqa: E402

start_run("bsub")

from bench import time_queries  # noqa: E402
from finance_reporting_etl_spark.queries import CATALOG  # noqa: E402
from finance_reporting_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    passes = 2
    if args and args[0].startswith("-n"):
        passes = int(args[0][2:])
        args = args[1:]
    if passes < 1:
        raise SystemExit("bench_subset: passes must be >= 1")
    unknown = [n for n in args if n not in CATALOG]
    if unknown or not args:
        raise SystemExit(f"bench_subset: unknown/missing queries {unknown}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="bench-subset")
    spark.range(1).count()
    best, errors, _ = time_queries(spark, sf_dir, args, passes)
    out = {n: round(best[n], 3) for n in args if n in best}
    out["_total"] = round(sum(out.values()), 3)
    print(json.dumps(out))
    if errors:
        raise SystemExit(f"bench_subset: errors {json.dumps(errors)}")


if __name__ == "__main__":
    main()
