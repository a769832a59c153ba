"""Record the pinned output digests in ``perfbench/pins.json``.

    python3 perfbench/record_pins.py [--sf 0.01]

Runs every op of every workload twice in checked form, in one session on
the generated fixtures, and refuses to pin an output whose two digests
differ. Each catalog query is also compared with its DuckDB oracle in
``oracles.py`` (row count, schema, order-insensitive values); each mart
the nightly refresh persists is compared with the catalog query of the
same model, which is itself oracle-checked. Exits 1 without writing when
any check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from perfbench.run import WORK, cores, driver_memory  # noqa: E402

# refresh digest key -> catalog query that builds the same model
REFRESH_TWINS = {
    "refresh:mart_financial_kpis": "mart_financial_kpis",
    "refresh:mart_indicator_stats": "indicator_stats",
    "refresh:published": "mart_financial_summary",
}


def _norm(p):
    import pandas as pd

    p = p[sorted(p.columns)].copy()
    for c in p.columns:
        s = p[c]
        if pd.api.types.is_float_dtype(s):
            p[c] = s.round(5)
        elif pd.api.types.is_datetime64_any_dtype(s):
            p[c] = s.astype("datetime64[us]").astype(str)
        elif s.dtype == object:
            p[c] = s.map(lambda v: str(v) if v is not None else None)
    return p.sort_values(by=list(p.columns), kind="mergesort").reset_index(drop=True)


def oracle_problem(spark, con, name: str, sf_dir: str, aux_from: str, aux_to: str) -> str | None:
    """None when ``name`` matches its oracle (or has none), else why not."""
    import pandas as pd

    from finance_reporting_etl_spark.queries import CATALOG

    entry = CATALOG[name]
    if entry.oracle is None:
        return None
    got = _norm(entry.fn(spark, sf_dir).toPandas())
    want = _norm(con.execute(entry.oracle.replace(aux_from, aux_to)).df())
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return f"shape {list(got.columns)}/{len(got)} != {list(want.columns)}/{len(want)}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, rtol=1e-5, atol=1e-5)
    except AssertionError as e:
        return str(e)[:300]
    return None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", type=float, default=0.01)
    args = ap.parse_args()
    sf = f"sf{args.sf:g}"
    sf_dir = datagen.generate(os.path.join(WORK, "data", sf), args.sf)
    scratch = os.path.join(WORK, "runs", f"pins-{os.getpid()}")
    os.makedirs(os.path.join(scratch, "tmp"))
    os.environ.update({
        "SPARK_GRAFT_RUN_ID": f"pins-{os.getpid()}", "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_DRIVER_MEMORY": driver_memory(), "TMPDIR": os.path.join(scratch, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "local"), "PYTHONPATH": ROOT,
    })
    os.chdir(scratch)
    try:
        return record(sf, sf_dir, scratch)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(scratch, ignore_errors=True)


def record(sf: str, sf_dir: str, scratch: str) -> int:
    import duckdb

    from perfbench.digest import digest
    from perfbench.worker import setup
    from perfbench.workloads import WORKLOADS, Context, QueryOp

    from finance_reporting_etl_spark import oracles

    aux_from = oracles._AUX_DIR
    spark, _, _ = setup({"workload": "pins", "work_dir": scratch})
    aux_to = oracles._AUX_DIR
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    ctx = Context(spark, sf_dir, scratch, seed=0)
    pins: dict[str, str] = {}
    problems: list[str] = []
    for workload, make_ops in sorted(WORKLOADS.items()):
        for op in make_ops():
            first = op.run(ctx, check=True)[1]
            second = op.run(ctx, check=True)[1]
            for key, value in first.items():
                if second[key] != value:
                    problems.append(f"{key}: not repeatable {value} vs {second[key]}")
                pins[key] = value
                print(f"{workload:16s} {key:40s} {value}", flush=True)
            if isinstance(op, QueryOp):
                why = oracle_problem(spark, con, op.name, sf_dir, aux_from, aux_to)
                if why:
                    problems.append(f"{op.name}: oracle mismatch: {why}")
    from finance_reporting_etl_spark.queries import CATALOG

    for key, twin in REFRESH_TWINS.items():
        want = digest(CATALOG[twin].fn(spark, sf_dir))
        if pins.get(key) != want:
            problems.append(f"{key}: {pins.get(key)} != catalog {twin} {want}")
    if pins.get("refresh:raw_observations") != "ok":
        problems.append(f"refresh:raw_observations: {pins.get('refresh:raw_observations')}")
    spark.stop()
    if problems:
        print("\n".join(problems), file=sys.stderr)
        return 1
    path = os.path.join(HERE, "pins.json")
    try:
        with open(path) as f:
            all_pins = json.load(f)
    except FileNotFoundError:
        all_pins = {}
    all_pins[sf] = dict(sorted(pins.items()))
    with open(path, "w") as f:
        json.dump(all_pins, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"pinned {len(pins)} digests for {sf} in {os.path.relpath(path, ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
