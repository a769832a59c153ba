"""Local replica of the driver's Spark-vs-DuckDB oracle compare.

Order-insensitive: both results are converted to pandas, columns sorted
by name, rows sorted by all columns, values normalized (floats rounded,
timestamps to ISO strings) and compared. This lets tests catch
schema/value drift before the driver's CORRECTNESS gate does.

Dtype-strict on numeric class: integer widths are normalized (int8..64
all become int64), but an integer column on one side vs a float column
on the other FAILS even when the values are numerically equal. The
driver's value hash is type-sensitive, and DuckDB renders HUGEINT /
DECIMAL aggregates (e.g. an uncast ``sum(<integer>)``) as float64 in
pandas while Spark returns int64 — exactly the drift this catches at
sf0.001 before the driver gate sees it.
"""

from __future__ import annotations

import math

import pandas as pd


def _dtype_class(s: pd.Series) -> str:
    """Coarse numeric class used for the strict dtype compare."""
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    return "other"


def _normalize(df: pd.DataFrame, exact_floats: bool = False) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_integer_dtype(s):
            # Normalize width only — int32 vs int64 is not hash drift.
            df[c] = s.astype("int64" if not s.isna().any() else "Int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
            if not exact_floats:
                df[c] = df[c].round(6)
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype(str)
        elif s.dtype == object:
            df[c] = s.map(
                lambda v: (v if exact_floats else round(v, 6))
                if isinstance(v, float) and not math.isnan(v)
                else (str(v) if v is not None else None)
            )
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def duck_views(sf_dir: str):
    """A DuckDB connection with one view per fixture table in ``sf_dir``."""
    import duckdb

    from finance_reporting_etl_spark.tables import TABLES

    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
    return con


def assert_matches_oracle(
    spark_df, duck_con, oracle_sql: str, exact_floats: bool = False
) -> None:
    """``exact_floats=True`` disables the 6-dp float re-rounding so
    sub-ulp engine drift is VISIBLE — the driver's value hash is exact
    on rendered values, and the three r7 gate failures were invisible
    to the rounded compare (VERDICT r7 task 5)."""
    got_raw = spark_df.toPandas()
    want_raw = duck_con.execute(oracle_sql).df()
    got = _normalize(got_raw, exact_floats=exact_floats)
    want = _normalize(want_raw, exact_floats=exact_floats)
    assert list(got.columns) == list(want.columns), (
        f"column mismatch: spark={list(got.columns)} oracle={list(want.columns)}"
    )
    for c in got.columns:
        gk, wk = _dtype_class(got[c]), _dtype_class(want[c])
        assert gk == wk, (
            f"dtype-class mismatch on {c!r}: spark={gk}({got_raw[c].dtype}) "
            f"oracle={wk}({want_raw[c].dtype}) — the driver hash is type-sensitive; "
            f"CAST the oracle (or the Spark column) so both sides agree"
        )
    assert len(got) == len(want), f"row count: spark={len(got)} oracle={len(want)}"
    if exact_floats:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    else:
        pd.testing.assert_frame_equal(
            got, want, check_dtype=False, check_exact=False, rtol=1e-6, atol=1e-6
        )
