"""Vector (embedding) column expressions.

Cosine/dot/norm over ``array<float>`` columns using built-in
higher-order functions (``zip_with`` + ``aggregate``) — JVM-side,
no Python round-trip, and exactly mirrored by DuckDB's
``list_dot_product`` for oracle parity. Elements are cast to double
first so both engines accumulate in float64.

For 100 TB-scale similarity search see ``operators/similarity.py``:
brute-force top-k is the correctness baseline; hyperplane-LSH
bucketing is the scale path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def as_double_array(v: Column | str) -> Column:
    return F.transform(_c(v), lambda x: x.cast("double"))


def dot(a: Column | str, b: Column | str) -> Column:
    """Sum over elementwise products, accumulated in float64."""
    prods = F.zip_with(as_double_array(a), as_double_array(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity with zero-norm guard (NULL when either is 0)."""
    return dot(a, b) / F.nullif(l2_norm(a) * l2_norm(b), F.lit(0.0))


def cosine_arrow():
    """Arrow-batched cosine for HIGH-VOLUME pair scoring that is
    BIT-IDENTICAL to the Catalyst ``cosine`` above (returns a
    pandas_udf(double)). The Catalyst form runs three interpreted array
    passes per row (dot + two norms) — fine for oracle-sized inputs,
    ~10x too slow for millions of LSH candidate pairs.

    Dot and both squared norms accumulate as an EXPLICIT loop over
    dimensions (sequential in i, vectorized over rows), so every
    partial sum is the same IEEE add in the same order as
    ``F.aggregate``'s left fold AND DuckDB's ``list_dot_product``; an
    einsum/BLAS sum can differ by ~1 ulp, enough to flip an
    integer-micro threshold at a rounding boundary. Zero-norm pairs ->
    SQL NULL via pandas' nullable Float64 (a float NaN would NOT become
    NULL: Spark sorts NaN ABOVE every number, so a zero vector would
    outrank every true neighbor and pass >= threshold filters — r5
    review), matching the Catalyst twin's nullif guard exactly.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        # (dim, rows): each dimension is one contiguous row to stream
        ma = np.stack(a.to_numpy(), axis=1).astype(np.float64)
        mb = np.stack(b.to_numpy(), axis=1).astype(np.float64)
        n = ma.shape[1]
        acc = np.zeros(n)
        na = np.zeros(n)
        nb = np.zeros(n)
        for x, y in zip(ma, mb):
            acc += x * y
            na += x * x
            nb += y * y
        den = np.sqrt(na) * np.sqrt(nb)
        with np.errstate(divide="ignore", invalid="ignore"):
            vals = acc / den
        out = pd.array(vals, dtype="Float64")
        out[den == 0.0] = pd.NA
        return pd.Series(out, dtype="Float64")

    return cos
