"""Order-independent output digest: row count plus a wrapping 64-bit sum
of a per-row hash.

Rows are hashed with Spark's ``xxhash64`` over the columns in name order.
Floating-point values are first printed with 10 significant digits
(``%.9e``), so a result whose last bits depend on summation order still
digests the same; ``-0.0`` prints as ``0.0``. The sum is taken in two
32-bit halves, so it never overflows under ANSI arithmetic, and joined
modulo 2**64 on the driver.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_FLOATS = (T.FloatType, T.DoubleType)


def _has_float(dt: T.DataType) -> bool:
    if isinstance(dt, _FLOATS):
        return True
    if isinstance(dt, T.ArrayType):
        return _has_float(dt.elementType)
    if isinstance(dt, T.MapType):
        return _has_float(dt.keyType) or _has_float(dt.valueType)
    if isinstance(dt, T.StructType):
        return any(_has_float(f.dataType) for f in dt.fields)
    return False


def _canon(c: Column, dt: T.DataType) -> Column:
    if isinstance(dt, _FLOATS):
        return F.format_string("%.9e", c.cast("double") + F.lit(0.0))
    if isinstance(dt, T.ArrayType) and _has_float(dt):
        return F.transform(c, lambda x: _canon(x, dt.elementType))
    if isinstance(dt, T.StructType) and _has_float(dt):
        return F.struct(*[
            _canon(c.getField(f.name), f.dataType).alias(f.name) for f in dt.fields
        ])
    if isinstance(dt, T.MapType) and _has_float(dt):
        return F.transform_values(c, lambda _k, v: _canon(v, dt.valueType))
    return c


def digest(df: DataFrame) -> str:
    """``"<rows>:<16 hex digits>"`` for ``df``; one Spark job."""
    fields = sorted(df.schema.fields, key=lambda f: f.name)
    cols = [_canon(F.col(f"`{f.name}`"), f.dataType) for f in fields]
    h = F.xxhash64(*cols) if cols else F.lit(0).cast("long")
    row = (
        df.select(h.alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo"),
            F.sum(F.shiftright(F.col("h"), 32)).alias("hi"),
        )
        .collect()[0]
    )
    total = ((row["lo"] or 0) + ((row["hi"] or 0) << 32)) % (1 << 64)
    names = hashlib.sha1(",".join(f.name for f in fields).encode()).hexdigest()[:4]
    return f"{row['n']}:{total:016x}:{names}"
