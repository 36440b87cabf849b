"""Vector expression helpers over ``array<float|double>`` columns.

All JVM-side Catalyst expressions (zip_with / aggregate / transform) —
no Python in the hot path. Elements are cast to double before
arithmetic so accumulation is IEEE-double and deterministic
(sequential left-to-right over the array).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(as_double(a), as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(as_double(a), F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def quantize_scale(v: Column) -> Column:
    """Per-vector symmetric int8 scale: 127 / max|x| (guarded against
    all-zero vectors)."""
    return F.lit(127.0) / F.greatest(
        F.array_max(F.transform(as_double(v), lambda x: F.abs(x))), F.lit(1e-12)
    )


def quantize_int8(v: Column, scale: Column | None = None) -> Column:
    """Symmetric int8 quantization: floor(x*scale + 0.5) — the explicit
    engine-portable round-half-up (identical IEEE ops in Spark and any
    ANSI engine, no aggregation-order dependence). Values land in
    [-127, 127]: |x*scale| <= 127, and floor(127.5) = 127,
    floor(-126.5) = -127."""
    s = scale if scale is not None else quantize_scale(v)
    return F.transform(as_double(v), lambda x: F.floor(x * s + F.lit(0.5)).cast("int"))


def dequantize_int8(q: Column, scale: Column) -> Column:
    """Inverse of quantize_int8 (max abs error 0.5/scale per element)."""
    return F.transform(q, lambda x: x.cast("double") / scale)
