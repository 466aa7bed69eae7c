"""Vector math over ``array<float>`` columns — builtin-function only.

The reference's linear algebra works on dask arrays (daxos/deconfound.py,
daxos/crossvalidate.py); here vectors live in rows as ``array<float>``
and every op is a Catalyst expression (zip_with / aggregate / transform),
vectorized JVM-side. Doubles are used for accumulation: float32 inputs
are promoted element-wise first so results are reproducible and
oracle-comparable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double(vec: Column) -> Column:
    """Promote array<float> → array<double> (deterministic accumulation)."""
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two numeric arrays, accumulated left-to-right in double."""
    return F.aggregate(
        F.zip_with(to_double(a), to_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL-safe on zero vectors (returns NULL)."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def vec_sub(x: Column, y: Column) -> Column:
    return F.zip_with(to_double(x), to_double(y), lambda xi, yi: xi - yi)
