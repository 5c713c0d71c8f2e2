"""Vector primitives over embedding columns (array<float>): JVM-side
array higher-order functions (zip_with + aggregate), no Python.

Floats are cast to double BEFORE multiplication so results are reproducible
across engines to ~1e-15 (float32 accumulation differs at ~1e-7, which would
break oracle hash-matching even after rounding).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double_vec(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product — deterministic summation order."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))
