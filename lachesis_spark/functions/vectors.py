"""Vector math over ``array<float/double>`` columns — JVM-side expressions.

The similarity-search operators need dot products, norms, and cosine over an
embedding column.  ``F.zip_with`` + ``F.aggregate`` keep the arithmetic in
codegen; a Pandas-UDF path exists in llm.similarity for batch-BLAS when the
dimensionality makes expression trees slow (the crossover is ~1k dims).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def scale(a: Column, s: Column | float) -> Column:
    sc = F.lit(s) if isinstance(s, float) else s
    return F.transform(a, lambda x: x * sc)


def add(a: Column, b: Column) -> Column:
    return F.zip_with(a, b, lambda x, y: x + y)
