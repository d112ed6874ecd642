"""Embedding-vector math over array<float> columns.

Two tiers (SURVEY.md §2.B multimodal/similarity):

- ``dot``/``cosine``: plain double fold — the fast path (whole-stage
  codegen, SIMD-friendly) for production similarity search.
- ``dot_exact``: folds through DECIMAL(38,18) so the sum is exact and
  therefore independent of accumulation order — bit-identical between
  Spark and the DuckDB oracle. Used only by correctness queries; the
  extra cast cost is irrelevant at oracle scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_DEC = "decimal(38,18)"


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double (fast path)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_exact(a: Column, b: Column) -> Column:
    """Order-independent exact dot product, returned as double.

    The merge re-casts to the accumulator type: Spark widens
    decimal+decimal to precision+1, which must be folded back for the
    lambda to typecheck (the values are ≪1, so the cast never rounds).
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") * y.cast("double")).cast(_DEC)),
        F.lit(0).cast(_DEC),
        lambda acc, v: (acc + v).cast(_DEC),
    ).cast("double")


def norm_exact(a: Column) -> Column:
    return F.sqrt(dot_exact(a, a))


def cosine_exact(a: Column, b: Column) -> Column:
    return dot_exact(a, b) / (norm_exact(a) * norm_exact(b))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))
