"""Vector math over ``array<float|double>`` columns as pure Spark expressions.

No UDFs: ``zip_with`` + ``aggregate`` stay inside whole-stage codegen, so a
dot product over a 100 TB embedding table runs entirely JVM-side. Values are
accumulated in DOUBLE regardless of the storage dtype (embeddings are usually
float32 on disk; accumulating in float drifts and won't match an oracle).
"""

from __future__ import annotations

from typing import Union

from pyspark.sql import Column, functions as F


def _as_col(c: Union[str, Column]) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot_product(a: Union[str, Column], b: Union[str, Column]) -> Column:
    """Sequential-order double-precision dot product of two array columns."""
    a, b = _as_col(a), _as_col(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Union[str, Column]) -> Column:
    """Euclidean norm of an array column (double precision)."""
    a = _as_col(a)
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine_similarity(a: Union[str, Column], b: Union[str, Column]) -> Column:
    """Cosine similarity of two array columns (double precision)."""
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))
