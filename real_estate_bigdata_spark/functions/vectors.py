"""Embedding-vector math over ``array<float|double>`` columns.

Pure Column expressions (``zip_with`` / ``aggregate``) so similarity
scoring stays JVM-side and codegen-fused — no Arrow crossing per row.
All math is done in double after an explicit cast, summed left-to-right,
which keeps results deterministic and oracle-comparable.

The reference has no vector ops (north-star surface, SURVEY §2 ABSENT
categories); semantics follow standard definitions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["dot", "l2_norm", "cosine_similarity", "cosine_from_norms"]


def _as_double(v: Column) -> Column:
    return v.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_as_double(a), F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """dot(a,b) / (||a|| * ||b||); NULL if either norm is zero."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom != 0.0, dot(a, b) / denom)


def cosine_from_norms(
    v_a: Column, v_b: Column, n_a: Column, n_b: Column, decimals: int = 6
) -> Column:
    """Round-``decimals`` cosine with PRE-COMPUTED norms; NULL if either
    norm is zero. The one definition every pairwise-scoring operator
    shares (dedup near-dup, brute-force/LSH top-k) — the hoisted-norm
    arithmetic is bit-identical to ``cosine_similarity`` and the oracle
    pins its rounding, so it must not fork per call site.
    """
    return F.round(F.when(n_a * n_b != 0.0, dot(v_a, v_b) / (n_a * n_b)), decimals)
