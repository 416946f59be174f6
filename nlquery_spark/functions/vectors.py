"""Vector column functions over array<float|double> embeddings.

JVM-side (`zip_with` + `aggregate`) so similarity expressions stay in
whole-stage codegen — no Python worker, no Arrow transfer. These are
the cheap per-row expressions (single-pair scoring, norm
precomputation, re-ranking inside an already-blocked candidate set).

Everything is computed in double regardless of the stored element type:
float32 accumulation order would otherwise make results differ between
engines/partitionings at ~1e-4.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two equal-length numeric arrays (double)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(v: Column) -> Column:
    return F.sqrt(dot(v, v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(a, b) / denom)
