"""Vector math over array<float> embedding columns — pure column expressions.

Dot products and norms are left folds via ``aggregate``/``zip_with`` (JVM
higher-order functions): sequential within a row (deterministic float order,
so results are bit-reproducible across engines) and parallel across rows.
For very wide vectors a Pandas UDF with numpy can win on constant factors;
at 64-256 dims the codegen'd fold is faster than the Arrow round-trip.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ a_i * b_i as double (elements cast per-pair before multiply)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def infer_dim(df, col_name: str) -> int:
    """Embedding dimensionality from the first row (one tiny job at plan
    time; the dimension is a corpus constant so this never varies by row).

    Measured note: unrolling the fold into a ``dim``-term expression chain
    was tried and is SLOWER than the interpreted HOF fold at dim=64 (the
    giant expression tree exceeds codegen thresholds and falls back to a
    worse interpreter) — keep the fold; hoist norms out of pair loops
    instead (see operators/dedup.py)."""
    row = df.select(F.size(F.col(col_name)).alias("d")).first()
    return int(row["d"]) if row is not None else 0


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))
