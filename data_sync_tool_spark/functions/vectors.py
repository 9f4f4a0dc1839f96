"""Vector expressions over ``array<float>`` embedding columns.

Built-in higher-order functions (``aggregate``/``zip_with``) keep the math
JVM-side for per-row expressions (SRP bucket ids, SemDeDup marginality,
the reference plans tests compare against). Top-k search does not use
them: ``operators.similarity._block_topk`` replicates these folds in numpy,
double for double.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def cosine_prenormed(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine`` with the per-vector norms precomputed as scalar columns.

    HOF aggregates dominate pair-scoring cost (3 per pair: dot + 2 norms);
    attaching each side's norm ONCE per row before a candidate join leaves 1
    aggregate per pair. Bit-identical to ``cosine``: ``na``/``nb`` are the
    same ``norm`` expression evaluated on the same arrays, and the guard /
    division are unchanged."""
    d = na * nb
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))
