"""Vector-similarity expression library (engine additions — "similarity
search" per the task brief).

Everything is built-in ``pyspark.sql.functions`` higher-order functions
(``zip_with``/``aggregate``) over ``array<float>`` columns — JVM-side, no
Python in the hot path.  Dot products accumulate left-to-right in double,
matching DuckDB's sequential list fold for oracle comparison (scores are
rounded before hashing anyway).
"""
from __future__ import annotations

import math
import random
from typing import List, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast('double') * y.cast('double')),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def unit(a: Column) -> Column:
    """Vector scaled to unit L2 length (doubles).

    The cosine-at-scale primitive: normalize each JOIN SIDE once, and the
    per-candidate-pair cosine collapses to a single dot product — a 3×
    FLOP cut in the stage that dominates blocked kNN/near-dup verify
    (``cosine(a, b)`` recomputes both self-dots per pair).  Bit-exactly
    mirrorable in DuckDB (same left-to-right fold, IEEE sqrt/divide), so
    prenormalized operators stay oracle-hashable.

    The norm enters the lambda as a second array rather than as a captured
    column: Spark does no common-subexpression elimination inside lambdas,
    so ``transform(a, x -> x / norm(a))`` would recompute the norm for
    every element (O(dim²) per row).  ``array_repeat`` evaluates it once
    per row; null and empty arrays give null and empty results as before."""
    return F.zip_with(a, F.array_repeat(norm(a), F.size(a)), lambda x, n: x.cast('double') / n)


def hyperplanes(n_planes: int, dim: int, seed: int = 42) -> List[List[float]]:
    """Deterministic random hyperplanes for sign-LSH.  Plain seeded PRNG at
    plan-construction time (driver-side) — the SAME constants are embedded
    into the DuckDB oracle SQL, so both engines bucket identically."""
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)]
        for _ in range(n_planes)
    ]


def lsh_bucket(vec: Column, planes: Sequence[Sequence[float]]) -> Column:
    """Sign-LSH bucket id: bit i = (vec · plane_i) > 0."""
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        bucket = bucket + F.when(dot(vec, p) > 0, F.lit(2 ** i)).otherwise(F.lit(0))
    return bucket


def plane_sql_literal(plane: Sequence[float]) -> str:
    """Render one hyperplane as a DuckDB list literal (full float repr so
    both engines see bit-identical constants)."""
    return '[' + ', '.join(repr(float(x)) for x in plane) + ']'


def ivf_cell(vec: Column, centroids: Sequence[Sequence[float]], ndigits: int = 6) -> Column:
    """IVF coarse-quantizer cell id: argmax over centroid dot products
    (0-based; first max wins on ties).  Dots are rounded to ``ndigits`` so
    Spark and the DuckDB oracle resolve near-ties identically.

    Centroids here are deterministic seeded vectors (``hyperplanes``) —
    a random-projection quantizer; at real scale you'd train them with
    k-means and broadcast, the assignment expression is unchanged."""
    scores = F.array(*[F.round(dot(vec, F.array(*[F.lit(float(x)) for x in c])), ndigits)
                       for c in centroids])
    return (F.array_position(scores, F.array_max(scores)) - 1).cast('int')
