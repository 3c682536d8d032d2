"""The blocked-pair contract shared by the near-dup, kNN, containment and
co-usage operators: build a blocking key, self-join within each block, and
keep hot blocks out of that self-join.

A block of k rows emits k² candidate rows, so one hot key (a stopword
shingle, a degenerate LSH bucket, a conversation touching every tool) is
a quadratic blowup.  Every capped operator decides "hot" here and nowhere
else: a key is hot iff it has MORE than ``max_rows`` rows, counted with
``count(*)`` over the frame the operator passes in; a block of exactly
``max_rows`` rows still pairs.  A falsy cap (``None`` or ``0``) means no
guard.

The drop is an anti-join against the HOT list, broadcast-hinted: the hot
list is small by construction (few keys can each hold more than the cap),
while the keep list is nearly every key.  ``left_anti`` keeps null-key
rows; every caller's key is non-null (LSH bucket ints, MinHash bucket
strings, winnowing hashes, conversation ids feeding an equi-join that
drops nulls anyway).

``hamming1`` is the multi-probe expansion of a sign-LSH bucket: one join
side explodes to its bucket and the ``bits`` buckets one bit-flip away, so
a pair split by exactly one hyperplane still meets in an equi-join.

``cosine_block_pairs`` is the embedding block join itself: the directed
within-block self-join of prenormalized vectors with its one-dot cosine,
shared by the kNN graph, the LSH near-dup pairs and SemDeDup.
"""
from __future__ import annotations

from typing import List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.similarity import dot


def hot_keys(df: DataFrame, key: str, max_rows: int) -> DataFrame:
    """DataFrame[key, count] of every ``key`` value with more than
    ``max_rows`` rows in ``df``."""
    return df.groupBy(key).count().filter(F.col('count') > max_rows)


def drop_hot_keys(df: DataFrame, key: str, max_rows: Optional[int]) -> DataFrame:
    """``df`` without the rows of its hot keys; ``df`` itself when
    ``max_rows`` is falsy."""
    if not max_rows:
        return df
    return df.join(F.broadcast(hot_keys(df, key, max_rows).select(key)), key, 'left_anti')


def hamming1(col: Column, bits: int) -> Column:
    """``array(col, col ^ 1, col ^ 2, …, col ^ 2^(bits-1))``: the bucket
    and its Hamming-distance-1 neighbours."""
    return F.array(col, *[col.bitwiseXOR(F.lit(1 << i)) for i in range(bits)])


def cosine_block_pairs(side: DataFrame, keys: List[str], bits: Optional[int] = None) -> DataFrame:
    """DataFrame[id, nbr, cos]: every directed pair of distinct rows of
    ``side`` (DataFrame[id, v, *keys], ``v`` unit-length — see
    ``functions.similarity.unit``) that share all ``keys``, with
    ``cos = round(v_id · v_nbr, 6)``.  With ``bits`` the neighbour side
    explodes its last key to ``hamming1`` probes, so ``id`` meets ``nbr``
    iff its key is within one bit-flip of ``nbr``'s — a symmetric
    predicate, and each pair arises from exactly one probe match."""
    a = side.select('id', F.col('v').alias('va'), *keys)
    b_src = side
    if bits:
        b_src = side.select(
            'id', 'v', *keys[:-1], F.explode(hamming1(F.col(keys[-1]), bits)).alias(keys[-1])
        )
    b = b_src.select(F.col('id').alias('nbr'), F.col('v').alias('vb'), *keys)
    return (
        a.join(b, keys)
        .filter(F.col('id') != F.col('nbr'))
        .select('id', 'nbr', F.round(dot(F.col('va'), F.col('vb')), 6).alias('cos'))
    )
