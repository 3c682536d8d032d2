"""Block-level boilerplate dedup (operators/dedup.py:block_dedup) and the
ORC branch of the table-format seam — crafted inputs where every rule
(cross-doc drop, within-doc preserve, full strip, trailing partial block)
is present by construction."""
from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import functions as F

from dgraphpandas_spark.operators.dedup import block_dedup
from dgraphpandas_spark.sources.table_format import is_path, read_table


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def test_block_dedup_rules(spark):
    df = spark.createDataFrame(
        [
            (1, 'a b c d x y'),    # shares blocks [a b] [c d] with doc 2
            (2, 'a b c d q r'),
            (3, 'zz ww'),          # untouched
            (4, 'p q p q'),        # within-doc repeat — must survive
            (5, 'a b c d'),        # fully boilerplate — stripped to ''
        ],
        'doc_id int, text string',
    )
    out = {
        r['doc_id']: (r['n_blocks'], r['n_kept'], r['clean_fp'])
        for r in block_dedup(df, block=2, max_docs=1).collect()
    }
    assert out[1] == (3, 1, _md5('x y'))
    assert out[2] == (3, 1, _md5('q r'))
    assert out[3] == (1, 1, _md5('zz ww'))
    assert out[4] == (2, 2, _md5('p q p q'))   # self-repeat is NOT boilerplate
    assert out[5] == (2, 0, _md5(''))          # fully-stripped doc stays visible


def test_block_dedup_trailing_partial_block_and_order(spark):
    # 5 tokens at block=2 → blocks [a b] [c d] [e]; dropping the middle
    # block must keep original order of the survivors
    df = spark.createDataFrame(
        [(1, 'a b c d e'), (2, 'x x c d y')], 'doc_id int, text string'
    )
    out = {
        r['doc_id']: (r['n_blocks'], r['n_kept'], r['clean_fp'])
        for r in block_dedup(df, block=2, max_docs=1).collect()
    }
    assert out[1] == (3, 2, _md5('a b e'))
    assert out[2] == (3, 2, _md5('x x y'))


def test_dup_spans_coverage_math(spark):
    """dup_spans (Lee et al. exact-substring dedup): hand-computed span
    coverage — shared grams at ANY offset mark both docs, overlapping dup
    grams merge (8+Σmin(n,gap) fold), clean docs report 0/0.0."""
    from dgraphpandas_spark.operators.dedup import dup_spans

    df = spark.createDataFrame(
        [
            (1, 'a b c d e'),      # shares 'a b c' with doc 2 at offset 1
            (2, 'q a b c r'),      # ... at offset 2 (unaligned)
            (3, 'u v w1 w2'),      # clean
            (4, 'x y z w t'),      # two OVERLAPPING dup grams with doc 5
            (5, 'p x y z w'),
        ],
        'doc_id int, text string',
    )
    out = {
        r['id']: (r['n_tokens'], r['n_dup_tokens'], r['dup_frac'])
        for r in dup_spans(df, n=3).collect()
    }
    assert out[1] == (5, 3, 0.6)
    assert out[2] == (5, 3, 0.6)
    assert out[3] == (4, 0, 0.0)
    # 'x y z'@1 + 'y z w'@2 overlap → covered = 3 + min(3, 1) = 4
    assert out[4] == (5, 4, 0.8)
    assert out[5] == (5, 4, 0.8)
    # adjacent non-overlapping dup grams: gap = n → covered = 2n exactly
    df2 = spark.createDataFrame(
        [(1, 'a b c x y z t'), (2, 'a b c q1 q2 x y z')], 'doc_id int, text string'
    )
    o2 = {r['id']: r['n_dup_tokens'] for r in dup_spans(df2, n=3).collect()}
    assert o2[1] == 6 and o2[2] == 6


def test_orc_seam_roundtrip(spark):
    path = os.path.join(tempfile.mkdtemp(prefix='orc_seam_'), 't.orc')
    assert is_path(path)
    df = spark.range(100).select(
        F.col('id'), (F.col('id') * 2).cast('double').alias('v')
    )
    df.write.mode('overwrite').orc(path)
    back = read_table(spark, path)
    assert back.count() == 100
    assert back.agg(F.sum('v')).collect()[0][0] == float(sum(i * 2 for i in range(100)))


def test_containment_pairs_catch_planted_truncation(spark):
    from dgraphpandas_spark.operators.dedup import containment_pairs

    base = ('alpha beta gamma delta epsilon zeta eta theta iota kappa '
            'lam mu nu xi omicron pi rho sigma tau upsilon')
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base.split(' lam')[0]),                     # first half of 1
            (3, 'totally different words about other topics entirely '
                'with nothing shared between these two documents here'),
        ],
        'doc_id long, text string',
    )
    out = {(r['id_a'], r['id_b']): r
           for r in containment_pairs(docs, threshold_ppm=600_000).collect()}
    # the truncation is contained in its source at high ppm...
    assert (2, 1) in out and out[(2, 1)]['containment_ppm'] >= 900_000
    # ...but the big doc is NOT contained in its half (asymmetry)
    assert (1, 2) not in out
    # unrelated doc shares nothing
    assert all(3 not in pair for pair in out)
