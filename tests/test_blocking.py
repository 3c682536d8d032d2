"""The shared hot-key guard (operators/blocking.py) at its boundary, over
every capped blocked-pair operator: a block of exactly ``cap`` rows still
pairs, a block of ``cap + 1`` rows does not (``knn_graph`` routes it to
its fallback join and counts it in ``audit`` instead)."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dgraphpandas_spark.functions.similarity import lsh_bucket
from dgraphpandas_spark.functions.text import winnow_fingerprints
from dgraphpandas_spark.operators import dedup, graph, simsearch

CAP = 3
SMALL = list(range(1, CAP + 1))              # a block of exactly CAP rows
HOT = list(range(101, CAP + 102))            # a block of CAP + 1 rows
VEC = [1.0, 2.0, 3.0, 4.0]


def _docs(spark):
    rows = [(i, 'alpha') for i in SMALL] + [(i, 'beta') for i in HOT]
    return spark.createDataFrame(rows, 'doc_id long, text string')


def _vectors(spark):
    rows = [(i, VEC) for i in SMALL] + [(i, [-x for x in VEC]) for i in HOT]
    return spark.createDataFrame(rows, 'vec_id long, embedding array<float>')


def _paired(df, a='id_a', b='id_b'):
    return {i for r in df.collect() for i in (r[a], r[b])}


def _ngram(spark):
    return _paired(dedup.ngram_jaccard_pairs(_docs(spark), n=1, threshold=0.5, max_df=CAP))


def _minhash(spark):
    return _paired(dedup.minhash_lsh_candidates(_docs(spark), n=1, bands=1, max_bucket=CAP))


def _containment(spark):
    return _paired(dedup.containment_pairs(_docs(spark), k=1, w=1, max_df=CAP))


def _incremental(spark):
    new = spark.createDataFrame([(1001, 'alpha'), (1002, 'beta')], 'doc_id long, text string')
    out = dedup.incremental_dedup(new, _docs(spark), n=1, bands=1, threshold=0.5, max_bucket=CAP)
    return {i for r in out.filter(~F.col('keep')).collect() for i in (r['id'], r['dup_of'])}


def _embedding_lsh(spark):
    return _paired(dedup.embedding_neardup_pairs_lsh(
        _vectors(spark), n_planes=4, dim=4, max_bucket=CAP))


def _bipartite(spark):
    edges = spark.createDataFrame(
        [(0, i) for i in SMALL] + [(1, i) for i in HOT], 'src long, dst long')
    return _paired(graph.bipartite_project(edges, max_src_degree=CAP), 'a', 'b')


def _knn_graph(spark):
    audit = {}
    out = simsearch.knn_graph(_vectors(spark), k=10, n_planes=4, dim=4,
                              max_bucket=CAP, audit=audit).collect()
    assert audit == {'hot_buckets': 1, 'hot_nodes': CAP + 1}
    # the hot block still ranks its members, through the fallback join
    # only: they meet no member of the other block
    assert {(r['id'] in HOT) == (r['nbr'] in HOT) for r in out} == {True}
    return {r['id'] for r in out} - set(HOT)


CASES = {
    'ngram_jaccard_pairs': (_ngram, SMALL),
    'minhash_lsh_candidates': (_minhash, SMALL),
    'containment_pairs': (_containment, SMALL),
    'incremental_dedup': (_incremental, [1001, 1]),
    'embedding_neardup_pairs_lsh': (_embedding_lsh, SMALL),
    'bipartite_project': (_bipartite, SMALL),
    'knn_graph': (_knn_graph, SMALL),
}


@pytest.mark.parametrize('op', sorted(CASES))
def test_a_block_of_cap_rows_pairs_and_one_more_row_makes_it_hot(spark, op):
    run, expected = CASES[op]
    assert run(spark) == set(expected)


def test_blocking_keys_are_never_null(spark):
    """``drop_hot_keys`` is a left anti-join, which keeps null-key rows;
    the keys its callers block on are never null, even for null, empty or
    too-short text and null vectors."""
    docs = spark.createDataFrame(
        [(1, None), (2, ''), (3, 'one'), (4, 'a b c d e f g h')], 'doc_id long, text string')
    fps = docs.select(F.explode(winnow_fingerprints(F.col('text'), k=3, w=4)).alias('fp'))
    assert fps.count() > 0 and fps.filter(F.col('fp').isNull()).count() == 0
    buckets = dedup.minhash_buckets(docs, n=1, bands=2)
    assert buckets.count() > 0 and buckets.filter(F.col('bucket').isNull()).count() == 0
    vecs = spark.createDataFrame([(None,), ([1.0, -1.0],)], 'v array<float>')
    assert [r['b'] for r in vecs.select(lsh_bucket(F.col('v'), [[1.0, 0.0]]).alias('b')).collect()] \
        == [0, 1]


def test_hamming1_is_the_bucket_and_its_one_bit_flips(spark):
    from dgraphpandas_spark.operators.blocking import hamming1

    row = spark.range(1).select(hamming1(F.lit(5), 3).alias('p')).first()
    assert row['p'] == [5, 4, 7, 1]
