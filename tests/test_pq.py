"""Product quantization (simsearch.train_pq_codebooks / pq_encode /
pq_topk) — engine additions for 100-TB ANN compression.

Pins: codebook geometry and 6-dp determinism, encode as a zero-exchange
zero-action projection, the ADC invariant (every score equals the dot of
the query with the vector's codebook RECONSTRUCTION, summed per subspace),
and the top-k plan collapsing to one TakeOrderedAndProject.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dgraphpandas_spark.operators.simsearch import (
    brute_force_topk,
    pq_encode,
    pq_rerank_topk,
    pq_topk,
    train_pq_codebooks,
)

_DIM, _M_SUB, _N_CODES = 8, 2, 4
_D_SUB = _DIM // _M_SUB


def _vec(i: int):
    # deterministic, clustered: 4 well-separated anchors + a small
    # id-dependent perturbation, so k-means has real structure to find
    anchor = [
        [3.0, 3.0, 3.0, 3.0, -3.0, -3.0, -3.0, -3.0],
        [-3.0, -3.0, -3.0, -3.0, 3.0, 3.0, 3.0, 3.0],
        [3.0, -3.0, 3.0, -3.0, 3.0, -3.0, 3.0, -3.0],
        [-3.0, 3.0, -3.0, 3.0, -3.0, 3.0, -3.0, 3.0],
    ][i % 4]
    return [a + ((i * 7 + d * 13) % 11 - 5) / 10.0 for d, a in enumerate(anchor)]


@pytest.fixture(scope='module')
def emb(spark):
    rows = [(i, _vec(i)) for i in range(40)]
    return spark.createDataFrame(rows, 'vec_id long, embedding array<double>')


@pytest.fixture(scope='module')
def books(emb):
    return train_pq_codebooks(emb, m_sub=_M_SUB, n_codes=_N_CODES, iters=1)


def test_codebook_geometry_and_determinism(emb, books):
    assert len(books) == _M_SUB
    for book in books:
        assert len(book) == _N_CODES
        assert all(len(c) == _D_SUB for c in book)
        # 6-dp rounding is the cross-engine replay contract
        assert all(x == round(x, 6) for c in book for x in c)
    again = train_pq_codebooks(emb, m_sub=_M_SUB, n_codes=_N_CODES, iters=1)
    assert again == books


def test_encode_is_a_pure_projection(emb, books):
    enc = pq_encode(emb, books)
    rows = enc.collect()
    assert len(rows) == 40
    for r in rows:
        for s in range(_M_SUB):
            assert 0 <= r[f'code_{s}'] < _N_CODES
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert 'Exchange' not in plan, plan


def test_adc_score_is_dot_with_reconstruction(emb, books):
    q = _vec(0)
    topk = pq_topk(emb, q, books, k=40)
    got = {r['vec_id']: r['score'] for r in topk.collect()}
    codes = {r['vec_id']: [r[f'code_{s}'] for s in range(_M_SUB)]
             for r in pq_encode(emb, books).collect()}
    assert len(got) == 40
    for vid, score in got.items():
        expected = 0.0
        for s in range(_M_SUB):
            acc = 0.0
            for a, b in zip(q[s * _D_SUB:(s + 1) * _D_SUB], books[s][codes[vid][s]]):
                acc = acc + a * b
            expected = expected + acc
        assert score == pytest.approx(round(expected, 6), abs=1e-9)


def test_topk_plan_is_take_ordered(emb, books):
    df = pq_topk(emb, _vec(0), books, k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert 'TakeOrderedAndProject' in plan, plan
    rows = df.collect()
    assert len(rows) == 5
    scores = [r['score'] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_rerank_with_full_shortlist_is_exact(emb, books):
    # shortlist ⊇ corpus ⇒ the re-rank stage must reproduce brute force
    # exactly (same scores, same total order) — the two-stage serving
    # path degrades ONLY through shortlist recall, never through scoring
    q = _vec(1)
    exact = [(r['vec_id'], r['score']) for r in brute_force_topk(emb, q, k=10).collect()]
    rerank = [(r['vec_id'], r['score'])
              for r in pq_rerank_topk(emb, q, books, k=10, candidates=40).collect()]
    assert rerank == exact


def test_rerank_broadcasts_the_shortlist(emb, books):
    plan = pq_rerank_topk(emb, _vec(0), books, k=3, candidates=10)._jdf \
        .queryExecution().executedPlan().toString()
    assert 'BroadcastHashJoin' in plan, plan


def test_quantization_recovers_cluster_cohesion(emb, books):
    # vectors sharing an anchor should usually share their code word in
    # each subspace more often than vectors from different anchors — a
    # weak but structural check that training found the clusters
    codes = {r['vec_id']: tuple(r[f'code_{s}'] for s in range(_M_SUB))
             for r in pq_encode(emb, books).collect()}
    same_anchor = sum(
        codes[i] == codes[j]
        for i in range(40) for j in range(i + 1, 40) if i % 4 == j % 4
    )
    cross_anchor = sum(
        codes[i] == codes[j]
        for i in range(40) for j in range(i + 1, 40) if i % 4 != j % 4
    )
    assert same_anchor > cross_anchor


@pytest.mark.parametrize('dim,m_sub', [(8, 3), (10, 4), (8, 0)])
def test_codebooks_reject_subspaces_that_do_not_tile_dim(spark, dim, m_sub):
    # dim is read from the data
    vecs = spark.createDataFrame([(i, [float(i)] * dim) for i in range(8)],
                                 'vec_id long, embedding array<double>')
    with pytest.raises(ValueError, match=f'must divide dim={dim}'):
        train_pq_codebooks(vecs, m_sub=m_sub, n_codes=_N_CODES, iters=1)
