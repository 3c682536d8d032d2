"""Lambda-capture guard for the ``functions.similarity`` helpers, the
LSH-blocked operators built on them and every driver query.

Spark does no common-subexpression elimination inside a lambda, so a
higher-order function or aggregate in a lambda body that references none
of that lambda's own variables is re-evaluated for every element:
``transform(a, x -> x / norm(a))`` costs O(dim²) per row.  The walk below
reads the analyzed plan of each helper or operator and flags such a
subexpression.
"""
from __future__ import annotations

import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from dgraphpandas_spark.functions import similarity as S
from dgraphpandas_spark.operators.blocking import hamming1
from dgraphpandas_spark.operators.dedup import embedding_neardup_pairs_lsh
from dgraphpandas_spark.operators.simsearch import knn_classify, knn_graph

_CATALYST = 'org.apache.spark.sql.catalyst.expressions.'


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _lambda_vars(expr, jvm) -> set:
    """exprIds of every lambda variable referenced under ``expr``."""
    cls = jvm.java.lang.Class.forName(_CATALYST + 'NamedLambdaVariable')
    found, stack = set(), [expr]
    while stack:
        e = stack.pop()
        if cls.isInstance(e):
            found.add(e.exprId().id())
        stack.extend(_seq(e.children()))
    return found


def captured_subexpressions(df) -> list:
    """One message per higher-order function or aggregate inside a lambda
    body that references none of that lambda's own variables, over all
    expressions of ``df``'s analyzed plan."""
    jvm = df.sparkSession._jvm
    lam_cls = jvm.java.lang.Class.forName(_CATALYST + 'LambdaFunction')
    per_element = [jvm.java.lang.Class.forName(_CATALYST + 'HigherOrderFunction'),
                   jvm.java.lang.Class.forName(_CATALYST + 'aggregate.AggregateFunction')]
    exprs, plans = [], [df._jdf.queryExecution().analyzed()]
    while plans:
        p = plans.pop()
        exprs.extend(_seq(p.expressions()))
        plans.extend(_seq(p.children()))
    hits = []
    while exprs:
        e = exprs.pop()
        exprs.extend(_seq(e.children()))
        if not lam_cls.isInstance(e):
            continue
        own = {a.exprId().id() for a in _seq(e.arguments())}
        body = [e.function()]
        while body:
            b = body.pop()
            if any(c.isInstance(b) for c in per_element) and not _lambda_vars(b, jvm) & own:
                hits.append(f'{e.sql()} re-evaluates {b.sql()} per element')
                continue
            body.extend(_seq(b.children()))
    return hits


PLANES = S.hyperplanes(2, 3, seed=1)
HELPERS = {
    'dot': lambda: S.dot(F.col('a'), F.col('b')),
    'norm': lambda: S.norm(F.col('a')),
    'cosine': lambda: S.cosine(F.col('a'), F.col('b')),
    'unit': lambda: S.unit(F.col('a')),
    'lsh_bucket': lambda: S.lsh_bucket(F.col('a'), PLANES),
    'ivf_cell': lambda: S.ivf_cell(F.col('a'), PLANES),
}

VECTORS = [([3.0, 4.0, 0.0], [1.0, 0.5, -2.0]), ([0.1, -0.2, 0.3], [0.3, 0.2, 0.1])]


@pytest.fixture(scope='module')
def vectors(spark):
    return spark.createDataFrame(VECTORS, 'a array<float>, b array<float>')


@pytest.mark.parametrize('helper', sorted(HELPERS))
def test_similarity_helpers_capture_no_per_element_work(vectors, helper):
    assert captured_subexpressions(vectors.select(HELPERS[helper]().alias('v'))) == []


CORPUS = [(1, [3.0, 4.0, 0.0], 'x'), (2, [3.0, 4.0, 0.1], 'x'),
          (3, [0.1, -0.2, 0.3], 'y'), (4, [-1.0, 0.5, 2.0], 'y')]


def _knn_graph(corpus, max_bucket):
    audit = {}
    out = knn_graph(corpus, n_planes=2, dim=3, seed=1, max_bucket=max_bucket, audit=audit)
    assert (audit['hot_buckets'] > 0) == (max_bucket == 1)   # the path asked for
    return out


OPERATORS = {
    'blocking.hamming1': lambda c: c.select(
        hamming1(S.lsh_bucket(F.col('embedding'), PLANES), len(PLANES)).alias('p')),
    'embedding_neardup_pairs_lsh[multi_probe]': lambda c: embedding_neardup_pairs_lsh(
        c, n_planes=2, dim=3, seed=1, multi_probe=True),
    'knn_graph[primary]': lambda c: _knn_graph(c, 10_000),
    'knn_graph[hot]': lambda c: _knn_graph(c, 1),
    'knn_classify[lsh]': lambda c: knn_classify(
        c, c, k=2, method='lsh', n_planes=2, dim=3, seed=1),
}


@pytest.mark.parametrize('operator', sorted(OPERATORS))
def test_blocked_operators_capture_no_per_element_work(spark, operator):
    corpus = spark.createDataFrame(CORPUS, 'vec_id long, embedding array<float>, label string')
    assert captured_subexpressions(OPERATORS[operator](corpus)) == []


QUERY_SF = os.environ.get('SPARK_GRAFT_TEST_SF', '/root/testdata/sf0.001')
QUERIES = E.queries()


@pytest.mark.parametrize('name', sorted(QUERIES))
def test_driver_queries_capture_no_per_element_work(spark, name):
    assert captured_subexpressions(QUERIES[name](spark, QUERY_SF)) == []


def test_the_walk_flags_a_captured_norm(vectors):
    a = F.col('a')
    captured = F.transform(a, lambda x: x.cast('double') / S.norm(a))
    assert len(captured_subexpressions(vectors.select(captured.alias('v')))) == 1


def test_unit_is_bit_identical_to_the_captured_form(spark):
    """The hoisted norm changes the cost, not a bit of the result: same
    doubles as ``transform(a, x -> x / norm(a))``, null and empty arrays
    included."""
    rows = VECTORS + [(None, None), ([], []), ([1.0, None], None)]
    df = spark.createDataFrame(rows, 'a array<float>, b array<float>')
    a = F.col('a')
    captured = F.transform(a, lambda x: x.cast('double') / S.norm(a))
    got = df.select(S.unit(a).alias('new'), captured.alias('old')).collect()
    assert [r['new'] for r in got] == [r['old'] for r in got]
    assert [r['new'] for r in got][2:] == [None, [], [None, None]]
    n = math.sqrt(sum(float(np.float32(x)) ** 2 for x in VECTORS[0][0]))
    assert got[0]['new'] == [float(np.float32(x)) / n for x in VECTORS[0][0]]
