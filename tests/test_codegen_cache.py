"""The session's generated-code cache holds a whole near-dup + kNN pass.

One pass of ``dedup_clusters`` followed by ``knn_graph`` with a hot
bucket (the shape of perfbench's ``corpus_dedup``) needs ~131 distinct
whole-stage-codegen classes: 86 for the clustering, 45 for the kNN graph.
The count follows the plan shapes, not the data size, so a small input
shows it.  At Spark's default ``spark.sql.codegen.cache.maxEntries`` of
100 the classes are evicted before they are used again, and a second run
recompiles ~105-126 of them; ``get_spark`` sizes the cache so that a
second run compiles almost nothing (session.py).
"""
from __future__ import annotations

import random

# Measured on a 4-core host, local[4], with the session's cache: the first
# run compiles ~131 classes; each of the next few re-runs compiles 0-14,
# then 0.  Those few are the same physical plans under new whole-stage
# codegen ids: adaptive execution numbers codegen stages in the order it
# creates query stages, which follows the order in which shuffle stages
# finish, and the id is part of the generated source
# (``GeneratedIteratorForCodegenStage<id>``), hence of the cache key.  Once
# each numbering seen has been compiled, re-runs compile 0.  At the default
# cache a second run compiles 104-126, so 40 separates the two with room
# on both sides.
MAX_SECOND_RUN_COMPILES = 40


def _docs(spark, n=60, pairs=4, hot=8, words=40, seed=7):
    """Random word docs with ``pairs`` planted near-duplicate pairs (one
    word edited) and ``hot`` identical docs that overflow ``max_bucket``."""
    rng = random.Random(seed)
    rows = [[f't{rng.randrange(5000)}' for _ in range(words)] for _ in range(n)]
    picks = rng.sample(range(hot, n), 2 * pairs)
    for a, b in zip(picks[:pairs], picks[pairs:]):
        rows[b] = list(rows[a])
        rows[b][words // 2] = 'edited'
    for i in range(1, hot):
        rows[i] = rows[0]
    return spark.createDataFrame([(i, ' '.join(r)) for i, r in enumerate(rows)], 'doc_id long, text string')


def _vectors(spark, n=60, dim=8, dense=12, seed=7):
    """Isotropic vectors plus ``dense`` tight perturbations of one centre,
    which share one sign-LSH bucket (the hot bucket)."""
    rng = random.Random(seed)
    centre = [rng.gauss(0, 1) for _ in range(dim)]
    rows = [[c + 1e-3 * rng.gauss(0, 1) for c in centre] for _ in range(dense)]
    rows += [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n - dense)]
    return spark.createDataFrame(list(enumerate(rows)), 'vec_id long, embedding array<double>')


def test_a_second_dedup_and_knn_pass_reuses_generated_code(spark):
    from dgraphpandas_spark.operators.dedup import dedup_clusters
    from dgraphpandas_spark.operators.simsearch import knn_graph

    docs, vecs = _docs(spark), _vectors(spark)
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_pass():
        audit: dict = {}
        clusters = dedup_clusters(docs, threshold=0.8, max_bucket=5).collect()
        edges = knn_graph(vecs, k=5, dim=8, max_bucket=8, audit=audit).select('id', 'nbr', 'rank').collect()
        assert audit['hot_buckets'] >= 1, 'the kNN hot-bucket fallback must run'
        return sorted(tuple(r) for r in clusters), sorted(tuple(r) for r in edges)

    first = one_pass()
    before = compiles.getCount()
    assert one_pass() == first
    second = compiles.getCount() - before
    assert second <= MAX_SECOND_RUN_COMPILES, (
        f'the second pass compiled {second} classes: the codegen cache '
        f'({spark.conf.get("spark.sql.codegen.cache.maxEntries")} entries) no longer holds one pass')
