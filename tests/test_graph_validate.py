"""k-hop BFS (operators/graph.py:k_hop) and referential-integrity audit
(operators/validate.py:orphan_edges) on crafted graphs where distances,
cycles, and dangling references are known by construction."""
from __future__ import annotations

from pyspark.sql import functions as F

from dgraphpandas_spark.operators.graph import k_hop
from dgraphpandas_spark.operators.validate import orphan_edges


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, 'src string, dst string')


def _unset_checkpoint_dir(sc):
    # SparkContext has no public unset; its Option field is the state
    getattr(sc._jsc.sc(), 'checkpointDir_$eq')(sc._jvm.scala.Option.empty())


def test_k_hop_min_distance_and_bound(spark):
    # chain a→b→c→d plus shortcut a→c: min-hop wins, k bounds the walk
    e = _edges(spark, [('a', 'b'), ('b', 'c'), ('c', 'd'), ('a', 'c')])
    seeds = spark.createDataFrame([('a',)], 'id string')
    got = {r['id']: r['hop'] for r in k_hop(e, seeds, k=2).collect()}
    assert got == {'a': 0, 'b': 1, 'c': 1, 'd': 2}  # c via shortcut, d inside k=2
    got1 = {r['id']: r['hop'] for r in k_hop(e, seeds, k=1).collect()}
    assert got1 == {'a': 0, 'b': 1, 'c': 1}         # d beyond the bound


def test_k_hop_cycle_terminates(spark):
    e = _edges(spark, [('a', 'b'), ('b', 'a')])
    seeds = spark.createDataFrame([('a',)], 'id string')
    got = {r['id']: r['hop'] for r in k_hop(e, seeds, k=5).collect()}
    assert got == {'a': 0, 'b': 1}  # visited anti-join stops the ping-pong


def test_k_hop_multi_seed(spark):
    e = _edges(spark, [('a', 'b'), ('x', 'y'), ('y', 'b')])
    seeds = spark.createDataFrame([('a',), ('x',)], 'id string')
    got = {r['id']: r['hop'] for r in k_hop(e, seeds, k=2).collect()}
    assert got == {'a': 0, 'x': 0, 'b': 1, 'y': 1}


def test_orphan_edges_counts_and_zero_row(spark):
    edges = spark.createDataFrame(
        [
            ('e1', 'knows', 'n1'),      # resolves
            ('e2', 'knows', 'ghost'),   # orphan, referenced twice
            ('e3', 'knows', 'ghost'),
            ('e4', 'uses', 'n2'),       # predicate with zero orphans
        ],
        'subject string, predicate string, object string',
    )
    nodes = spark.createDataFrame([('n1',), ('n2',)], 'subject string')
    got = {
        r['predicate']: (r['n_edges'], r['n_orphan_edges'], r['n_orphan_objects'])
        for r in orphan_edges(edges, nodes).collect()
    }
    assert got == {'knows': (3, 2, 1), 'uses': (1, 0, 0)}


def test_orphan_edges_plan_collapses_before_antijoin(spark):
    """The anti-join must run on the (predicate, object) aggregate, not raw
    edges — the plan has a partial HashAggregate below the join."""
    edges = spark.createDataFrame(
        [('s', 'p', 'o')], 'subject string, predicate string, object string'
    )
    nodes = spark.createDataFrame([('o',)], 'subject string')
    plan = orphan_edges(edges, nodes)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString('formatted')
    )
    anti = plan.find('LeftAnti')
    agg = plan.find('HashAggregate')
    assert anti != -1 and agg != -1


def test_index_nodes_dense_bijection(spark):
    from dgraphpandas_spark.operators.graph import index_nodes

    nodes = spark.createDataFrame([(f'n{i}',) for i in range(37)], 'id string')
    got = index_nodes(nodes, n_buckets=8).collect()
    ids = sorted(r['idx'] for r in got)
    assert ids == list(range(37))                       # dense [0, n), no gaps
    assert len({r['id'] for r in got}) == 37            # every node indexed once
    again = {r['id']: r['idx'] for r in index_nodes(nodes, n_buckets=8).collect()}
    assert again == {r['id']: r['idx'] for r in got}    # deterministic


def test_negative_sample_invariants(spark):
    from pyspark.sql import functions as F

    from dgraphpandas_spark.operators.graph import negative_sample

    edges = spark.createDataFrame(
        [(f's{i}', 'r', f'n{i % 5}') for i in range(20)],
        'subject string, predicate string, object string',
    )
    nodes = spark.createDataFrame([(f'n{i}',) for i in range(5)], 'id string')
    out = negative_sample(edges, nodes, k=3, seed=7)
    rows = out.collect()
    assert len(rows) == 60                                      # k per edge
    assert all(r['neg_object'] != r['object'] for r in rows)    # never the true tail
    assert all(r['neg_object'].startswith('n') for r in rows)   # from the universe
    again = sorted(map(tuple, negative_sample(edges, nodes, k=3, seed=7).collect()))
    assert again == sorted(map(tuple, rows))                    # deterministic
    other = sorted(map(tuple, negative_sample(edges, nodes, k=3, seed=8).collect()))
    assert other != again                                       # seed matters


def test_negative_sample_strict_detects_dangling_tails(spark):
    """Contract: every edge tail must appear in nodes (the tail join is
    inner).  strict=True turns the silent drop into a ValueError; the
    default documents-and-drops (ADVICE r3)."""
    import pytest

    from dgraphpandas_spark.operators.graph import negative_sample

    edges = spark.createDataFrame(
        [('s1', 'r', 'n0'), ('s2', 'r', 'MISSING')],
        'subject string, predicate string, object string',
    )
    nodes = spark.createDataFrame([('n0',), ('n1',)], 'id string')
    # default: the dangling edge is dropped, the resolvable one samples
    out = negative_sample(edges, nodes, k=2, seed=1)
    assert {r['subject'] for r in out.collect()} == {'s1'}
    with pytest.raises(ValueError, match='1 edge'):
        negative_sample(edges, nodes, k=2, seed=1, strict=True)


def test_pagerank_reliable_checkpoint_dir_identical(spark, tmp_path):
    """The truncation mode comes from the session: with a checkpoint dir
    set on the SparkContext, ``truncate`` is a reliable checkpoint whose
    files land in that dir; with none set it is a local checkpoint.
    pagerank and connected_components give the same output in both
    modes.  The shared session's checkpoint dir is unset again after."""
    import os

    from dgraphpandas_spark.operators.checkpointing import truncate
    from dgraphpandas_spark.operators.dedup import connected_components
    from dgraphpandas_spark.operators.graph import pagerank

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    edges = spark.createDataFrame(
        [('a', 'b'), ('b', 'c'), ('c', 'a'), ('c', 'd'), ('d', 'a'), ('e', 'f')],
        'src string, dst string',
    )
    ids = spark.createDataFrame([(x,) for x in 'abcdefg'], 'id string')
    pairs = edges.select(F.col('src').alias('id_a'), F.col('dst').alias('id_b'))

    def lineage(df):
        return df._jdf.queryExecution().toRdd().toDebugString()

    def run():
        return (
            sorted(map(tuple, pagerank(edges, iters=3).collect())),
            sorted(map(tuple, connected_components(ids, pairs).collect())),
        )

    assert 'LocalCheckpointRDD' in lineage(truncate(ids))
    local = run()
    ckdir = str(tmp_path / 'ck')
    sc.setCheckpointDir(ckdir)
    try:
        # held until the walk below: the context cleaner deletes a reliable
        # checkpoint's files once its frame is garbage
        kept = truncate(ids)
        assert 'ReliableCheckpointRDD' in lineage(kept)
        reliable = run()
        found = [f for root, _, fs in os.walk(ckdir) for f in fs if f.startswith('part-')]
        assert found, 'no reliable checkpoint files written to the session dir'
    finally:
        _unset_checkpoint_dir(sc)
    assert sc.getCheckpointDir() is None
    assert local == reliable
    assert dict(local[1]) == {'a': 'a', 'b': 'a', 'c': 'a', 'd': 'a', 'e': 'e', 'f': 'e', 'g': 'g'}


def test_reliable_checkpoint_files_go_with_their_frames(spark, tmp_path):
    """Under a session checkpoint dir every pagerank round writes a
    reliable checkpoint; once the frames are dropped and the JVM collects
    them, Spark's context cleaner deletes every ``rdd-*`` directory
    (``get_spark`` sets ``spark.cleaner.referenceTracking.cleanCheckpoints``).
    Without that setting the directories stay for the life of the dir."""
    import gc
    import os
    import time

    from dgraphpandas_spark.operators.graph import pagerank

    sc = spark.sparkContext
    ckdir = str(tmp_path / 'ck')
    edges = _edges(spark, [('a', 'b'), ('b', 'c'), ('c', 'a'), ('c', 'd')])

    def rdd_dirs():
        return sorted(d for _, dirs, _ in os.walk(ckdir) for d in dirs if d.startswith('rdd-'))

    sc.setCheckpointDir(ckdir)
    try:
        ranks = pagerank(edges, iters=3)
        assert ranks.count() == 4
        assert rdd_dirs(), 'pagerank wrote no reliable checkpoints'
        del ranks
        deadline = time.monotonic() + 60
        while rdd_dirs() and time.monotonic() < deadline:
            gc.collect()
            sc._jvm.System.gc()
            time.sleep(0.5)
        assert rdd_dirs() == [], 'checkpoint files outlived their frames'
    finally:
        _unset_checkpoint_dir(sc)
    assert sc.getCheckpointDir() is None


def test_label_propagation_finds_planted_communities(spark):
    from dgraphpandas_spark.operators.graph import label_propagation

    # two dense cliques bridged by one weak edge
    c1 = [f'a{i}' for i in range(5)]
    c2 = [f'b{i}' for i in range(5)]
    edges = [(x, y) for i, x in enumerate(c1) for y in c1[i + 1:]]
    edges += [(x, y) for i, x in enumerate(c2) for y in c2[i + 1:]]
    edges.append(('a0', 'b0'))
    df = spark.createDataFrame(edges, 'src string, dst string')
    out = {r['id']: r['label'] for r in label_propagation(df, iters=3).collect()}
    assert len(out) == 10
    l1 = {out[x] for x in c1}
    l2 = {out[x] for x in c2}
    assert len(l1) == 1 and len(l2) == 1 and l1 != l2   # one label per clique
    # determinism
    again = {r['id']: r['label'] for r in label_propagation(df, iters=3).collect()}
    assert again == out
