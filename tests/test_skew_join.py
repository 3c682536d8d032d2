"""AQE skew-join evidence (north_star: "skewed hot conversations are
handled with salting + AQE skew-join hints").

Demonstrates — with assertions on the final adaptive plan — that a
hot-conversation join is split by AQE's OptimizeSkewedJoin, and documents
the structural precondition discovered while building this test: the rule
only matches a SortMergeJoin whose BOTH children are plain shuffle stages.
An aggregation between the shuffle and the join (e.g. a distinct-built dim)
blocks the split — which is why aggregated-child join shapes need
explicit salting rather than AQE.  (Exact dedup needs neither: its
map-side partial aggregate absorbs a hot key — operators/canonicalize.
dedup_triples.)

Thresholds are tuned down so the 200k-row fixture crosses them; at
production scale the session defaults (64 MB advisory) apply unchanged.
"""
from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from dgraphpandas_spark.session import get_spark
from dgraphpandas_spark.sources.transcripts import synthetic_transcripts


@pytest.fixture(scope='module')
def skew_spark(spark):
    # derive a tuned session: same JVM, aggressive skew thresholds so the
    # small fixture triggers the same rule production data hits at 64MB
    s = spark.newSession()
    s.conf.set('spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes', '100KB')
    s.conf.set('spark.sql.adaptive.skewJoin.skewedPartitionFactor', '1.2')
    s.conf.set('spark.sql.adaptive.advisoryPartitionSizeInBytes', '64KB')
    s.conf.set('spark.sql.adaptive.coalescePartitions.enabled', 'false')
    s.conf.set('spark.sql.autoBroadcastJoinThreshold', '-1')
    s.conf.set('spark.sql.shuffle.partitions', '8')
    return s


def _final_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString().split('== Initial Plan ==')[0]


def test_aqe_splits_hot_conversation_join(skew_spark):
    t = synthetic_transcripts(skew_spark, n_turns=200_000, seed=42).localCheckpoint()
    dims = (
        t.select('conv_id').distinct()
        .withColumn('meta', F.md5('conv_id'))
        .localCheckpoint()  # plain shuffle child → skew rule can match
    )
    j = t.join(dims, 'conv_id')
    plan = _final_plan(j)
    assert re.search(r'SortMergeJoin\(skew=true\)', plan), plan
    assert 'AQEShuffleRead skewed' in plan


def test_agg_above_shuffle_blocks_skew_rule_hence_salting(skew_spark):
    """Negative control: a distinct between shuffle and join prevents the
    skew split (splitting would break the aggregation) — the documented
    reason such join shapes need explicit salting instead."""
    t = synthetic_transcripts(skew_spark, n_turns=200_000, seed=42).localCheckpoint()
    dims = t.select('conv_id').distinct().withColumn('meta', F.md5('conv_id'))
    j = t.join(dims, 'conv_id')
    plan = _final_plan(j)
    assert not re.search(r'SortMergeJoin\(skew=true\)', plan)
