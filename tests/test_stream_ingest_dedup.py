"""Streaming admission-control dedup (streaming/stream.py:
stream_ingest_dedup): the sink after draining N forced micro-batches must
equal ONE batch run of operators/dedup.incremental_dedup over the same
input (micro-batch-split invariance — each doc is judged only against the
static corpus), and the stream must actually have split into >= 2 batches.
A micro-batch replayed after a restart must not duplicate its verdicts.
"""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dgraphpandas_spark.operators.dedup import incremental_dedup
from dgraphpandas_spark.streaming.stream import stream_ingest_dedup

_CORPUS = [
    (i, f'alpha beta gamma delta epsilon zeta eta theta doc{i} '
        f'iota kappa lam mu nu xi omicron pi w{i % 7} w{i % 5}')
    for i in range(30)
]


def _frames(spark):
    corpus = spark.createDataFrame(_CORPUS, 'doc_id long, text string')
    new = (
        corpus.filter('doc_id % 3 = 0')
        .select((F.col('doc_id') + 1000).alias('doc_id'), 'text')   # exact dups
        .unionByName(
            corpus.filter('doc_id % 4 = 1').select(
                (F.col('doc_id') + 2000).alias('doc_id'),
                F.concat(F.col('text'), F.lit(' totally novel suffix tail')).alias('text'),
            )
        )
    )
    return corpus, new


def _drain(spark, new, corpus, tmp_path):
    """Stream ``new`` in two forced micro-batches through
    stream_ingest_dedup (input files written on the first call only) and
    wait for the drain; returns the finished query."""
    indir = str(tmp_path / 'in')
    if not os.path.exists(indir):
        os.makedirs(indir)
        for par in (0, 1):
            new.filter(F.col('doc_id') % 2 == par).coalesce(1) \
                .write.mode('append').parquet(indir)
    stream = (
        spark.readStream.schema(new.schema)
        .option('maxFilesPerTrigger', 1)
        .parquet(indir)
    )
    q = stream_ingest_dedup(
        stream, corpus, str(tmp_path / 'verdicts'), str(tmp_path / 'ck'),
        n=3, bands=4, threshold=0.5,
    )
    q.awaitTermination()
    return q


def _verdicts(rows):
    return sorted((r['id'], r['dup_of'], r['jaccard'], r['keep']) for r in rows)


def test_streamed_verdicts_equal_batch_and_split_into_batches(spark, tmp_path):
    corpus, new = _frames(spark)
    q = _drain(spark, new, corpus, tmp_path)
    assert len(q.recentProgress) >= 2          # genuinely micro-batched

    streamed = _verdicts(spark.read.parquet(str(tmp_path / 'verdicts')).collect())
    batch = _verdicts(incremental_dedup(new, corpus, n=3, bands=4, threshold=0.5).collect())
    assert streamed == batch
    assert len(streamed) == new.count()        # one verdict per new doc
    # every planted EXACT dup was caught with jaccard 1.0 against its source
    by_id = {i: (d, j, k) for i, d, j, k in streamed}
    exact_ids = [i + 1000 for i in range(30) if i % 3 == 0]
    assert exact_ids
    for i in exact_ids:
        d, j, k = by_id[i]
        assert not k and d == i - 1000 and j == 1.0


def test_replayed_micro_batch_does_not_duplicate_verdicts(spark, tmp_path):
    """Deleting the checkpoint's last commit makes a restarted query run
    that micro-batch again with the same id and offsets; the sink must
    still hold exactly one batch run's verdicts."""
    corpus, new = _frames(spark)
    _drain(spark, new, corpus, tmp_path)
    commits = tmp_path / 'ck' / 'commits'
    last = max((p for p in commits.iterdir() if p.name.isdigit()), key=lambda p: int(p.name))
    assert int(last.name) >= 1
    for stale in (last, commits / f'.{last.name}.crc'):
        if stale.exists():
            stale.unlink()
    replay = _drain(spark, new, corpus, tmp_path)
    assert [p['batchId'] for p in replay.recentProgress if p['numInputRows']] == [int(last.name)]

    streamed = _verdicts(spark.read.parquet(str(tmp_path / 'verdicts')).collect())
    batch = _verdicts(incremental_dedup(new, corpus, n=3, bands=4, threshold=0.5).collect())
    assert streamed == batch
    assert len({v[0] for v in streamed}) == len(streamed) == new.count()


# every __spark_entry__ query that writes to a tempfile.mkdtemp directory,
# with that directory's prefix
WORKING_DIR_QUERIES = [
    ('q_stream_ingest_dedup', 'stream_ingest_'),
    ('q_kg_rdf_gzip_roundtrip', 'rdf_roundtrip_'),
    ('q_source_orc_roundtrip', 'orc_rt_'),
    ('q_stream_event_windows', 'stream_ev_'),
    ('q_stream_stateful_sessions', 'stream_state_'),
    ('q_stream_static_enrich', 'stream_enrich_'),
    ('q_stream_stateful_multibatch', 'stream_mb_'),
    ('q_stream_kg_triples', 'stream_kg_'),
    ('q_stream_kg_materialize', 'stream_mat_'),
    ('q_stream_replay_dedup', 'stream_rd_'),
    ('q_ann_ivf_materialized_topk', 'ivf_mat_'),
]


@pytest.mark.parametrize('query,prefix', WORKING_DIR_QUERIES, ids=[q for q, _ in WORKING_DIR_QUERIES])
def test_stream_ingest_query_removes_its_working_directory(spark, tmp_path, monkeypatch, query, prefix):
    """Each query reads its result back into a local checkpoint and then
    deletes the temp directory that held its input, checkpoint and sink."""
    import tempfile

    import __spark_entry__ as e
    from tests.test_plan_evidence import SF_DIR

    monkeypatch.setattr(tempfile, 'tempdir', str(tmp_path))
    result = getattr(e, query)(spark, SF_DIR)
    assert [p for p in os.listdir(tmp_path) if p.startswith(prefix)] == []
    assert result.count() > 0   # still readable after the directory is gone
