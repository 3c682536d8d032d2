"""Watermarked windowed aggregation: on-time windows emit exactly once;
events later than the watermark are dropped from state (bounded state at
scale).  Two AvailableNow runs over one checkpoint — the watermark persists
across restarts."""
from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from dgraphpandas_spark.streaming.stream import stream_transcripts
from dgraphpandas_spark.streaming.windows import windowed_counts

SCHEMA = 'conv_id string, turn_idx int, role string, text string, tool string, ts timestamp'


def _rows(spark, rows):
    return spark.createDataFrame(
        [
            ('c1', i, 'assistant', 'x', tool, datetime.datetime(2026, 1, 1, 10, m, s))
            for i, (tool, m, s) in enumerate(rows)
        ],
        SCHEMA,
    )


def _run(spark, input_dir, ckpt, out):
    turns = stream_transcripts(spark, input_dir).filter(F.col('tool').isNotNull())
    windows = windowed_counts(turns, 'ts', 'tool', '1 minute', '2 minutes')

    def _append(batch_df, batch_id):
        batch_df.write.mode('append').parquet(out)

    q = (
        windows.writeStream.trigger(availableNow=True)
        .option('checkpointLocation', ckpt)
        .outputMode('append')
        .foreachBatch(_append)
        .start()
    )
    q.awaitTermination(120)


def test_watermark_drops_late_and_finalizes_windows(spark, tmp_path):
    input_dir, ckpt, out = (str(tmp_path / d) for d in ('in', 'ckpt', 'out'))

    # wave 1: tool calls in minutes 0 and 1; max ts 10:10 → watermark 10:08
    _rows(spark, [
        ('search', 0, 10), ('search', 0, 40), ('calc', 1, 5),
        ('search', 10, 0),   # advances the watermark to 10:08
    ]).write.mode('append').parquet(input_dir)
    _run(spark, input_dir, ckpt, out)

    # wave 2: one LATE row at 10:00 (behind the 10:08 watermark → dropped),
    # one on-time row at 10:12
    _rows(spark, [('search', 0, 50), ('calc', 12, 0)]).write.mode('append').parquet(input_dir)
    _run(spark, input_dir, ckpt, out)

    got = {
        (r['window_start'].minute, r['tool']): r['n_events']
        for r in spark.read.parquet(out).collect()
    }
    # minute-0 window finalized after wave 1 with the on-time counts only;
    # the late wave-2 'search' at 10:00:50 must NOT be in it
    assert got[(0, 'search')] == 2
    assert got[(1, 'calc')] == 1
    # each finalized (window, tool) emitted exactly once across both runs
    all_rows = spark.read.parquet(out).groupBy('window_start', 'tool').count().collect()
    assert all(r['count'] == 1 for r in all_rows)


def test_dedup_replayed_turns(spark, tmp_path):
    from dgraphpandas_spark.streaming.stream import dedup_replayed_turns

    input_dir, ckpt, out = (str(tmp_path / d) for d in ('din', 'dckpt', 'dout'))

    base = _rows(spark, [('search', 0, 10), ('calc', 1, 5), (None, 2, 0)])
    # replay: same three turns written twice (duplicate files)
    base.write.mode('append').parquet(input_dir)
    base.write.mode('append').parquet(input_dir)

    deduped = dedup_replayed_turns(stream_transcripts(spark, input_dir))

    def _append(batch_df, batch_id):
        batch_df.write.mode('append').parquet(out)

    q = (
        deduped.writeStream.trigger(availableNow=True)
        .option('checkpointLocation', ckpt)
        .outputMode('append')
        .foreachBatch(_append)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.read.parquet(out)
    assert rows.count() == 3, 'replayed duplicates must collapse to one row each'
    assert rows.select('conv_id', 'turn_idx').distinct().count() == 3


def test_windowed_counts_availablenow_matches_batch(spark, tmp_path):
    """Append-mode windowed_counts drained with AvailableNow emits exactly
    the windows closed by the final watermark — the deterministic contract
    the stream_event_windows oracle relies on."""
    import shutil

    from pyspark.sql import functions as F

    from dgraphpandas_spark.streaming.windows import windowed_counts

    indir = tmp_path / 'in'
    indir.mkdir()
    shutil.copy('/root/testdata/sf0.001/events.parquet', str(indir / 'events.parquet'))
    schema = ('event_id bigint, ts timestamp, user_id bigint, '
              'event_type string, value double, props string')
    stream = spark.readStream.schema(schema).parquet(str(indir))
    out = windowed_counts(stream, 'ts', 'event_type', '1 day', '1 hour')
    q = (
        out.writeStream.trigger(availableNow=True).outputMode('append')
        .format('memory').queryName('wc_test')
        .option('checkpointLocation', str(tmp_path / 'ck')).start()
    )
    q.awaitTermination()
    got = {tuple(map(str, r)) for r in spark.table('wc_test').collect()}

    batch = spark.read.parquet(str(indir))
    cutoff = batch.agg(F.max('ts')).first()[0]
    expected = {
        tuple(map(str, r))
        for r in (
            batch.groupBy(F.window('ts', '1 day').alias('w'), 'event_type')
            .agg(F.count('*').alias('n_events'))
            .select(F.col('w.start').alias('window_start'),
                    F.col('w.end').alias('window_end'), 'event_type', 'n_events')
            .filter(F.col('window_end') <= F.lit(cutoff) - F.expr('INTERVAL 1 HOUR'))
            .collect()
        )
    }
    assert got == expected and len(got) > 0
