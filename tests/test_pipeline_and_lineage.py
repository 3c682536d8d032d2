"""End-to-end pipeline, materialization/lineage/resume, canonicalization,
streaming, and generator determinism tests."""
from __future__ import annotations

import glob
import gzip
import os

import pytest

from dgraphpandas_spark.operators.canonicalize import (
    conversation_edges,
    conversation_nodes,
    dedup_triples,
    link_entities,
    tool_nodes,
)
from dgraphpandas_spark.plans.lineage import (
    committed_buckets,
    load_manifest,
    materialize_triples,
)
from dgraphpandas_spark.plans.pipeline import to_rdf
from dgraphpandas_spark.sources.transcripts import (
    TRANSCRIPT_CONFIG,
    synthetic_transcripts,
    tool_dictionary,
)


@pytest.fixture(scope='module')
def transcripts(spark):
    return synthetic_transcripts(spark, n_turns=2000, seed=42).cache()


def test_generator_deterministic_and_skewed(spark, transcripts):
    a = transcripts.collect()
    b = synthetic_transcripts(spark, n_turns=2000, seed=42).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    counts = sorted(
        (r['cnt'] for r in transcripts.groupBy('conv_id').count().withColumnRenamed('count', 'cnt').collect()),
        reverse=True,
    )
    assert counts[0] >= 10 * counts[len(counts) // 2], 'conv_id should be Zipf-skewed'
    cols = transcripts.columns
    assert cols == ['conv_id', 'turn_idx', 'role', 'text', 'tool', 'ts']


def test_to_rdf_gzip_export(spark, transcripts, tmp_path):
    out = str(tmp_path / 'rdf')
    ilines, elines = to_rdf(
        transcripts, TRANSCRIPT_CONFIG, 'turn', output_dir=out, export_rdf=True
    )
    n_i = ilines.count()
    assert n_i > 0 and elines.count() > 0

    gz_files = glob.glob(os.path.join(out, 'turn_intrinsic.gz', 'part-*.gz'))
    assert gz_files, 'expected gzip part files'
    lines = []
    for g in gz_files:
        with gzip.open(g, 'rt') as f:
            lines.extend(f.read().splitlines())
    assert len(lines) == n_i
    assert all(l.endswith(' .') and l.startswith('<turn_') for l in lines[:50])


def test_materialize_resume_idempotent(spark, transcripts, tmp_path):
    from dgraphpandas_spark import horizontal_transform

    intrinsic, _ = horizontal_transform(transcripts, TRANSCRIPT_CONFIG, 'turn')

    # single-pass run = golden
    full_dir = str(tmp_path / 'full')
    manifest_full = materialize_triples(intrinsic, full_dir, n_buckets=8, waves=1)
    assert len(manifest_full) == 8

    # crash after wave 1 of 4, then resume
    crash_dir = str(tmp_path / 'crash')
    with pytest.raises(RuntimeError, match='simulated failure'):
        materialize_triples(intrinsic, crash_dir, n_buckets=8, waves=4, fail_after_wave=1)
    done_after_crash = committed_buckets(crash_dir)
    assert 0 < len(done_after_crash) < 8

    manifest_resumed = materialize_triples(intrinsic, crash_dir, n_buckets=8, waves=4)
    assert len(manifest_resumed) == 8

    # byte-identical content and identical lineage rows
    golden = sorted(map(tuple, spark.read.parquet(f'{full_dir}/data').collect()))
    resumed = sorted(map(tuple, spark.read.parquet(f'{crash_dir}/data').collect()))
    assert golden == resumed
    assert {b: (m['rows'], m['checksum']) for b, m in manifest_full.items()} == {
        b: (m['rows'], m['checksum']) for b, m in manifest_resumed.items()
    }
    # resume is a no-op when everything is committed
    again = materialize_triples(intrinsic, crash_dir, n_buckets=8, waves=4)
    assert again == manifest_resumed


def test_canonicalize_link_and_nodes(spark, transcripts):
    from pyspark.sql import functions as F

    from dgraphpandas_spark import horizontal_transform

    _, edges = horizontal_transform(transcripts, TRANSCRIPT_CONFIG, 'turn')
    edges = edges.cache()

    # dictionary maps qualified tool xids to canonical halves
    dictionary = tool_dictionary(spark, n_tools=50).select(
        F.concat(F.lit('tool_'), F.col('tool_name')).alias('raw'),
        F.concat(F.lit('tool_'), F.col('canonical')).alias('canonical'),
    )
    linked = link_entities(edges, dictionary, target_predicates=['tool'])
    n_raw = edges.select('object').distinct().count()
    n_canon = linked.select('object').distinct().count()
    assert n_canon < n_raw, 'alias collapsing should shrink the entity set'
    assert linked.count() == edges.count(), 'linking must not drop or duplicate edges'

    convs = conversation_edges(transcripts)
    assert convs.count() == transcripts.count()
    r = convs.first()
    assert r['predicate'] == 'conv' and r['object'].startswith('conversation_')

    cn = conversation_nodes(transcripts)
    assert cn.count() == transcripts.select('conv_id').distinct().count()

    tn = tool_nodes(linked)
    assert 0 < tn.count() <= 25 + 1  # 50 tools collapse to ≤25 canonical

    deduped = dedup_triples(edges.unionByName(edges))
    assert deduped.count() == edges.distinct().count()


def test_conversation_xids_attach_to_the_turn_nodes(spark):
    """The turn→conversation edge's subject is horizontal's turn subject
    (scrubbed, null keys as 'None'/'nan'), and its object is the
    conversation node's subject."""
    from pyspark.sql import functions as F

    from dgraphpandas_spark import horizontal_transform

    rows = [
        ('conv 1.a', 0, 'user', 'hi', None, '2026-01-01T10:00:00'),
        ('conv 1.a', 1, 'assistant', 'yo', 'calc', '2026-01-01T10:00:05'),
        (None, 3, 'user', 'x', None, None),
        ('c"2', None, 'user', 'y', None, None),
    ]
    df = spark.createDataFrame(
        rows, 'conv_id string, turn_idx int, role string, text string, tool string, ts string'
    )
    intrinsic, _ = horizontal_transform(df, TRANSCRIPT_CONFIG, 'turn')
    turns = {r[0] for r in intrinsic.filter(F.col('predicate') == 'dgraph.type').select('subject').collect()}
    edges = conversation_edges(df).collect()
    nodes = {r['subject'] for r in conversation_nodes(df).collect()}
    assert {r['subject'] for r in edges} == turns == {'turn_conv1a_0', 'turn_conv1a_1', 'turn_None_3', 'turn_c2_nan'}
    assert {r['object'] for r in edges} == nodes == {'conversation_conv1a', 'conversation_None', 'conversation_c2'}


def test_streaming_available_now(spark, transcripts, tmp_path):
    from dgraphpandas_spark.streaming.stream import (
        stream_transcripts,
        stream_triples,
        write_stream_available_now,
    )

    src = str(tmp_path / 'src')
    transcripts.write.mode('overwrite').parquet(src)

    stream = stream_transcripts(spark, src)
    assert stream.isStreaming
    triples = stream_triples(stream, TRANSCRIPT_CONFIG, 'turn')

    sink = str(tmp_path / 'sink')
    os.makedirs(sink)
    collected = []

    def batch_fn(batch_df, batch_id):
        batch_df.write.mode('append').parquet(sink)

    q = write_stream_available_now(triples, str(tmp_path / 'ckpt'), batch_fn)
    q.awaitTermination(120)

    got = spark.read.parquet(sink)
    from dgraphpandas_spark import horizontal_transform

    ref_i, ref_e = horizontal_transform(transcripts, TRANSCRIPT_CONFIG, 'turn')
    assert got.filter('is_edge = false').count() == ref_i.count()
    assert got.filter('is_edge = true').count() == ref_e.count()


@pytest.mark.parametrize(
    'file_config,surviving',
    [
        ({'ignore_fields': ['text']}, ['turn_c1_0', 'turn_c1_1', 'turn_c2_0', 'turn_c2_1']),
        ({'ignore_fields': ['role', 'text', 'ts'], 'csv_edges': ['tool']}, ['turn_c1_1', 'turn_c2_0']),
    ],
    ids=['ignore_fields', 'all_csv'],
)
def test_stream_triples_one_type_row_per_turn(spark, tmp_path, file_config, surviving):
    """With ignore_fields, and with csv edges as the only kept columns, the
    stream stays stateless (no aggregate or distinct, so it starts in
    append mode) and emits one dgraph.type row per turn that keeps a long row: every turn,
    or those whose csv value is not null."""
    import copy
    from collections import Counter
    from datetime import datetime

    from pyspark.sql import functions as F

    from dgraphpandas_spark.streaming.stream import (
        stream_transcripts,
        stream_triples,
        write_stream_available_now,
    )

    rows = [
        ('c1', 0, 'user', 'hi', None, datetime(2026, 1, 1, 10)),
        ('c1', 1, 'assistant', 'yo', 'calc', datetime(2026, 1, 1, 10, 0, 5)),
        ('c2', 0, 'user', None, 'web, calc', datetime(2026, 1, 2)),
        ('c2', 1, 'tool', 'x', None, None),
    ]
    src = str(tmp_path / 'src')
    spark.createDataFrame(
        rows, 'conv_id string, turn_idx int, role string, text string, tool string, ts timestamp'
    ).write.parquet(src)
    config = copy.deepcopy(TRANSCRIPT_CONFIG)
    config['files']['turn'].update(file_config)
    triples = stream_triples(stream_transcripts(spark, src), config, 'turn')
    analyzed = triples._jdf.queryExecution().analyzed().toString()
    assert 'Aggregate' not in analyzed and 'Distinct' not in analyzed

    sink = str(tmp_path / 'sink')

    def batch_fn(batch_df, batch_id):
        batch_df.write.mode('append').parquet(sink)

    q = write_stream_available_now(triples, str(tmp_path / 'ckpt'), batch_fn)
    q.awaitTermination(120)
    assert q.exception() is None
    types = spark.read.parquet(sink).filter(F.col('predicate') == 'dgraph.type').collect()
    assert Counter(r['subject'] for r in types) == Counter(surviving)


def test_table_format_seam(spark, transcripts, tmp_path):
    from pyspark.sql import functions as F

    from dgraphpandas_spark.sources.table_format import BUCKET_COL, read_table, with_bucket

    out = str(tmp_path / 'bucketed_transcripts.parquet')
    with_bucket(transcripts, 8, 'conv_id').write.partitionBy(BUCKET_COL).parquet(out)

    back = read_table(spark, out)
    assert back.count() == transcripts.count()
    assert back.select('conv_bucket').distinct().count() <= 8

    # bucket routing is key-deterministic: every conv_id maps to ONE bucket
    multi = (
        back.groupBy('conv_id')
        .agg(F.countDistinct('conv_bucket').alias('nb'))
        .filter('nb > 1')
        .count()
    )
    assert multi == 0

    # partition-pruned read: the bucket filter reaches the scan
    one = back.filter(F.col('conv_bucket') == 3)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert 'PartitionFilters: [isnotnull(conv_bucket' in plan


def test_reference_layout_empty_frame_writes_empty_gz(tmp_path):
    """The reference always emits one gz per frame (rdf.py:111-116) even
    when a frame is empty; an empty Spark write produces zero part files,
    so apply_reference_layout must synthesize the empty gz."""
    from dgraphpandas_spark.plans.pipeline import apply_reference_layout

    out = tmp_path / 'exports'
    (out / 'src_intrinsic.gz').mkdir(parents=True)   # empty staging dir
    (out / 'src_edges.gz').mkdir()
    with gzip.open(out / 'src_edges.gz' / 'part-00000.gz', 'wt') as f:
        f.write('line\n')
    finals = apply_reference_layout(str(out), 'src')
    assert os.path.isfile(out / 'src_intrinsic.gz')
    with gzip.open(out / 'src_intrinsic.gz', 'rb') as f:
        assert f.read() == b''
    assert finals['intrinsic'] == [str(out / 'src_intrinsic.gz')]
    with gzip.open(out / 'src_edges.gz', 'rt') as f:
        assert f.read() == 'line\n'


def test_gzip_level_reaches_hadoop_conf(spark):
    """_set_gzip_level sets the UNPREFIXED runtime SQL conf, which
    SessionState.newHadoopConf copies into write jobs' Hadoop conf (the
    'spark.hadoop.' prefix is only honored at SparkContext startup)."""
    from dgraphpandas_spark.plans.pipeline import _set_gzip_level

    _set_gzip_level(spark, 9)
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    assert hconf.get('zlib.compress.level') == 'BEST_COMPRESSION'
    _set_gzip_level(spark, 1)
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    assert hconf.get('zlib.compress.level') == 'BEST_SPEED'


def test_append_mode_exactly_once_and_snapshots(spark, transcripts, tmp_path):
    """Streaming append-mode materialization: one wave per batch, atomic
    markers, replay-idempotent writes, marker-gated reads."""
    from dgraphpandas_spark import horizontal_transform
    from dgraphpandas_spark.plans.lineage import (
        _append_manifest_path,
        append_triples,
        appended_waves,
        read_appended,
    )

    intrinsic, _ = horizontal_transform(transcripts, TRANSCRIPT_CONFIG, 'turn')
    b0 = intrinsic.filter("pmod(xxhash64(subject), 2) = 0")
    b1 = intrinsic.filter("pmod(xxhash64(subject), 2) = 1")
    out = str(tmp_path / 'append')

    m0 = append_triples(b0, out, n_buckets=4, wave=0)
    assert m0['rows'] == b0.count()

    # replay of a COMMITTED wave is a no-op (returns the committed entry)
    again = append_triples(b0.limit(1), out, n_buckets=4, wave=0)
    assert again == m0
    assert read_appended(spark, out).count() == b0.count()

    # half-written wave (data present, no marker) is invisible to readers
    # and fully replaced by the replay — never doubled
    import os as _os

    append_triples(b1, out, n_buckets=4, wave=1)
    marker = _append_manifest_path(out, 1)
    _os.remove(marker)                        # simulate crash before commit
    assert read_appended(spark, out).count() == b0.count()   # wave 1 invisible
    append_triples(b1, out, n_buckets=4, wave=1)             # replay
    total = read_appended(spark, out).count()
    assert total == b0.count() + b1.count()   # exactly once, not doubled

    # each committed wave holds exactly its own batch
    assert appended_waves(out) == [0, 1]
    appended = read_appended(spark, out)
    assert appended.filter('wave = 0').count() == b0.count()
    assert appended.filter('wave = 1').count() == b1.count()
    # content equals the batch transform exactly
    got = sorted(map(tuple, read_appended(spark, out).drop('wave', 'conv_bucket').collect()))
    want = sorted(map(tuple, intrinsic.collect()))
    assert got == want

    # ADVICE r3: reading a store BEFORE any wave committed is safe —
    # empty frame with the triple schema, not AnalysisException
    fresh = str(tmp_path / 'never_written')
    empty = read_appended(spark, fresh)
    assert empty.count() == 0
    assert empty.columns == ['subject', 'predicate', 'object', 'type', 'wave', 'conv_bucket']


def test_append_store_with_markers_but_no_data_raises(spark, transcripts, tmp_path):
    """ADVICE r4: committed wave markers promise data — a store whose data/
    dir vanished (partial delete, wrong path) must raise, not silently read
    as empty; only a store with NO committed waves reads empty."""
    import shutil

    import pytest as _pytest

    from dgraphpandas_spark import horizontal_transform
    from dgraphpandas_spark.plans.lineage import append_triples, read_appended

    intrinsic, _ = horizontal_transform(transcripts, TRANSCRIPT_CONFIG, 'turn')
    out = str(tmp_path / 'corrupt')
    append_triples(intrinsic, out, n_buckets=2, wave=0)
    shutil.rmtree(f'{out}/data')              # simulate partial deletion

    with _pytest.raises(FileNotFoundError, match='committed'):
        read_appended(spark, out)
