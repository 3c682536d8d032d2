"""Differential test: F1 transcript fixture (FIXTURES.md) through the
reference (pandas) and through our Spark engine → exact triple-set equality
and golden N-Quad lines.
"""
from __future__ import annotations

import datetime as dt

import pandas as pd

from tests.conftest import ref_triples_set, triples_set

F1_CONFIG = {
    'transform': 'horizontal',
    'files': {
        'turn': {
            'subject_fields': ['conv_id', 'turn_idx'],
            'edge_fields': ['tool'],
            'type_overrides': {'turn_idx': 'int32', 'ts': 'datetime64[ns]'},
            'date_fields': {'ts': {'format': '%Y-%m-%dT%H:%M:%S'}},
        }
    },
}

F1_ROWS = [
    ('c1', 0, 'user', 'hello world', None, '2026-01-01T10:00:00'),
    ('c1', 1, 'assistant', 'hi "there"', 'websearch', '2026-01-01T10:00:05'),
    ('c2', 0, 'user', None, None, '2026-01-02T09:00:00'),
]
F1_COLUMNS = ['conv_id', 'turn_idx', 'role', 'text', 'tool', 'ts']


def _ref_transform(rows, config, key):
    from dgraphpandas.strategies.horizontal import horizontal_transform as ref_horizontal

    pdf = pd.DataFrame(rows, columns=F1_COLUMNS)
    return ref_horizontal(pdf, {k: (dict(v) if isinstance(v, dict) else v) for k, v in config.items()}, key)


def _spark_transform(spark, rows, config, key, **kwargs):
    from dgraphpandas_spark import horizontal_transform

    sdf = spark.createDataFrame(pd.DataFrame(rows, columns=F1_COLUMNS))
    return horizontal_transform(sdf, config, key, **kwargs)


def test_f1_transcripts_match_reference(spark):
    ref_intrinsic, ref_edges = _ref_transform(F1_ROWS, F1_CONFIG, 'turn')
    got_intrinsic, got_edges = _spark_transform(spark, F1_ROWS, F1_CONFIG, 'turn')

    assert triples_set(got_intrinsic) == ref_triples_set(ref_intrinsic)
    assert triples_set(got_edges) == ref_triples_set(ref_edges)


def test_f1_golden_upsert_lines(spark):
    """FIXTURES.md F1 golden output, exact strings."""
    from dgraphpandas_spark.writers.upserts import generate_upserts

    intrinsic, edges = _spark_transform(spark, F1_ROWS, F1_CONFIG, 'turn')
    ilines, elines = generate_upserts(intrinsic, edges)

    got_i = {r['line'] for r in ilines.collect()}
    got_e = {r['line'] for r in elines.collect()}

    expected_i = {
        '<turn_c1_0> <role> "user"^^<xs:string> .',
        '<turn_c1_1> <role> "assistant"^^<xs:string> .',
        '<turn_c2_0> <role> "user"^^<xs:string> .',
        '<turn_c1_0> <text> "hello world"^^<xs:string> .',
        '<turn_c1_1> <text> "hi there"^^<xs:string> .',
        '<turn_c1_0> <dgraph.type> "turn"^^<xs:string> .',
        '<turn_c1_1> <dgraph.type> "turn"^^<xs:string> .',
        '<turn_c2_0> <dgraph.type> "turn"^^<xs:string> .',
        '<turn_c1_0> <ts> "2026-01-01T10:00:00"^^<xs:dateTime> .',
        '<turn_c1_1> <ts> "2026-01-01T10:00:05"^^<xs:dateTime> .',
        '<turn_c2_0> <ts> "2026-01-02T09:00:00"^^<xs:dateTime> .',
    }
    expected_e = {'<turn_c1_1> <tool> <tool_websearch> .'}
    assert got_i == expected_i
    assert got_e == expected_e


def test_f1_per_turn_text_equality(spark):
    """BASELINE input_hint invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering."""
    ref_intrinsic, _ = _ref_transform(F1_ROWS, F1_CONFIG, 'turn')
    got_intrinsic, _ = _spark_transform(spark, F1_ROWS, F1_CONFIG, 'turn')

    ref_text = (
        ref_intrinsic[ref_intrinsic['predicate'] == 'text']
        .dropna(subset=['object'])
        .sort_values('subject')['object']
        .astype(str)
        .tolist()
    )
    got_text = [
        r['object']
        for r in got_intrinsic.filter("predicate = 'text'").orderBy('subject').collect()
    ]
    assert got_text == ref_text


def test_bulk_transcripts_precision_recall(spark):
    """North-rule metric at bulk scale: 5,000 Zipf-skewed generated turns
    through the reference pandas engine AND the Spark engine; triple-set
    precision and recall computed explicitly.  The rule's bar is
    P/R >= 0.95 — the engine holds exact equality (P = R = 1.0), asserted
    as such so any future drift below 1.0 is visible even while the bar
    still passes."""
    from dgraphpandas_spark.sources.transcripts import TRANSCRIPT_CONFIG, synthetic_transcripts

    sdf = synthetic_transcripts(spark, n_turns=5000, seed=7)
    pdf = sdf.toPandas()

    got_i, got_e = _spark_transform_df(spark, sdf, TRANSCRIPT_CONFIG, 'turn')
    got = triples_set(got_i) | triples_set(got_e)

    from dgraphpandas.strategies.horizontal import horizontal_transform as ref_horizontal

    cfg = {k: (dict(v) if isinstance(v, dict) else v) for k, v in TRANSCRIPT_CONFIG.items()}
    ref_i, ref_e = ref_horizontal(pdf, cfg, 'turn')
    ref = ref_triples_set(ref_i) | ref_triples_set(ref_e)

    tp = len(got & ref)
    precision = tp / len(got)
    recall = tp / len(ref)
    assert precision >= 0.95 and recall >= 0.95       # the north-rule bar
    assert precision == 1.0 and recall == 1.0, (
        len(got - ref), len(ref - got), sorted(got - ref)[:3], sorted(ref - got)[:3]
    )


def _spark_transform_df(spark, sdf, config, key):
    from dgraphpandas_spark import horizontal_transform

    return horizontal_transform(sdf, config, key)
