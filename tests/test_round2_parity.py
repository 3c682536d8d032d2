"""Round-2 parity shims and robustness fixes:

- vertical transform accepts a CSV path (reference strategies/vertical.py:38-41)
- horizontal transform reads a ``.parquet`` path as parquet
- export ``encoding`` honored end-to-end (reference rdf.py:99-142)
- lineage read-back verification optional (``verify=False`` still commits)
- stateful streaming ignores NaT timestamps (no INT64_MIN corruption)
- ``is_path`` treats existing bare dirs as paths, not catalog tables
- ``create_schema`` console / export_csv output (reference schema.py:148-155)
"""
from __future__ import annotations

import glob
import gzip
import os

import pandas as pd
import pytest

from dgraphpandas_spark.plans.lineage import load_manifest, materialize_triples
from dgraphpandas_spark.plans.pipeline import to_rdf


VERTICAL_CONFIG = {
    'transform': 'vertical',
    'files': {
        'customer': {
            'subject_fields': ['customer_id'],
            'edge_fields': ['location_id'],
        }
    },
}


def test_vertical_transform_accepts_csv_path(spark, tmp_path):
    """Parity: reference strategies/vertical.py:38-41 reads the CSV itself
    when ``frame`` is a path."""
    from dgraphpandas_spark import vertical_transform

    csv = tmp_path / 'customer.csv'
    csv.write_text(
        'customer_id,predicate,object\n'
        '1,age,23\n'
        '1,location_id,45\n'
        '2,age,31\n'
    )
    intrinsic, edges = vertical_transform(str(csv), VERTICAL_CONFIG, 'customer')
    got = {(r['subject'], r['predicate'], r['object']) for r in intrinsic.collect()}
    assert ('customer_1', 'age', '23') in got
    edge_rows = {(r['subject'], r['predicate'], r['object']) for r in edges.collect()}
    assert ('customer_1', 'location', 'location_45') in edge_rows


def test_horizontal_transform_reads_parquet_path(spark, tmp_path):
    """A ``.parquet`` path reaches horizontal_transform as a parquet scan,
    the same source reader ``to_rdf`` and ``vertical_transform`` use —
    not as CSV text."""
    from dgraphpandas_spark import horizontal_transform

    path = str(tmp_path / 'customer.parquet')
    spark.createDataFrame(
        [(1, 23, 45), (2, 31, 46)], 'customer_id int, age int, location_id int'
    ).write.parquet(path)
    config = {'files': {'customer': VERTICAL_CONFIG['files']['customer']}}
    intrinsic, edges = horizontal_transform(path, config, 'customer')
    got = {(r['subject'], r['predicate'], r['object']) for r in intrinsic.collect()}
    assert ('customer_1', 'age', '23') in got
    assert ('customer_2', 'age', '31') in got
    edge_rows = {(r['subject'], r['predicate'], r['object']) for r in edges.collect()}
    assert edge_rows == {
        ('customer_1', 'location', 'location_45'),
        ('customer_2', 'location', 'location_46'),
    }


def test_rdf_export_honors_encoding(spark, tmp_path):
    """Non-UTF8 export routes through the CSV writer with quoting disabled;
    lines must round-trip byte-identical in the requested charset
    (reference rdf.py:135 encodes each line)."""
    df = spark.createDataFrame(
        [(1, 'café'), (2, 'señor')], ['customer_id', 'name']
    )
    config = {
        'files': {
            'customer': {
                'subject_fields': ['customer_id'],
                # keep é/ñ: restrict object scrubbing to a char not present
                'illegal_characters_intrinsic_object': ['\\n'],
            }
        }
    }
    out = str(tmp_path / 'latin')
    to_rdf(df, config, 'customer', output_dir=out,
           export_rdf=True, encoding='latin-1')

    gz_files = glob.glob(os.path.join(out, 'customer_intrinsic.gz', 'part-*.gz'))
    assert gz_files
    lines = []
    for g in gz_files:
        with gzip.open(g, 'rb') as f:
            lines.extend(f.read().decode('latin-1').splitlines())
    name_lines = sorted(l for l in lines if '<name>' in l)
    assert '<customer_1> <name> "café"^^<xs:string> .' in name_lines
    assert '<customer_2> <name> "señor"^^<xs:string> .' in name_lines


def test_materialize_unverified_still_commits(spark, tmp_path):
    """verify=False skips the read-back pass but must still write atomic
    manifest commit markers (resume contract unchanged)."""
    df = spark.createDataFrame(
        [(f's{i}', 'p', str(i), None) for i in range(100)],
        'subject string, predicate string, object string, type string',
    )
    out = str(tmp_path / 'mat')
    manifest = materialize_triples(df, out, n_buckets=4, verify=False)
    assert sorted(manifest) == [0, 1, 2, 3]
    for row in manifest.values():
        assert row['status'] == 'committed'
        assert row['verified'] is False
        assert row['rows'] is None  # per-bucket stats need the read-back
        assert row['wave_rows'] == 100  # observed on the write, free
    assert spark.read.parquet(f'{out}/data').count() == 100
    # re-entry is a no-op (all buckets committed)
    again = materialize_triples(df, out, n_buckets=4, verify=False)
    assert again == load_manifest(out)


def test_materialize_verified_has_checksums(spark, tmp_path):
    df = spark.createDataFrame(
        [(f's{i}', 'p', str(i), None) for i in range(50)],
        'subject string, predicate string, object string, type string',
    )
    out = str(tmp_path / 'matv')
    manifest = materialize_triples(df, out, n_buckets=2, verify=True)
    assert sum(r['rows'] for r in manifest.values()) == 50
    assert all(r['verified'] is True for r in manifest.values())


class _FakeGroupState:
    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def test_stateful_update_ignores_nat():
    """A NaT ts in a batch must not poison first_ts with INT64_MIN."""
    from dgraphpandas_spark.streaming.stateful import _update_session

    state = _FakeGroupState()
    pdf = pd.DataFrame({
        'conv_id': ['c1'] * 3,
        'turn_idx': [0, 1, 2],
        'role': ['user', 'assistant', 'user'],
        'text': ['a', 'b', 'c'],
        'tool': [None, 'search', None],
        'ts': [pd.Timestamp('2024-01-01 00:00:01'), pd.NaT,
               pd.Timestamp('2024-01-01 00:00:05')],
    })
    (out,) = _update_session(('c1',), [pdf], state)
    row = out.iloc[0]
    assert row['n_turns'] == 3
    assert row['first_ts'] == int(pd.Timestamp('2024-01-01 00:00:01').value) // 1000
    assert row['last_ts'] == int(pd.Timestamp('2024-01-01 00:00:05').value) // 1000
    assert row['first_ts'] > 0  # INT64_MIN would be hugely negative


def test_all_nat_batch_keeps_none_ts():
    from dgraphpandas_spark.streaming.stateful import _update_session

    state = _FakeGroupState()
    pdf = pd.DataFrame({
        'conv_id': ['c1'], 'turn_idx': [0], 'role': ['user'],
        'text': ['a'], 'tool': [None], 'ts': [pd.NaT],
    })
    (out,) = _update_session(('c1',), [pdf], state)
    assert out.iloc[0]['first_ts'] is None


def test_is_path_existing_dir(tmp_path, monkeypatch):
    from dgraphpandas_spark.sources.table_format import is_path

    monkeypatch.chdir(tmp_path)
    os.makedirs('outdir')
    assert is_path('outdir')  # exists on disk → path, not catalog table
    assert not is_path('catalog.db.table')
    assert is_path('data.parquet') and is_path('a/b')


def test_create_schema_console_and_csv(tmp_path, capsys):
    """Parity: reference strategies/schema.py:148-155 prints the schema frame
    under console=True and writes the pre-schema rows under export_csv."""
    from dgraphpandas_spark.writers.schema import create_schema

    config = {
        'files': {
            'customer': {
                'subject_fields': ['customer_id'],
                'type_overrides': {'age': 'int32'},
            }
        }
    }
    rows = create_schema(config, output_dir=str(tmp_path),
                         console=True, export_csv=True)
    printed = capsys.readouterr().out
    assert 'age' in printed
    csv_path = tmp_path / 'schema.csv'
    assert csv_path.exists()
    body = csv_path.read_text()
    assert body.startswith('column,type,table,options\n')
    assert 'age,int' in body
    assert len(body.strip().splitlines()) == len(rows) + 1


def test_reference_layout_renames(spark, tmp_path):
    """reference_layout=True converts Spark's part-file directory into the
    reference's chunk-indexed single files (reference rdf.py:111-116)."""
    df = spark.createDataFrame(
        [(i, f'name{i}') for i in range(30)], ['customer_id', 'name']
    ).repartition(3)
    config = {'files': {'customer': {'subject_fields': ['customer_id']}}}
    out = str(tmp_path / 'ref_layout')
    to_rdf(df, config, 'customer', output_dir=out,
           export_rdf=True, reference_layout=True)

    first = os.path.join(out, 'customer_intrinsic.gz')
    assert os.path.isfile(first), 'first chunk must be a FILE, not a dir'
    chunks = sorted(glob.glob(os.path.join(out, 'customer_intrinsic*.gz')))
    # ≥3 input partitions → first chunk plus contiguous _2.._k siblings
    assert len(chunks) >= 3
    expected = {first} | {
        os.path.join(out, f'customer_intrinsic_{i}.gz')
        for i in range(2, len(chunks) + 1)
    }
    assert set(chunks) == expected
    assert not os.path.exists(first + '.spark'), 'staging dir cleaned up'
    lines = []
    for c in chunks:
        with gzip.open(c, 'rt') as f:
            lines.extend(f.read().splitlines())
    # 30 rows × (name + dgraph.type) intrinsic triples
    assert len(lines) == 60
