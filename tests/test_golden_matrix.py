"""Reference-free goldens for the horizontal and vertical entries: every
case of ``tools/capture_goldens.py`` must reproduce its committed
per-branch checksum ``(count, bit_xor(xxhash64(subject, predicate, object,
type)))`` in ``tests/golden/horizontal_matrix.json`` and
``tests/golden/vertical_matrix.json`` (provenance: tests/golden/README.md)
and emit one dgraph.type row per subject, and ``assume_unique_subjects``
must not change the output of a case whose keys are unique."""
from __future__ import annotations

import importlib.util
import json
import os

import pytest

_TOOL = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), 'tools', 'capture_goldens.py')
_spec = importlib.util.spec_from_file_location('capture_goldens', _TOOL)
goldens = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(goldens)

with open(goldens.GOLDEN_PATH) as _f:
    GOLDEN = json.load(_f)['cases']
with open(goldens.VERTICAL_GOLDEN_PATH) as _f:
    VERTICAL_GOLDEN = json.load(_f)['cases']


def _assert_golden(frames, golden):
    assert goldens.checksums(frames) == golden
    rows, subjects = goldens.type_row_counts(frames)
    assert rows == subjects, 'duplicate dgraph.type rows'


def test_every_case_has_a_golden():
    assert sorted(GOLDEN) == sorted(c[0] for c in goldens.CASES)
    assert sorted(VERTICAL_GOLDEN) == sorted(c[0] for c in goldens.VERTICAL_CASES)


@pytest.mark.parametrize('case', goldens.CASES, ids=[c[0] for c in goldens.CASES])
def test_horizontal_matches_golden(spark, case):
    _assert_golden(goldens.horizontal_output(spark, case), GOLDEN[case[0]])


@pytest.mark.parametrize('case', goldens.VERTICAL_CASES, ids=[c[0] for c in goldens.VERTICAL_CASES])
def test_vertical_matches_golden(spark, case):
    _assert_golden(goldens.vertical_output(spark, case), VERTICAL_GOLDEN[case[0]])


def _unique_option(case) -> bool:
    _name, _schema, _rows, config, _key, kwargs = case
    return bool(kwargs.get('assume_unique_subjects', config.get('assume_unique_subjects', False)))


def _without_option(case):
    name, schema, rows, config, key, kwargs = case
    return (
        name, schema, rows,
        {k: v for k, v in config.items() if k != 'assume_unique_subjects'}, key,
        {k: v for k, v in kwargs.items() if k != 'assume_unique_subjects'},
    )


UNIQUE_CASES = [
    (entry, case)
    for entry, (cases, _output, _path) in goldens.ENTRIES.items()
    for case in cases
    if _unique_option(case)
]


@pytest.mark.parametrize(
    'entry,case', UNIQUE_CASES, ids=[f'{entry}-{case[0]}' for entry, case in UNIQUE_CASES]
)
def test_unique_subjects_option_changes_nothing(spark, entry, case):
    """The option only asserts that source keys are unique; where they are,
    the output equals the same case without it (the reference's
    ``drop_duplicates`` R3).  A long frame's key is its subject key plus
    the predicate."""
    _name, schema, rows, config, key, _kwargs = case
    columns = [field.split()[0] for field in schema.split(',')]
    key_columns = list(config['files'][key]['subject_fields'])
    if 'predicate' in columns:
        key_columns.append('predicate')
    keys = [tuple(row[columns.index(k)] for k in key_columns) for row in rows]
    assert len(set(keys)) == len(keys), 'the case must have unique keys'

    output = goldens.ENTRIES[entry][1]
    assert goldens.checksums(output(spark, case)) == goldens.checksums(output(spark, _without_option(case)))
