"""Reference-free goldens for the horizontal and vertical entries: every
case of ``tools/capture_goldens.py`` must reproduce its committed
per-branch checksum ``(count, bit_xor(xxhash64(subject, predicate, object,
type)))`` in ``tests/golden/horizontal_matrix.json`` and
``tests/golden/vertical_matrix.json`` (provenance: tests/golden/README.md)."""
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


def test_every_case_has_a_golden():
    assert sorted(GOLDEN) == sorted(c[0] for c in goldens.CASES)
    assert sorted(VERTICAL_GOLDEN) == sorted(c[0] for c in goldens.VERTICAL_CASES)


@pytest.mark.parametrize('case', goldens.CASES, ids=[c[0] for c in goldens.CASES])
def test_horizontal_matches_golden(spark, case):
    assert goldens.case_checksums(spark, case) == GOLDEN[case[0]]


@pytest.mark.parametrize('case', goldens.VERTICAL_CASES, ids=[c[0] for c in goldens.VERTICAL_CASES])
def test_vertical_matches_golden(spark, case):
    assert goldens.vertical_case_checksums(spark, case) == VERTICAL_GOLDEN[case[0]]
