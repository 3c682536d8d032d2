"""C7 scrub and csv_edges strip parity with Python, reference-free.

The reference removes illegal characters with Python's ``re`` and strips
csv_edges pieces with ``str.strip``; both run on Java's regex engine here.
Python's ``re.sub`` over the same pattern is the oracle, for every
non-surrogate BMP code point between two letters and for the ``\\r\\n`` /
lone ``\\r`` cases the default lists single out; ``str.strip`` is the
oracle for every such code point on both sides of a letter.
"""
from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from dgraphpandas_spark.operators.vertical import (
    ILLEGAL_CHARACTERS,
    ILLEGAL_CHARACTERS_INTRINSIC_OBJECT,
    _expand_csv_edges,
    _scrub_expr,
)

TEXTS = [
    'a' + chr(c) + 'b' for c in range(0x10000) if not 0xD800 <= c <= 0xDFFF
] + ['a\r\nb', 'a\rb', '\r\n\r', 'x \x1c\r\n\x1f y']

CHAR_LISTS = {
    'edge_and_subject': ILLEGAL_CHARACTERS,
    'intrinsic_object': ILLEGAL_CHARACTERS_INTRINSIC_OBJECT,
    'class_with_space': [r'[\s%]+', r'\.'],
}


@pytest.fixture(scope='module')
def texts(spark):
    return spark.createDataFrame(list(enumerate(TEXTS)), 'i int, t string')


@pytest.mark.parametrize('name', sorted(CHAR_LISTS))
def test_scrub_matches_python_re(texts, name):
    chars = CHAR_LISTS[name]
    oracle = re.compile('|'.join(chars))
    got = dict(texts.select('i', _scrub_expr(F.col('t'), chars)).collect())
    wrong = [TEXTS[i] for i, s in got.items() if s != oracle.sub('', TEXTS[i])]
    assert len(got) == len(TEXTS)
    assert not wrong, f'{len(wrong)} texts differ from re.sub, e.g. {wrong[:8]!r}'


def test_csv_edges_strip_matches_python_str_strip(spark):
    padded = [
        chr(c) + 'a' + chr(c) for c in range(0x10000)
        if not 0xD800 <= c <= 0xDFFF and chr(c) != ','
    ]
    df = spark.createDataFrame(
        [(i, 'p', t) for i, t in enumerate(padded)], 'i int, predicate string, object string'
    )
    got = dict(_expand_csv_edges(df, ['p']).select('i', 'object').collect())
    wrong = [padded[i] for i, s in got.items() if s != padded[i].strip()]
    assert len(got) == len(padded)
    assert not wrong, f'{len(wrong)} objects differ from str.strip, e.g. {wrong[:8]!r}'
