"""C7 scrub parity with Python ``re``, reference-free.

The reference removes illegal characters with Python's ``re``; the scrub
here runs Java's regex engine.  Python's ``re.sub`` over the same pattern
is the oracle, for every non-surrogate BMP code point between two letters
and for the ``\\r\\n`` / lone ``\\r`` cases the default lists single out.
"""
from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from dgraphpandas_spark.operators.vertical import (
    ILLEGAL_CHARACTERS,
    ILLEGAL_CHARACTERS_INTRINSIC_OBJECT,
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
