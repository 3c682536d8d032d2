"""C7 scrub and csv_edges strip parity with Python, reference-free.

The reference removes illegal characters with Python's ``re`` and strips
csv_edges pieces with ``str.strip``; here the scrub is compiled at plan
time (``vertical.compile_scrub``: ``translate``/``replace`` where the
list lowers, Java's regex where it does not) and the strip runs on Java's
regex engine.  Python's ``re.sub`` over the same pattern is the oracle,
for every non-surrogate BMP code point between two letters, a sample of
supplementary code points, and the ``\\r\\n`` / lone ``\\r`` and
order-sensitive literal cases the lists single out; ``str.strip`` is the
oracle for every BMP code point on both sides of a letter.
"""
from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dgraphpandas_spark.operators import vertical
from dgraphpandas_spark.operators.vertical import (
    ILLEGAL_CHARACTERS,
    ILLEGAL_CHARACTERS_INTRINSIC_OBJECT,
    _expand_csv_edges,
    compile_scrub,
    subject_expr,
)

SUPPLEMENTARY = [0x104A0, 0x1D7CE, 0x1F600, 0x10400, 0x20000, 0xE0001, 0x10FFFD]
TEXTS = (
    ['a' + chr(c) + 'b' for c in range(0x10000) if not 0xD800 <= c <= 0xDFFF]
    + ['a' + chr(c) + 'b' for c in list(range(0x10000, 0x110000, 997)) + SUPPLEMENTARY]
    + ['a\r\nb', 'a\rb', '\r\n\r', 'x \x1c\r\n\x1f y', 'aab', 'abab', 'aaab', 'bab', '\r\r\n\n']
)

# name -> (character list, the form it lowers to)
CHAR_LISTS = {
    'edge_and_subject': (ILLEGAL_CHARACTERS, 'translate'),
    'intrinsic_object': (ILLEGAL_CHARACTERS_INTRINSIC_OBJECT, 'replace'),
    'class_with_space': ([r'[\s%]+', r'\.'], 'regex'),
    'digit': ([r'\d'], 'translate'),
    'word': ([r'\w'], 'translate'),
    'golden_o_digit': (['o', r'\d'], 'translate'),
    'char_before_literal': (['a', 'ab'], 'translate'),
    'literal_before_char': (['ab', 'a'], 'replace'),
    'cr_before_crlf': ([r'\r', r'\r\n'], 'translate'),
    'negated_class': (['[^a-z]'], 'regex'),
}


def _form(scrub) -> str:
    if scrub.removed is None:
        return 'regex'
    return 'replace' if scrub.literal else 'translate'


@pytest.fixture(scope='module')
def texts(spark):
    return spark.createDataFrame(list(enumerate(TEXTS)), 'i int, t string')


@pytest.mark.parametrize('name', sorted(CHAR_LISTS))
def test_scrub_matches_python_re(texts, name):
    chars, form = CHAR_LISTS[name]
    scrub = compile_scrub(chars)
    assert _form(scrub) == form
    oracle = re.compile('|'.join(chars))
    got = dict(texts.select('i', scrub(F.col('t'))).collect())
    wrong = [TEXTS[i] for i, s in got.items() if s != oracle.sub('', TEXTS[i])]
    assert len(got) == len(TEXTS)
    assert not wrong, f'{len(wrong)} texts differ from re.sub, e.g. {wrong[:8]!r}'
    assert texts.select(scrub(F.lit(None).cast('string'))).first()[0] is None


def test_scrub_plans_without_regexp_replace_where_it_lowers(spark):
    df = spark.createDataFrame([('a',)], 't string')
    for chars, form in CHAR_LISTS.values():
        expr = str(df.select(compile_scrub(chars)(F.col('t')))._jdf.queryExecution().analyzed())
        assert ('regexp_replace' in expr) == (form == 'regex'), chars


def test_second_transform_does_not_re_enumerate(spark, monkeypatch):
    from dgraphpandas_spark import horizontal_transform
    from dgraphpandas_spark.sources.transcripts import TRANSCRIPT_CONFIG

    df = spark.createDataFrame(
        [('c 1', 0, 'user', 'hi', None, '2026-01-01T10:00:00')],
        'conv_id string, turn_idx int, role string, text string, tool string, ts string',
    )
    horizontal_transform(df, TRANSCRIPT_CONFIG, 'turn')
    calls = []
    real = vertical._alternative
    monkeypatch.setattr(vertical, '_alternative', lambda alt: calls.append(alt) or real(alt))
    horizontal_transform(df, TRANSCRIPT_CONFIG, 'turn')
    assert calls == []


SUBJECT_ROWS = [
    ('c 1.a', 7, -12, 'x'),
    ('o"%\n', 0, 305, None),
    (None, None, None, 'y'),
    ('plain', 2026, 5, '١٢'),
]


@pytest.mark.parametrize('chars', [ILLEGAL_CHARACTERS, ['o', r'\d'], [r'\d'], ['%', '-'], ['[^a-z]']],
                         ids=['default', 'o_digit', 'digit', 'percent_minus', 'negated_class'])
def test_per_part_subject_equals_whole_subject_scrub(spark, chars):
    """The subject scrubbed per key part (type, separator and null forms
    at plan time; an int part only when a digit or '-' is removed) equals
    the scrub of the whole concatenated subject, and ``re.sub`` over it."""
    df = spark.createDataFrame(SUBJECT_ROWS, 's string, i int, l long, t string')
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    key, sep, dgraph_type = ['s', 'i', 'l', 't'], '.', 'my.type'
    scrub = compile_scrub(chars)
    rows = df.select(
        subject_expr(key, sep, dgraph_type, dtypes, scrub).alias('part'),
        scrub(subject_expr(key, sep, dgraph_type, dtypes)).alias('whole'),
        subject_expr(key, sep, dgraph_type, dtypes).alias('raw'),
    ).collect()
    oracle = re.compile('|'.join(chars))
    for r in rows:
        assert r['part'] == r['whole'] == oracle.sub('', r['raw'])
    assert isinstance(dtypes['i'], T.IntegerType)
    if chars == [r'\d']:
        assert not any(ch.isdigit() for r in rows for ch in r['part'])


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
