"""One spelling per similarity primitive.

The near-dup, kNN and ANN operators share three primitives, each written
once: the Lloyd k-means seed selection (``simsearch.train_pq_codebooks``;
IVF training is its one-subspace case), the word n-gram chain
(``functions.text.word_ngrams``) and the exact cosine score of a top-k
(``simsearch._cosine_topk``).  The scan below finds every spelling of each
in the package and fails on a second one.  The helpers are checked against
the forms they replaced.
"""
from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from dgraphpandas_spark.functions.text import tokens

PACKAGE = Path(__file__).resolve().parents[1] / 'dgraphpandas_spark'
HOMES = {
    'Lloyd seed selection': ('operators/simsearch.py', 'train_pq_codebooks'),
    'zip_with n-gram chain': ('functions/text.py', 'word_ngrams'),
    'round(cosine(...))': ('operators/simsearch.py', '_cosine_topk'),
}


def _name(node):
    return isinstance(node, ast.Call) and (
        getattr(node.func, 'attr', None) or getattr(node.func, 'id', None)
    )


def _kind(node):
    """The primitive ``node`` spells, if any: ``orderBy(…md5(…)…).limit(…)``,
    ``zip_with(…, lambda x, y: concat(…))`` or ``round(cosine(…), …)``."""
    name = _name(node)
    if name == 'limit' and isinstance(node.func, ast.Attribute):
        owner = node.func.value
        if _name(owner) == 'orderBy' and any(_name(a) == 'md5' for a in owner.args):
            return 'Lloyd seed selection'
    elif name == 'zip_with':
        fns = [a for a in node.args if isinstance(a, ast.Lambda)]
        if fns and _name(fns[0].body) == 'concat':
            return 'zip_with n-gram chain'
    elif name == 'round' and node.args and _name(node.args[0]) == 'cosine':
        return 'round(cosine(...))'
    return None


def primitive_spellings(source: str):
    """(enclosing top-level function or None, line, kind) of every
    primitive spelled in ``source``."""
    for stmt in ast.parse(source).body:
        owner = stmt.name if isinstance(stmt, ast.FunctionDef) else None
        for node in ast.walk(stmt):
            kind = _kind(node)
            if kind:
                yield owner, node.lineno, kind


def test_each_primitive_is_spelled_once_in_its_home():
    found = {kind: [] for kind in HOMES}
    for path in sorted(PACKAGE.rglob('*.py')):
        rel = path.relative_to(PACKAGE).as_posix()
        for owner, line, kind in primitive_spellings(path.read_text(encoding='utf-8')):
            found[kind].append((rel, owner, line))
    wrong = {
        kind: sites for kind, sites in found.items()
        if [(rel, owner) for rel, owner, _ in sites] != [HOMES[kind]]
    }
    assert not wrong, f'spell each primitive once, in its home {HOMES}: {wrong}'


def test_the_scan_sees_each_spelling():
    src = (
        "def f(df, toks, v, q):\n"
        "    df.orderBy(F.md5(F.col('id').cast('string')), F.col('id')).limit(8)\n"
        "    F.zip_with(toks, toks, lambda x, y: F.concat(x, F.lit(' '), y))\n"
        "    F.round(cosine(v, q), 6)\n"
        "    F.zip_with(toks, toks, lambda x, y: F.least(x, y))\n"
        "    df.orderBy(F.col('id')).limit(8)\n"
    )
    assert [(line, kind) for _, line, kind in primitive_spellings(src)] == [
        (2, 'Lloyd seed selection'), (3, 'zip_with n-gram chain'), (4, 'round(cosine(...))')]


DOCS = ['', '   ', None, 'one', 'a b', 'the cat sat on the mat', ' x  y\tz  ',
        ' '.join(f'w{i % 5}' for i in range(23))]


@pytest.fixture(scope='module')
def docs(spark):
    return spark.createDataFrame([(i, t) for i, t in enumerate(DOCS)], 'id long, text string') \
        .select('id', tokens(F.col('text')).alias('toks'))


@pytest.mark.parametrize('n', [1, 2, 3, 8])
def test_word_ngrams_equal_the_sliced_transform(docs, n):
    """Same grams, same order as ``transform(sequence(1, size - n + 1),
    i -> array_join(slice(toks, i, n), ' '))``, the form it replaced."""
    from dgraphpandas_spark.functions.text import word_ngrams

    toks = F.col('toks')
    sliced = F.when(F.size(toks) < n, F.array().cast('array<string>')).otherwise(
        F.transform(F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
                    lambda i: F.array_join(F.slice(toks, i, n), ' ')))
    rows = docs.select(word_ngrams(toks, n).alias('new'), sliced.alias('old')).collect()
    assert [r['new'] for r in rows] == [r['old'] for r in rows]
    assert any(r['new'] for r in rows)


@pytest.mark.parametrize('size,stride', [(2, 2), (3, 3), (4, 3), (5, 2)])
def test_token_windows_start_at_every_stride(docs, size, stride):
    from dgraphpandas_spark.functions.text import token_windows, window_count

    toks = F.col('toks')
    rows = docs.select('toks', token_windows(toks, size, stride).alias('w'),
                       window_count(toks, stride).alias('n')).collect()
    for r in rows:
        t = r['toks'] or []
        assert r['w'] == [' '.join(t[i:i + size]) for i in range(0, len(t), stride)]
        assert r['n'] == len(r['w'])
