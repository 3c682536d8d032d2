"""Every public function of the package has a caller outside the tests,
and the callers outside the package use only its public names.

A public top-level function of any ``dgraphpandas_spark`` module must be
referenced by name somewhere other than its own ``def``: in the package
(its own module included), the driver contract ``__spark_entry__.py``,
``bench.py`` or ``perfbench/``.  A function only tests call is surface
nobody uses, so it goes, or it gets a driver query and an oracle.

The other direction: the driver, ``bench.py`` and ``perfbench/`` reach no
``_name`` of the package.  A private helper they need is a shared
primitive, so it becomes public in its one home.
"""
from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, 'dgraphpandas_spark')


def _py_files(path: str) -> list:
    if path.endswith('.py'):
        return [path]
    return sorted(
        os.path.join(root, f)
        for root, dirs, files in os.walk(path)
        for f in files
        if f.endswith('.py')
    )


def _parse(path: str) -> ast.Module:
    with open(path, encoding='utf-8') as f:
        return ast.parse(f.read(), filename=path)


def public_functions() -> dict:
    """``name -> module path`` of every public top-level function."""
    out = {}
    for path in _py_files(PACKAGE):
        for node in _parse(path).body:
            if isinstance(node, ast.FunctionDef) and not node.name.startswith('_'):
                out[node.name] = path
    return out


def _names(node: ast.AST):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit('.', 1)[-1]


OUTSIDE = [os.path.join(ROOT, '__spark_entry__.py'), os.path.join(ROOT, 'bench.py'),
           os.path.join(ROOT, 'perfbench')]


def referenced_names() -> set:
    """Names used in the callers, each top-level ``def``'s own body
    excluded from its own name (recursion is not a caller)."""
    roots = [PACKAGE] + OUTSIDE
    seen = set()
    for path in (p for r in roots for p in _py_files(r)):
        for node in _parse(path).body:
            names = set(_names(node))
            if isinstance(node, ast.FunctionDef):
                names.discard(node.name)
            seen |= names
    return seen


def test_every_public_operator_has_a_caller_outside_the_tests():
    used = referenced_names()
    orphans = {
        f'{os.path.relpath(path, ROOT)}:{name}'
        for name, path in public_functions().items()
        if name not in used
    }
    assert not orphans, f'public functions only tests call: {sorted(orphans)}'


def test_the_scan_sees_the_operators():
    public = public_functions()
    assert {'horizontal_transform', 'windowed_counts', 'decode_media_stats',
            'materialize_triples', 'read_table', 'iso_datetime'} <= set(public)
    assert 'windowed_counts' in referenced_names()


def _private(name: str) -> bool:
    return name.startswith('_') and not (name.startswith('__') and name.endswith('__'))


def _root(node: ast.AST):
    while isinstance(node, ast.Attribute):
        node = node.value
    return node.id if isinstance(node, ast.Name) else None


def private_references(source: str) -> list:
    """``(line, name)`` of every private package name ``source`` reaches:
    one imported from a ``dgraphpandas_spark`` module, or an attribute of
    a name bound by such an import (``SS._helper``)."""
    tree = ast.parse(source)
    bound, out = set(), []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or '').split('.')[0] == 'dgraphpandas_spark':
            for a in node.names:
                bound.add(a.asname or a.name)
                if _private(a.name):
                    out.append((node.lineno, a.name))
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split('.')[0] == 'dgraphpandas_spark':
                    bound.add(a.asname or 'dgraphpandas_spark')
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and _private(node.attr) and _root(node.value) in bound:
            out.append((node.lineno, node.attr))
    return sorted(out)


def test_callers_outside_the_package_use_only_public_names():
    found = [
        f'{os.path.relpath(path, ROOT)}:{line} {name}'
        for path in (p for r in OUTSIDE for p in _py_files(r))
        for line, name in private_references(open(path, encoding='utf-8').read())
    ]
    assert not found, f'private package names used outside the package: {found}'


def test_the_private_scan_sees_both_spellings():
    src = (
        'from dgraphpandas_spark.operators import simsearch as SS\n'
        'from dgraphpandas_spark.functions.text import _dup_fraction\n'
        'import dgraphpandas_spark.operators.dedup\n'
        'SS._query_cells(q, c, 2)\n'
        'dgraphpandas_spark.operators.dedup._jaccard(i, s)\n'
        'df._jdf\n'
        'SS.__name__\n'
    )
    assert private_references(src) == [(2, '_dup_fraction'), (4, '_query_cells'), (5, '_jaccard')]
