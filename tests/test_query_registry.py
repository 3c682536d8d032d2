"""The driver's query registry: ``queries()`` is derived from the
module's ``q_<name>`` functions, least recently driver-checked first, and
every query has an ``oracle_sql()`` twin."""
from __future__ import annotations

import ast
import glob
import json
import os
import re

import __spark_entry__ as E

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _declared() -> list:
    with open(os.path.join(ROOT, '__spark_entry__.py'), encoding='utf-8') as f:
        tree = ast.parse(f.read())
    return [n.name[2:] for n in tree.body
            if isinstance(n, ast.FunctionDef) and n.name.startswith('q_')]


def _last_round() -> dict:
    last = {}
    for path in glob.glob(os.path.join(ROOT, 'CORRECTNESS_r*.json')):
        n = int(re.search(r'_r(\d+)\.json$', path).group(1))
        with open(path) as f:
            for name in json.load(f):
                last[name] = max(last.get(name, 0), n)
    return last


def test_every_query_has_an_oracle_and_a_q_function():
    names = set(E.queries())
    assert names == set(E.oracle_sql())
    assert names == set(_declared())
    assert len(names) >= 112


def test_queries_are_least_recently_checked_first_then_declared():
    last = _last_round()
    declared = _declared()
    expected = sorted(declared, key=lambda n: (last.get(n, 0), declared.index(n)))
    assert list(E.queries()) == expected

