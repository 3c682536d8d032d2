"""The oracle-replay numerics (functions/determinism.py): each helper
against its definition, the tie behaviour that tells ``units`` from
``half_up``, and a scan that keeps every other package module from
spelling the same rounding or hash by hand."""
from __future__ import annotations

import ast
import hashlib
import math
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from dgraphpandas_spark.functions.determinism import half_up, md5_int, quantize, units

PACKAGE = Path(__file__).resolve().parents[1] / 'dgraphpandas_spark'
HOME = PACKAGE / 'functions' / 'determinism.py'


@pytest.mark.parametrize('hex_digits,dtype', [(4, 'int'), (8, 'bigint'), (15, 'bigint')])
def test_md5_int_is_the_md5_hex_prefix(spark, hex_digits, dtype):
    words = ['', 'a', 'hello world', 'conv_7|tool|x', 'ünïcödé']
    df = spark.createDataFrame([(w,) for w in words], 's string')
    out = df.select('s', md5_int(F.col('s').cast('binary'), hex_digits).alias('h'))
    assert dict(out.dtypes)['h'] == dtype
    got = {r['s']: r['h'] for r in out.collect()}
    want = {w: int(hashlib.md5(w.encode()).hexdigest()[:hex_digits], 16) for w in words}
    assert got == want


def test_units_and_quantize_build_the_integer_space_expression():
    x = F.col('x')
    assert str(units(x, 1e12)) == str(F.round(x * 1e12, 0).cast('long'))
    assert str(units(x, 1_000_000)) == str(F.round(x * 1_000_000, 0).cast('long'))
    scale = F.lit(1e6)
    assert str(quantize(x, 6)) == str(F.round(x * scale, 0).cast('long') / scale)


def test_units_and_quantize_round_ties_away_from_zero(spark):
    # every x · scale below is an exact X.5 double
    ties = [(2.5, 1, 3), (-2.5, 1, -3), (0.5, 1, 1), (-0.5, 1, -1), (0.25, 10, 3), (-0.25, 10, -3)]
    row = spark.range(1).select(
        *[units(F.lit(x), s).alias(f'u{i}') for i, (x, s, _) in enumerate(ties)],
        quantize(F.lit(0.125), 2).alias('pos'),
        quantize(F.lit(-0.125), 2).alias('neg'),
    ).first()
    assert [row[f'u{i}'] for i in range(len(ties))] == [u for _, _, u in ties]
    assert (row['pos'], row['neg']) == (0.13, -0.13)


def test_half_up_rounds_ties_toward_positive_infinity():
    assert half_up(-0.5, 0) == 0  # units gives -1 here: the two are not interchangeable
    assert half_up(0.5, 0) == 1
    assert half_up(2.5, 0) == 3
    assert half_up(-2.5, 0) == -2
    assert half_up(0.125, 2) == 0.13
    assert half_up(-0.125, 2) == -0.12
    for x in (0.1234565, -0.333333333, 1.0 / 3.0, 123.4567891, -1e-7):
        assert half_up(x, 6) == math.floor(x * 1e6 + 0.5) / 1e6


def _name(node):
    return isinstance(node, ast.Call) and (
        getattr(node.func, 'attr', None) or getattr(node.func, 'id', None)
    )


def _const(node, value):
    return isinstance(node, ast.Constant) and node.value == value


def replay_spellings(source: str):
    """(line, kind) of every hand-spelled replay numeric in ``source``:
    ``conv(substring(…), 16, …)`` (a hex-digest prefix read as an
    integer), ``round(…, 0).cast('long')`` and ``floor(… + 0.5)``."""
    for node in ast.walk(ast.parse(source)):
        name = _name(node)
        if name == 'conv' and len(node.args) > 1 and _const(node.args[1], 16):
            if _name(node.args[0]) == 'substring':
                yield node.lineno, 'md5 hex prefix'
        elif name == 'cast' and node.args and _const(node.args[0], 'long'):
            owner = node.func.value
            if _name(owner) == 'round' and len(owner.args) == 2 and _const(owner.args[1], 0):
                yield node.lineno, 'integer-unit round'
        elif name == 'floor' and node.args:
            arg = node.args[0]
            if isinstance(arg, ast.BinOp) and isinstance(arg.op, ast.Add) and _const(arg.right, 0.5):
                yield node.lineno, 'floor half-up'


def test_the_scan_sees_every_spelling_in_the_home_module():
    kinds = {kind for _, kind in replay_spellings(HOME.read_text(encoding='utf-8'))}
    assert kinds == {'md5 hex prefix', 'integer-unit round', 'floor half-up'}


def test_no_module_outside_determinism_spells_replay_numerics():
    found = [
        f'{path.relative_to(PACKAGE)}:{line} {kind}'
        for path in sorted(PACKAGE.rglob('*.py'))
        if path != HOME
        for line, kind in replay_spellings(path.read_text(encoding='utf-8'))
    ]
    assert not found, 'use functions/determinism.py instead of: ' + ', '.join(found)
