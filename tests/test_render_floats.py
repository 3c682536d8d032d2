"""Float lexical-form parity: the melt's render must render doubles
exactly as CPython ``str(float)`` (which is what the reference emits via
``astype(str)`` at writers/upserts.py:18-20).

Pins the round-1 VERDICT item #2 boundaries (1e7±ε, 1e16±ε: the windows
where Java and Python switch notation at different magnitudes) and the
JDK-17 non-shortest-digits cases ≥1e16 (JDK-4511638) fixed by the
shortest-digits search in functions/render.py.
"""
from __future__ import annotations

import random

import pytest

from dgraphpandas_spark.operators.melt import render_columns

BOUNDARY_VALUES = [
    # positional/scientific switch windows
    1e7, 1e7 - 0.001, 9999999.999, 1.2e7, 12345678.9, 99999999.99,
    1e16, 1e16 - 2.0, 9999999999999998.0, 1e15 + 0.5, 9.9999999999e15,
    1e-4, 9.9e-5, 1.2345e-4, 5e-4,
    # JDK-17 exact-integer-expansion cases (Java prints 17 digits, Python 16)
    7.008199593277178e+16, 2.303585806797696e+19, 1.7238720000000001e18,
    5.930847555497455e+16, 4.423429260349405e+17,
    # ns-epoch-as-float (decade 18, integral)
    1723872000000000000.0,
    # specials and extremes
    0.0, -0.0, 5.0, -5.0, 123.456, -123.456, 0.1, 1.0 / 3.0,
    1e308, 1.7976931348623157e308, 5e-324, 2.5e-308, -2.5e-308,
]


def _render_via_melt(spark, values):
    rows = [(i, v, 'x') for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, 'id long, score double, s string')
    staged, rendered, _ = render_columns(df, ['score', 's'])
    return {r['id']: r['object'] for r in staged.select('id', rendered['score'].alias('object')).collect()}


def test_boundary_values_match_python_str(spark):
    out = _render_via_melt(spark, BOUNDARY_VALUES)
    mismatches = [
        (v, out[i], str(v)) for i, v in enumerate(BOUNDARY_VALUES) if out[i] != str(v)
    ]
    assert mismatches == []


def test_random_doubles_match_python_str(spark):
    rng = random.Random(1234)
    values = [
        rng.uniform(1, 10) * 10.0 ** rng.randint(-20, 15) * rng.choice([1, -1])
        for _ in range(2000)
    ]
    # decades 16-18: the JDK-17 exact-expansion population (all integral)
    values += [rng.uniform(1, 10) * 10.0 ** rng.randint(16, 18) for _ in range(500)]
    out = _render_via_melt(spark, values)
    mismatches = [
        (v, out[i], str(v)) for i, v in enumerate(values) if out[i] != str(v)
    ]
    assert mismatches == []


def test_ints_forced_to_float_form_render_like_float64(spark):
    """downcast_forced_columns parity: forced int columns render through the
    double repr, including int64 magnitudes where float64 loses precision."""
    ints = [0, 1, -1, 7, 10, 999, 10**15, 10**16, 2**53, 2**53 + 1, 10**18, -(2**62)]
    rows = [(i, v, 0.5, 'zz') for i, v in enumerate(ints)]
    df = spark.createDataFrame(rows, 'id long, n long, f double, s string')
    staged, rendered, _ = render_columns(df, ['n', 'f', 's'], force_double_cols={'n'})
    out = {r['id']: r['object'] for r in staged.select('id', rendered['n'].alias('object')).collect()}
    mismatches = [
        (v, out[i], str(float(v))) for i, v in enumerate(ints) if out[i] != str(float(v))
    ]
    assert mismatches == []
