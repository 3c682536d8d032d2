"""Lexical rendering of typed values to strings, matching pandas ``str()``
/ ``datetime.isoformat()`` forms the reference emits.

Why this exists: the reference's melt keeps native dtypes in the long
``object`` column and stringifies late (``astype(str)`` at
/root/reference/dgraphpandas/writers/upserts.py:18-20,38-40; ``.isoformat()``
at strategies/vertical_helpers.py:158).  Spark columns are homogeneous, so we
render to string *at melt time* with per-source-dtype expressions (SURVEY §7
"render-at-melt").  Everything here is built-in ``pyspark.sql.functions`` —
JVM-side, whole-stage-codegen'd, no Python in the hot path.

Doubles render pandas-exact across the full range (``pandas_double_str_parts``);
the one remaining lexical deviation from CPython ``str()`` is documented in
``operators/melt.render_columns``.
"""
from __future__ import annotations

from typing import Dict, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _py_datetime(col: Column, fmt: str) -> Column:
    """``fmt`` (``date_format`` pattern of the whole seconds) plus
    ``.ffffff`` (6 digits) only when the microsecond component is
    non-zero — Python's datetime rendering for both separators."""
    base = F.date_format(col, fmt)
    # cast covers TIMESTAMP_NTZ (unix_micros only accepts TIMESTAMP;
    # session TZ is UTC so the cast is lossless and matches date_format)
    micros = F.pmod(F.unix_micros(col.cast('timestamp')), F.lit(1_000_000))
    return F.when(col.isNull(), F.lit(None).cast('string')).otherwise(
        F.when(micros == 0, base).otherwise(
            F.concat(base, F.lit('.'), F.lpad(micros.cast('string'), 6, '0'))
        )
    )


def iso_datetime(col: Column) -> Column:
    """``datetime.isoformat()``: ``2026-01-01T10:00:00`` and, only when the
    microsecond component is non-zero, ``.ffffff`` (6 digits).

    Parity: reference vertical_helpers.py:153-164 (C3).
    """
    return _py_datetime(col, "yyyy-MM-dd'T'HH:mm:ss")


def py_str_datetime(col: Column) -> Column:
    """``str(pd.Timestamp)``: space separator, fraction only when non-zero.

    Used for timestamp columns *not* declared as dateTime in config — the
    reference stringifies those with plain ``str()`` (upserts.py:20).
    """
    return _py_datetime(col, 'yyyy-MM-dd HH:mm:ss')


def py_str_bool(col: Column) -> Column:
    """``str(bool)`` → ``True``/``False`` (Spark's cast gives lowercase)."""
    return (
        F.when(col.isNull(), F.lit(None).cast('string'))
        .when(col, F.lit('True'))
        .otherwise(F.lit('False'))
    )


def shortest_digits_input(d: Column, s: Column) -> Column:
    """Digit string fed to the shortest-repr search (see
    ``pandas_double_str_parts``): Java ≤18's ``Double.toString`` prints the
    EXACT integer expansion of integral doubles (every double ≥ 2^53 is
    integral), up to ~5 more significant digits than CPython's shortest
    round-trip repr (JDK-4511638, fixed in JDK 19; this container runs 17).
    For |d| in [1e16, 2^63) recover the exact expansion via ``cast(long)``
    (also fixes half-digit rounding ties Java's 17-digit form can't
    resolve); otherwise use Java's digits.  Trailing zeros stripped.
    """
    digits = F.concat(
        F.regexp_extract(s, r'^-?(\d+)\.', 1), F.regexp_extract(s, r'\.(\d+)E', 1)
    )
    # upper bound: the literal 9.223372036854776e18 is exactly 2^63 as a
    # double, so strict < admits precisely the long-castable doubles
    exact_ok = (F.abs(d) >= 1e16) & (F.abs(d) < 9.223372036854776e18)
    raw = F.when(exact_ok, F.abs(d).cast('long').cast('string')).otherwise(digits)
    return F.regexp_replace(raw, '0+$', '')


def _exp2(e: Column) -> Column:
    """Python float-repr exponent: sign + two-digit-minimum magnitude.
    (NOT ``lpad``: Spark's lpad TRUNCATES 3-digit exponents like 308.)"""
    a = F.abs(e).cast('string')
    return F.concat(
        F.when(e >= 0, F.lit('+')).otherwise(F.lit('-')),
        F.when(F.length(a) < 2, F.concat(F.lit('0'), a)).otherwise(a),
    )


def _c_near(ds: Column, n: Column, k: Column) -> Column:
    """Nearest integer candidate after dropping the last ``k`` digits of
    the digit string ``ds`` (length ``n``).  Digit-string split, not long
    division: 17+-digit values lose precision through double arithmetic.
    try_cast: ANSI mode, and '' (when n<=k) must yield NULL so callers'
    conditions null out — ``&`` does not short-circuit in codegen."""
    c1 = F.substr(ds, F.lit(1), n - k).try_cast('long')
    r = F.substr(ds, n - k + F.lit(1)).try_cast('long')
    # 10^k exact as a double for k<=5, so the cast back to long is exact
    half_up = F.pow(F.lit(10.0), k.cast('double')).cast('long')
    return F.when(r * 2 >= half_up, c1 + 1).otherwise(c1)


def shortest_digits_k(d: Column, s: Column, ds: Column, expn: Column) -> Column:
    """How many trailing digits (5..1, NULL if none) can be dropped from
    ``ds`` — rounding to nearest — such that the shortened mantissa still
    casts back to exactly ``d``.  This is the *search* half of the
    shortest-digits repr; staging its result as a projection attribute
    keeps the expensive 5-arm check out of the render expression (which
    would otherwise reference it several times and blow up plan size /
    codegen compile time — measured 5-20 s per fresh plan)."""
    sign = F.when(s.startswith('-'), F.lit('-')).otherwise(F.lit(''))
    n = F.length(ds)

    def _ok(k: Column) -> Column:
        cand_exp = expn + F.lit(1) + k - n
        back = F.concat(
            sign, _c_near(ds, n, k).cast('string'), F.lit('E'), cand_exp.cast('string')
        ).try_cast('double')
        return (n > k) & (back == d)

    # One higher-order filter instead of 5 unrolled CASE arms: the check
    # subtree appears ONCE in the plan and is excluded from whole-stage
    # codegen (HOFs eval interpreted), which cuts the janino compile cost
    # that dominated single-shot timings; interpreted eval only runs on
    # the (rare, gated) scientific-range rows.  First match = largest k =
    # shortest mantissa.
    ks = F.array(*[F.lit(kv) for kv in (5, 4, 3, 2, 1)])
    return F.get(F.filter(ks, _ok), 0)


def sci_staged_cols(d: Column, s: Column):
    """(ds, expn) staging expressions for ``pandas_double_str_parts``, each
    gated behind ``s.contains('E')``: they are only consumed on the
    scientific branch, and CASE WHEN branches evaluate lazily in generated
    code, so non-scientific doubles (e.g. every TPC-H money column) pay one
    ``contains`` per value instead of 3 regexp_extracts + casts — the
    round-2 float-parity fix cost +15-25% warm on float-bearing queries
    before this gating."""
    gate = s.contains('E')
    g = F.when(gate, shortest_digits_input(d, s))
    e = F.when(gate, F.regexp_extract(s, r'E(-?\d+)$', 1).try_cast('int'))
    return g, e


def sci_staged_k(d: Column, s: Column, ds: Column, expn: Column) -> Column:
    """Gated ``shortest_digits_k`` staging expression.  Stage it in a LATER
    projection than (ds, expn) so it references them as plain attributes —
    inlining them would duplicate their regex subtrees ~10×."""
    return F.when(s.contains('E'), shortest_digits_k(d, s, ds, expn))


def pandas_double_str_parts(
    d: Column, s: Column, ds: Column = None, expn: Column = None, k: Column = None
) -> Column:
    """``str(float)`` rewrite given pre-staged ``d`` (double) and ``s``
    (its Java string form).  IMPORTANT: pass plain column *references* —
    this expression uses them ~20×, so inlining a non-trivial tree here
    multiplies plan size and codegen compile time (measured 5-20 s per
    fresh plan before staging).  ``stage_double_str`` stages them as
    projection attributes for exactly this reason; it also stages ``ds``
    (``shortest_digits_input``), ``expn`` (the parsed base-10 exponent)
    and ``k`` (``shortest_digits_k``) — pass those too in hot paths or
    the shortest-repr search blows past janino's 64 KB method limit and
    the stage loses codegen.  The staged columns are only consumed on the
    scientific branch, so callers should gate them behind
    ``s.contains('E')`` (NULL otherwise) to keep the regex/substr work off
    the non-scientific fast path entirely.
    """
    sign = F.when(s.startswith('-'), F.lit('-')).otherwise(F.lit(''))
    lead = F.regexp_extract(s, r'^-?(\d+)\.', 1)
    frac = F.regexp_extract(s, r'\.(\d+)E', 1)
    if expn is None:
        expn = F.regexp_extract(s, r'E(-?\d+)$', 1).try_cast('int')
    digits = F.concat(lead, frac)
    digits_stripped = F.regexp_replace(digits, '0+$', '')
    frac_stripped = F.regexp_replace(frac, '0+$', '')
    ndig = F.length(digits)
    intlen = expn + F.lit(1)

    # Shortest-digits repr for the scientific branch: drop the largest
    # round-trip-safe count of trailing digits (k, from shortest_digits_k;
    # the digit string is exact for integral doubles, see
    # shortest_digits_input); fall back to Java's digits when no drop
    # round-trips.  Round-trip verification means every emitted string is
    # a correct representation of ``d``; the fallback can differ lexically
    # from CPython (one extra digit) only on non-integral / ≥2^63
    # sci-range doubles, measured <0.5% of those.
    if ds is None:
        ds = shortest_digits_input(d, s)
    n = F.length(ds)
    if k is None:
        k = shortest_digits_k(d, s, ds, expn)

    cs = _c_near(ds, n, k).cast('string')
    cd = F.regexp_replace(cs, '0+$', '')
    disp_exp = expn + F.length(cs) + k - n
    mant_c = F.concat(
        F.substr(cd, F.lit(1), F.lit(1)),
        F.when(F.length(cd) > 1, F.concat(F.lit('.'), F.substr(cd, F.lit(2)))).otherwise(F.lit('')),
    )
    sci_short = F.concat(sign, mant_c, F.lit('e'), _exp2(disp_exp))

    sci_java = F.concat(
        sign,
        lead,
        F.when(frac_stripped == '', F.lit('')).otherwise(F.concat(F.lit('.'), frac_stripped)),
        F.lit('e'),
        _exp2(expn),
    )
    sci = F.when(k.isNotNull(), sci_short).otherwise(sci_java)
    pos_big = F.concat(
        sign,
        F.when(
            ndig <= intlen,
            F.concat(digits, F.repeat(F.lit('0'), (intlen - ndig).cast('int')), F.lit('.0')),
        ).otherwise(
            F.concat(
                F.substr(digits, F.lit(1), intlen),
                F.lit('.'),
                F.substr(digits, intlen + 1),
            )
        ),
    )
    small4 = F.concat(sign, F.lit('0.000'), digits_stripped)

    return (
        F.when(d.isNull() | F.isnan(d), F.lit(None).cast('string'))
        .when(d == float('inf'), F.lit('inf'))
        .when(d == float('-inf'), F.lit('-inf'))
        .when(~s.contains('E'), s)
        .when((expn >= 7) & (expn <= 15), pos_big)
        .when(expn == -4, small4)
        .otherwise(sci)  # sci referenced ONCE: when k is not staged, it
        # inlines the shortest-digits search and duplicating it would
        # break janino's 64 KB method limit
    )


def stage_double_str(df: DataFrame, cols: Sequence[str]) -> Tuple[DataFrame, Dict[str, Column]]:
    """``str(float)`` of each of ``cols`` over staged attributes: returns
    ``(staged_df, {col: expression over staged_df})``.

    ``staged_df`` is ``df`` plus ``__pds_{d,s,g,e,k}_<col>`` (the double,
    its Java string, ``shortest_digits_input``, the exponent and
    ``shortest_digits_k``), added in four projections so each references
    the previous one's attributes.  ``pandas_double_str_parts`` uses them
    ~20×; inlining their subtrees made planning + codegen the dominant
    cost (5-60 s per fresh plan, measured) and the search outgrows
    janino's 64 KB method limit."""

    def a(part: str, c: str) -> Column:
        return F.col(f'__pds_{part}_{c}')

    cols = list(cols)
    if not cols:
        return df, {}
    ge = {c: sci_staged_cols(a('d', c), a('s', c)) for c in cols}
    staged = (
        df.select('*', *[F.col(c).cast('double').alias(f'__pds_d_{c}') for c in cols])
        .select('*', *[a('d', c).cast('string').alias(f'__pds_s_{c}') for c in cols])
        .select(
            '*',
            *[ge[c][0].alias(f'__pds_g_{c}') for c in cols],
            *[ge[c][1].alias(f'__pds_e_{c}') for c in cols],
        )
        .select('*', *[
            sci_staged_k(a('d', c), a('s', c), a('g', c), a('e', c)).alias(f'__pds_k_{c}')
            for c in cols
        ])
    )
    return staged, {
        c: pandas_double_str_parts(
            a('d', c), a('s', c), ds=a('g', c), expn=a('e', c), k=a('k', c)
        )
        for c in cols
    }


def pandas_double_str(col: Column) -> Column:
    """``str(float)`` (CPython repr) for a numeric column, exactly.

    Java ``Double.toString`` and CPython ``repr`` both emit the shortest
    round-trip digits, but switch to scientific notation at different
    magnitudes: Java at <1e-3 / ≥1e7, Python at <1e-4 / ≥1e16; the rewrite
    converts Java's form in the disagreement windows.  NaN renders NULL
    (pandas treats NaN as missing); ±Infinity → ``inf``/``-inf``.

    Prefer ``stage_double_str`` in hot paths: this convenience
    wrapper inlines the cast subtree many times.
    """
    d = col.cast('double')
    return pandas_double_str_parts(d, d.cast('string'))


def render_value(col: Column, dtype: T.DataType, as_datetime: bool = False) -> Column:
    """Render a typed column to its pandas-compatible string form.

    ``as_datetime=True`` → ISO form (column is config-declared dateTime,
    reference C3); otherwise plain ``str()`` semantics per dtype.
    Nulls stay null (they are dropped later by P2, reference
    vertical_helpers.py:201-213).
    """
    if isinstance(dtype, T.StringType):
        return col
    if isinstance(dtype, T.BooleanType):
        return py_str_bool(col)
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return iso_datetime(col) if as_datetime else py_str_datetime(col)
    if isinstance(dtype, T.DateType):
        return col.cast('string')  # date.isoformat() == ISO yyyy-MM-dd
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        # pandas melt boxes numeric values into *Python* floats (doubles)
        # in mixed frames, so even float32 columns stringify through the
        # double repr (verified against the reference's planets sample)
        return pandas_double_str(col)
    # ints, decimals: Spark's cast matches str()
    return col.cast('string')
