"""The oracle-replay contract: the only rounding and hashing that another
engine (the DuckDB oracles, a downstream auditor) reproduces bit for bit.

Two tricks carry it.  Values are quantized to INTEGER units before any
sum: integer addition is associative, so the result no longer depends on
partial-aggregate order, and the rounding boundary X.5 is exactly
representable in binary, so every engine takes the same side of it.  And
hashes are md5 hex prefixes read as integers: md5 is in every SQL engine,
xxhash64 is not.

Two roundings live here and they are NOT interchangeable: ``units`` and
``quantize`` round ties away from zero (Spark's HALF_UP, DuckDB's
``round``), ``half_up`` rounds ties toward +∞ (``floor(x + 0.5)``).  They
agree on positive ties and differ on negative ones (−0.5 → −1 against
0), and log-probabilities are negative, so each call site keeps the one
its oracle replays.
"""
from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def units(x: Column, scale: float) -> Column:
    """``x`` as a LONG count of ``1/scale`` units: ``round(x · scale, 0)``.
    Sum these, never the doubles; the oracle replays
    ``CAST(round(x * scale) AS BIGINT)``.  ``scale`` goes into the
    expression as given, so an int and a float scale build different
    (equally exact) literals."""
    return F.round(x * scale, 0).cast('long')


def quantize(x: Column, ndigits: int) -> Column:
    """``x`` rounded to ``ndigits`` decimals through integer space:
    ``units(x, 10^ndigits) / 10^ndigits``.  Not ``F.round(x, ndigits)``:
    a decimal boundary such as 0.5153125 is not a double, and Spark's
    decimal rounding (via the shortest repr) can pick a different side
    of it than arithmetic rounding does; the integer boundary cannot."""
    scale = float(10 ** ndigits)
    return units(x, scale) / scale


def half_up(x: float, ndigits: int) -> float:
    """Python-side ``floor(x · 10^ndigits + 0.5) / 10^ndigits``, for driver
    and Arrow-worker loops: plain IEEE-double operations that the oracle
    writes as the same ``floor(x * 1e6 + 0.5) / 1e6``."""
    return math.floor(x * 10 ** ndigits + 0.5) / 10 ** ndigits


def md5_int(b: Column, hex_digits: int) -> Column:
    """The first ``hex_digits`` hex digits of ``md5(b)`` as an integer —
    DuckDB's ``('0x' || substr(md5(b), 1, w))::BIGINT``.  The result is an
    INT below 8 digits and a LONG from 8 (16^7 < 2^31 < 16^8), the
    narrowest type that holds it; 15 digits is the most a signed LONG
    takes."""
    return F.conv(F.substring(F.md5(b), 1, hex_digits), 16, 10).cast(
        'int' if hex_digits < 8 else 'long'
    )
