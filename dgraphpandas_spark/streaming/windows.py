"""Event-time windowed aggregation with watermarks (late-data handling).

Reference has no streaming (SURVEY §2.9); this covers the windowed-agg /
watermark surface for event feeds (transcript turns, events): per-window
per-key counts with a bounded-lateness watermark.  In append mode a window is
emitted exactly once — when the watermark (max event time − lateness)
passes its end — and events arriving later than the watermark are dropped
by Spark's state store, which is what bounds state size at 10^12-turn
scale: state = open windows only, not history.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_counts(
    stream: DataFrame,
    ts_col: str,
    key_col: str,
    window_duration: str = '1 day',
    lateness: str = '1 hour',
) -> DataFrame:
    """Generic watermarked per-(window, key) count — the windowed-agg
    pattern over any event-time keyed stream.

    Append-mode + ``Trigger.AvailableNow`` on a finite source is
    DETERMINISTIC: Spark's final no-data micro-batch advances the watermark
    to ``max(ts) − lateness`` and emits exactly the windows whose end ≤ that
    watermark — so the emitted set equals a batch GROUP BY restricted to
    closed windows, which is how the DuckDB oracle mirrors it
    (``__spark_entry__.oracle_sql()['stream_event_windows']``).
    """
    return (
        stream.withWatermark(ts_col, lateness)
        .groupBy(F.window(ts_col, window_duration).alias('w'), key_col)
        .agg(F.count('*').alias('n_events'))
        .select(
            F.col('w.start').alias('window_start'),
            F.col('w.end').alias('window_end'),
            key_col,
            'n_events',
        )
    )
