"""Structured-Streaming sessionization: gap-based session aggregates over
a watermarked stream via Spark's native ``session_window``.

The batch twin is operators/sessions.py (lag-flag + running sum, chunk-
decomposed); this is the push-based form for live visit reconstruction.
State per open session is bounded by the watermark: a session closes —
and its row becomes emittable in append mode — once the watermark passes
``last_event + gap``.

Semantics alignment: the batch engine keeps a session alive when the
inter-event delta is <= gap (strict ``>`` opens a new one), and Spark's
``session_window`` merge is likewise INCLUSIVE — an event exactly
gap_duration after the previous one extends the session (verified
empirically in tests/test_streaming.py: delta == gap stays, delta ==
gap+1 splits, at gap_duration = gap_seconds) — so the same gap value
yields identical sessions.  Parity with batch session_stats is asserted
boundary-exactly in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_session_stats(
    points_stream: DataFrame,
    gap_seconds: int,
    watermark: str = "10 minutes",
    series_col: str = "series_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-session aggregates over a stream; schema matches the batch
    session_stats minus session_id (streams have no global per-series
    session counter — sessions are keyed by their start time instead)."""
    v = F.col(value_col)
    return (
        points_stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(series_col).alias("series_id"),
            F.session_window(
                F.col(ts_col), f"{gap_seconds} seconds"
            ).alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            (
                F.unix_timestamp(F.max(ts_col)) - F.unix_timestamp(F.min(ts_col))
            ).alias("duration_s"),
            F.sum(v).alias("value_sum"),
        )
        .select(
            "series_id", "session_start", "session_end", "duration_s", "n", "value_sum"
        )
    )
