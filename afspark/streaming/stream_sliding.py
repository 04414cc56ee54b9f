"""Streaming sliding-window distinct: the push-based twin of
operators/distinct.sliding_distinct.

readStream -> watermark -> native sliding ``window(ts, window, hop)`` ->
exact count(distinct) per window.  Spark plans streaming sliding windows
with the same Expand (window/hop replication) as batch, and the
watermark bounds both state and late data: a window's state is dropped
once the watermark passes its end.

Exact distinct in streaming requires the dedup-then-count split (a
direct COUNT(DISTINCT) is unsupported in streaming aggregations);
phrasing it as two chained aggregations keyed (window, entity) then
(window) keeps every aggregate incremental.  At high entity cardinality
swap the inner dedup for approx_count_distinct (HLL, fixed state per
window) — same query shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_sliding_distinct(
    points_stream: DataFrame,
    window_seconds: int,
    hop_seconds: int,
    watermark: str = "10 minutes",
    entity_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked sliding-window exact distinct-entity counts.

    Output: window_start (epoch seconds), n_distinct — identical to the
    batch operator on the same (closed-window) data.
    """
    assert window_seconds % hop_seconds == 0
    win = F.window(
        F.col(ts_col), f"{window_seconds} seconds", f"{hop_seconds} seconds"
    )
    dedup = (
        points_stream.withWatermark(ts_col, watermark)
        .select(F.col(entity_col).alias("_e"), F.col(ts_col))
        .groupBy(win.alias("_w"), "_e")
        .agg(F.count(F.lit(1)).alias("_hits"))
    )
    return (
        dedup.groupBy("_w")
        .agg(F.count(F.lit(1)).alias("n_distinct"))
        .select(
            F.unix_timestamp("_w.start").alias("window_start"),
            F.col("n_distinct").cast("long").alias("n_distinct"),
        )
    )
