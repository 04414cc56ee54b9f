"""Structured-Streaming rollup: continuous 1m tier with late-data handling.

The batch engine treats continuous aggregates as incremental rollups +
OoO merge (SURVEY.md §2.9); this module is the true streaming twin for
deployments that want push-based tiers: readStream -> event-time window
aggregation with a watermark bounding late data.  Aggregates match
rollup_points exactly (cnt/sum/min/max/avg per (series, 1m bucket)).

Rows later than the watermark are dropped by the stream — the batch OoO
merge path (operators/ooo.py) remains the escape hatch for arbitrarily
late corrections, mirroring the Lambda-style split the north_rule's
chunk-grain invalidation implies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_rollup_1m(
    points_stream: DataFrame,
    watermark: str = "10 minutes",
    tier_seconds: int = 60,
    series_col: str = "series_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Watermarked tumbling-window aggregation over a streaming DataFrame.

    Output schema matches rollup_points minus first/last (order-dependent
    aggregates need arbitrary stateful processing; min_by/max_by are not
    supported in streaming aggregations).
    """
    v = F.col(value_col)
    return (
        points_stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(series_col).alias("series_id"),
            F.window(ts_col, f"{tier_seconds} seconds").alias("w"),
        )
        .agg(
            F.count(v).alias("cnt"),
            F.sum(v).alias("sum"),
            F.min(v).alias("min"),
            F.max(v).alias("max"),
            (F.sum(v) / F.count(v)).alias("avg"),
        )
        .select("series_id", F.col("w.start").alias("bucket_ts"), "cnt", "sum", "min", "max", "avg")
    )
