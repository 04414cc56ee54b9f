"""Streaming M4 downsample: the batch witness aggregation, restated so
Structured Streaming can run it.

min_by/max_by are not supported inside streaming aggregations, but
M4's four witnesses are all
expressible as STRUCT-ORDERED min/max — plain declarative aggregates the
streaming state store merges incrementally:

    first = min(struct(seq, es, v))   last = max(struct(seq, es, v))
    min   = min(struct(v, seq, es))   max  = max(struct(v, seq, es))

Struct comparison is lexicographic, so the witness AND its tie-break
(seq for first/last; (value, seq) for min/max) ride in one value — the
exact tie rules of the batch operator (operators/lttb.m4_downsample),
which the parity test certifies boundary-exactly across micro-batch
cuts.  Late rows beyond the watermark are dropped by the stream; late
data that must land goes through the tier store's merge
(stream_tier.apply_batch_once).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_m4(
    points_stream: DataFrame,
    bucket_seconds: int,
    watermark: str = "10 minutes",
    series_col: str = "series_id",
    ts_col: str = "ts",
    value_col: str = "value",
    seq_col: str = "seq",
) -> DataFrame:
    """Watermarked streaming M4 tier; schema matches m4_downsample."""
    es = F.unix_timestamp(F.col(ts_col))
    src = points_stream.withWatermark(ts_col, watermark).select(
        F.col(series_col).alias("series_id"),
        F.col(ts_col),
        es.alias("_es"),
        F.col(value_col).alias("_v"),
        F.col(seq_col).alias("_seq"),
    )
    by_seq = F.struct(F.col("_seq"), F.col("_es"), F.col("_v"))
    by_val = F.struct(F.col("_v"), F.col("_seq"), F.col("_es"))
    agg = src.groupBy(
        "series_id",
        F.window(ts_col, f"{bucket_seconds} seconds").alias("w"),
    ).agg(
        F.min(by_seq).alias("_first"),
        F.max(by_seq).alias("_last"),
        F.min(by_val).alias("_min"),
        F.max(by_val).alias("_max"),
        F.count(F.lit(1)).alias("n"),
    )
    return agg.select(
        "series_id",
        F.unix_timestamp(F.col("w.start")).cast("long").alias("bucket_epoch"),
        F.col("n").cast("long").alias("n"),
        F.col("_first._es").cast("long").alias("t_first"),
        F.col("_first._v").alias("v_first"),
        F.col("_last._es").cast("long").alias("t_last"),
        F.col("_last._v").alias("v_last"),
        F.col("_min._es").cast("long").alias("t_min"),
        F.col("_min._v").alias("v_min"),
        F.col("_max._es").cast("long").alias("t_max"),
        F.col("_max._v").alias("v_max"),
    )
