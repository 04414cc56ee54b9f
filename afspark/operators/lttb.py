"""LTTB downsampling: largest-triangle-three-buckets per series.

The display-oriented downsample every TSDB ships alongside rollup tiers
(e.g. Timescale's `lttb`/`unnest`): reduce a series to ``threshold``
points while preserving visual shape, by splitting the series into
threshold-2 buckets and keeping, per bucket, the point forming the
largest triangle with the previously kept point and the next bucket's
average (Steinarsson 2013, "Downsampling Time Series for Visual
Representation").

Spark realization: one ``_grouped.grouped_map_in_pandas`` pass keyed by
series (one shuffle, then a single Arrow pass); inside each group the
selection is the standard O(n) numpy sweep.
LTTB is inherently sequential per series (each pick depends on the
previous), so per-series kernel evaluation — NOT a window expression —
is the right mapping; series are independent, which is the parallelism.
A series larger than one task's memory should be pre-reduced with a
rollup tier first (downsample-of-downsample is the production pattern).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._grouped import grouped_map_in_pandas

OUT_SCHEMA = "series_id string, ts timestamp, value double"


def lttb_numpy(x: np.ndarray, y: np.ndarray, threshold: int) -> np.ndarray:
    """Indices of the LTTB-selected points (local twin, O(n)).

    ``threshold < 3`` raises: LTTB is undefined there (it always keeps
    both endpoints plus triangle-selected interior points), so returning
    all points would silently violate the 'at most threshold points'
    contract.
    """
    if threshold < 3:
        raise ValueError("LTTB is undefined for threshold < 3")
    n = len(x)
    if threshold >= n:
        return np.arange(n)
    keep = np.empty(threshold, dtype=np.int64)
    keep[0] = 0
    keep[-1] = n - 1
    # bucket boundaries over the interior points
    edges = np.linspace(1, n - 1, threshold - 1).astype(np.int64)
    a = 0
    for i in range(threshold - 2):
        lo, hi = edges[i], edges[i + 1]
        nxt_lo, nxt_hi = edges[i + 1], (n if i + 2 == threshold - 1 else edges[i + 2])
        avg_x = x[nxt_lo:nxt_hi].mean() if nxt_hi > nxt_lo else x[n - 1]
        avg_y = y[nxt_lo:nxt_hi].mean() if nxt_hi > nxt_lo else y[n - 1]
        # area of triangle (a, candidate, next-bucket average), x2
        area = np.abs(
            (x[a] - avg_x) * (y[lo:hi] - y[a]) - (x[a] - x[lo:hi]) * (avg_y - y[a])
        )
        a = lo + int(np.argmax(area))
        keep[i + 1] = a
    return keep


def lttb(
    points: DataFrame,
    threshold: int,
    series_col: str = "series_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Downsample each series to at most ``threshold`` points with LTTB.

    ``threshold`` must be >= 3 (validated eagerly, not inside the UDF).
    """
    if threshold < 3:
        raise ValueError("LTTB is undefined for threshold < 3")
    src = points.select(
        F.col(series_col).cast("string").alias("series_id"),
        F.col(ts_col).alias("ts"),
        F.col(value_col).cast("double").alias("value"),
    )

    def select(g: pd.DataFrame) -> pd.DataFrame:
        xs = g["ts"].astype("datetime64[us]").astype("int64").to_numpy()
        ys = g["value"].to_numpy(dtype=np.float64)
        return g.iloc[lttb_numpy(xs.astype(np.float64), ys, threshold)]

    return grouped_map_in_pandas(
        src, ["series_id"], ["ts"], select, OUT_SCHEMA,
        n_partitions=points.sparkSession.sparkContext.defaultParallelism * 2,
    )


def m4_downsample(
    points: DataFrame,
    bucket_seconds: int,
    series_col: str = "series_id",
    ts_col: str = "ts",
    value_col: str = "value",
    seq_col: str = "seq",
) -> DataFrame:
    """M4 downsampling: per (series, pixel bucket) keep first / last /
    min / max with their timestamps (Jugel et al., VLDB 2014) — the
    error-free line-visualization downsample every TSDB pairs with LTTB.

    Unlike LTTB this is a pure algebraic aggregation: min_by/max_by over
    one groupBy — map-side combined, one shuffle on (series, bucket), no
    per-series sequential pass at all, so it scales like any rollup
    tier.  Ties are broken by (value, seq) / seq total orders so every
    engine and partitioning picks the same witness rows.

    Returns one row per bucket: *_epoch BIGINT timestamps and the four
    values at the kept points.
    """
    us = F.unix_timestamp(F.col(ts_col))
    b = (F.floor(us / bucket_seconds) * bucket_seconds).alias("bucket_epoch")
    pt = F.struct(us.alias("es"), F.col(value_col).alias("v"))
    g = points.select(
        F.col(series_col), b, pt.alias("_p"),
        F.col(seq_col).alias("_seq"), F.col(value_col).alias("_v"),
    ).groupBy(series_col, "bucket_epoch")
    vs = F.struct("_v", "_seq")
    agg = g.agg(
        F.min_by("_p", "_seq").alias("_first"),
        F.max_by("_p", "_seq").alias("_last"),
        F.min_by("_p", vs).alias("_min"),
        F.max_by("_p", vs).alias("_max"),
        F.count(F.lit(1)).alias("n"),
    )
    out = agg.select(
        series_col,
        F.col("bucket_epoch").cast("long").alias("bucket_epoch"),
        F.col("n").cast("long").alias("n"),
        *[
            c
            for tag in ("first", "last", "min", "max")
            for c in (
                F.col(f"_{tag}.es").cast("long").alias(f"t_{tag}"),
                F.col(f"_{tag}.v").alias(f"v_{tag}"),
            )
        ],
    )
    return out
