"""Seeded tier points and the tier stores built from them.

Points have the key shape of ``scores_to_points`` output
(``<domain>|<feature>``).  Every value is a multiple of 1/16 well inside
float64's exact range, so tier sums are exact whatever order Spark adds
them in, and every timestamp is unique, so first/last are unambiguous:
an incrementally refreshed store can be compared with a full recompute
for equality, not within a tolerance.

Base points lie on a grid of one point per series every ``step_s``
seconds.  Batch points land on the same grid slots plus a unique
microsecond offset, so each one falls into a bucket the store already
holds and the store does not grow as batches are merged.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import bench
from afspark.streaming.stream_tier import apply_batch_once

BASE_EPOCH = 1_704_067_200  # 2024-01-01T00:00:00Z
FEATURE_NAMES = [n for f in bench.FEATURES for n in f.names()]


@dataclasses.dataclass(frozen=True)
class Grid:
    n_domains: int
    days: int
    step_s: int
    batch_points: int
    late_frac: float

    @property
    def n_series(self) -> int:
        return self.n_domains * len(FEATURE_NAMES)

    @property
    def slots_per_day(self) -> int:
        return 86_400 // self.step_s

    @property
    def n_base(self) -> int:
        return self.n_series * self.days * self.slots_per_day

    def series_names(self) -> list[str]:
        return [
            f"d{d:03d}.example.com|{f}"
            for d in range(self.n_domains)
            for f in FEATURE_NAMES
        ]


def _series(idx):
    n_feat = len(FEATURE_NAMES)
    return F.concat(
        F.lit("d"),
        F.lpad((idx / n_feat).cast("int").cast("string"), 3, "0"),
        F.lit(".example.com|"),
        F.element_at(F.array(*map(F.lit, FEATURE_NAMES)), (idx % n_feat + 1).cast("int")),
    ).alias("series_id")


def _value(h):
    return ((F.pmod(h, F.lit(65_536)) - 32_768) / 16.0).alias("value")


def base_points(spark, grid: Grid, seed: int) -> DataFrame:
    """One point per series every ``grid.step_s`` seconds over
    ``grid.days`` days."""
    rid = F.col("id")
    idx = rid % grid.n_series
    slot = (rid / grid.n_series).cast("long")
    return spark.range(grid.n_base).select(
        _series(idx),
        F.timestamp_seconds(F.lit(BASE_EPOCH) + slot * grid.step_s).alias("ts"),
        _value(F.xxhash64(rid, F.lit(seed))),
    )


def batch_points(spark, grid: Grid, seed: int, b0: int, b1: int) -> DataFrame:
    """Micro-batches ``b0 .. b1-1`` (ids start at 1), ``grid.batch_points``
    points each.  The first ``late_frac`` of a batch is late: it lands on
    one older date, a different one for each batch in rotation; the rest
    lands on the newest date."""
    n = grid.batch_points
    rid = F.col("id")
    b = (rid / n).cast("long") + b0
    i = rid % n
    late = i < int(n * grid.late_frac)
    old_day = b % max(1, grid.days - 1)
    day = F.when(late, old_day).otherwise(grid.days - 1)
    slot = F.pmod(F.xxhash64(i, b, F.lit(seed), F.lit(2)), F.lit(grid.slots_per_day))
    sec = F.lit(BASE_EPOCH) + day * 86_400 + slot * grid.step_s
    # unique per point and below one minute for any realistic batch count,
    # so the point stays in the grid slot's 1m bucket
    micros = sec * 1_000_000 + 1 + b * n + i
    return spark.range((b1 - b0) * n).select(
        _series(F.pmod(F.xxhash64(i, b, F.lit(seed), F.lit(1)), F.lit(grid.n_series))),
        F.timestamp_micros(micros).alias("ts"),
        _value(F.xxhash64(i, b, F.lit(seed), F.lit(3))),
    )


def build_store(spark, path: str, points: DataFrame, tier_seconds: int) -> None:
    """Initial load through the streaming writer, as batch 0."""
    apply_batch_once(spark, path, points, 0, tier_seconds)
