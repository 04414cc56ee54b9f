"""HDR log-bucket percentile sketch tier (Prometheus native-histogram /
HdrHistogram / DDSketch lineage).

The exact ``percentile_rollup`` (rollup.py) buffers every value in a
bucket; ``approx_percentile``'s t-digest state can't be re-merged across
tiers from SQL.  This sketch fills that gap: values are binned into
log2 buckets with ``SUBBUCKETS`` linear sub-divisions per octave —
HdrHistogram's layout, and (base-2) the same idea as Prometheus native
histograms' ``2^(2^-n)`` schemas and DDSketch's gamma buckets.  A cell is
``(keys, bucket_ts, idx) -> n``; quantiles are read back from the
cumulative counts with a guaranteed relative error
``<= 1/(2*SUBBUCKETS)`` (bucket half-width over its lower bound).

Why integer bucketing instead of DDSketch's ``ceil(ln v / ln gamma)``:
libm ``log`` differs by ulps across engines, which flips bucket indexes
at bin edges — bad for the driver's bit-exact oracle AND for
cross-system replay.  Here the index is pure integer arithmetic on the
scaled value (``msb = length(bin(v)) - 1``;
``sub = (v * S) div 2^msb - S``), so Spark, DuckDB, and numpy agree
exactly on every input.

Scale shape (100 TB): the sketch is ALGEBRAIC — cells are map-side
combined before the one shuffle on (series, bucket, idx); a
series-bucket holds at most ``SUBBUCKETS * 63`` live cells regardless of
how many raw points fell in it (constant memory, unlike exact
percentile); coarser tiers re-aggregate finer ones by summing ``n``
(``hdr_merge``) — raw data is touched exactly once, the 1d tier is built
from 1h cells.  Quantile extraction shuffles only cells, never points.

No reference analog (AcousticFeatures.jl has no sketches); quantile
read-back semantics follow Prometheus ``histogram_quantile`` (rank-based,
midpoint estimate), see rollup.py:258 for the fixed-width sibling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .rollup import bucket_ts

SUBBUCKETS = 16  # sub-divisions per octave; rel. error <= 1/32 ~ 3.1%


MAX_SCALED = (1 << 57) - 1  # octave-56 ceiling; see _idx_sql


def _idx_sql(v_col: str, subbuckets: int) -> str:
    """Bucket index as a SQL expression over a named integral column.

    ``idx = msb*S + ((v*S) div 2^msb - S)`` where ``msb = length(bin(v))-1``
    — HdrHistogram's octave+linear layout.  Bucket ``idx`` covers
    ``[2^msb*(S+sub)/S, 2^msb*(S+sub+1)/S)``.  ``shiftleft`` keeps 2^msb
    integer-exact (no libm pow); non-positive values map to the underflow
    cell idx = -1 (estimated as 0 at read-back).

    Domain bound: scaled values saturate at ``MAX_SCALED = 2^57 - 1``
    (the top of octave 56) via the same integer ``least()`` in every
    engine.  Above that, ``v*subbuckets`` here and the read-back midpoint
    ``2^msb*(2*(S+sub)+1)`` would exceed int64 — where Spark silently
    wraps but DuckDB raises, breaking the bit-exact cross-engine
    contract.  Saturation keeps both engines identical over the whole
    int64 domain; anything past 2^57 scaled units (1.4e15 cents) is far
    outside the sketch's stated relative-error regime anyway.
    """
    v = f"least(CAST({v_col} AS BIGINT), CAST({MAX_SCALED} AS BIGINT))"
    msb = f"(length(bin({v})) - 1)"
    two_msb = f"shiftleft(CAST(1 AS BIGINT), {msb})"
    sub = f"(({v} * {subbuckets}) DIV {two_msb} - {subbuckets})"
    return (
        f"CASE WHEN {v} <= 0 THEN CAST(-1 AS BIGINT) "
        f"ELSE CAST({msb} AS BIGINT) * {subbuckets} + {sub} END"
    )


def hdr_rollup(
    points: DataFrame,
    tier_seconds: int,
    keys: list[str] = ["series_id"],
    ts_col: str = "ts",
    value_col: str = "value",
    subbuckets: int = SUBBUCKETS,
) -> DataFrame:
    """Build the sketch tier: (keys, bucket_ts, idx) -> n.

    ``value_col`` must already be integer-scaled (e.g. cents, exactly like
    the rollup oracles); values <= 0 land in the underflow cell idx = -1.
    Long/sparse format: only non-empty cells exist, and cell cardinality
    caps at ``subbuckets*63 + 1`` per series-bucket.  Algebraic —
    map-side combined before the single (keys, bucket, idx) shuffle.
    """
    return (
        points.withColumn("bucket_ts", bucket_ts(F.col(ts_col), tier_seconds))
        .withColumn("idx", F.expr(_idx_sql(value_col, subbuckets)))
        .groupBy(*keys, "bucket_ts", "idx")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def hdr_merge(
    cells: DataFrame,
    tier_seconds: int,
    keys: list[str] = ["series_id"],
) -> DataFrame:
    """Re-aggregate a finer sketch tier into a coarser one (1h -> 1d):
    re-bucket ``bucket_ts`` and sum cell counts.  The chained result is
    IDENTICAL to building the coarse tier from raw (tested) because cell
    membership depends only on the value, never on the tier span."""
    return (
        cells.withColumn("bucket_ts", bucket_ts(F.col("bucket_ts"), tier_seconds))
        .groupBy(*keys, "bucket_ts", "idx")
        .agg(F.sum("n").alias("n"))
    )


def hdr_quantile(
    cells: DataFrame,
    q_num: int,
    q_den: int,
    keys: list[str] = ["series_id"],
    subbuckets: int = SUBBUCKETS,
    scale: int = 100,
    out_col: str = "est",
) -> DataFrame:
    """Rank-based quantile read-back: per (keys, bucket_ts), the midpoint
    of the cell containing rank ``ceil(q*total)`` with ``q = q_num/q_den``.

    The containing cell is where the cumulative count first reaches the
    target — selected with pure INTEGER comparisons
    (``cum*q_den >= total*q_num`` and the previous cum short of it), no
    float rank arithmetic, so exactly one row survives per group.  The
    estimate ``2^msb * (2*(S+sub)+1) / (2*S*scale)`` is one IEEE division
    of two exact integers — bit-identical across engines.  Guarantee: the
    true q-th order statistic lies inside the chosen cell, so relative
    error <= (width/2)/lower = 1/(2*(S+sub)) <= 1/(2*S).
    """
    wcum = (
        W.partitionBy(*keys, "bucket_ts")
        .orderBy("idx")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy(*keys, "bucket_ts")
    hit = (
        cells.withColumn("cum", F.sum("n").over(wcum))
        .withColumn("total", F.sum("n").over(wall))
        .filter(
            (F.col("cum") * q_den >= F.col("total") * q_num)
            & ((F.col("cum") - F.col("n")) * q_den < F.col("total") * q_num)
        )
    )
    # midpoint*2S = 2^msb*(2*(S+sub)+1), integer-exact via shiftleft
    mid_sql = (
        f"shiftleft(CAST(1 AS BIGINT), CAST(idx DIV {subbuckets} AS INT))"
        f" * (2 * ({subbuckets} + idx % {subbuckets}) + 1)"
    )
    est = F.when(F.col("idx") < 0, F.lit(0.0)).otherwise(
        F.expr(mid_sql).cast("double") / float(2 * subbuckets * scale)
    )
    return hit.select(*keys, "bucket_ts", "total", est.alias(out_col))


def hdr_refresh_incremental(
    committed_cells: DataFrame,
    new_points: DataFrame,
    tier_seconds: int,
    keys: list[str] = ["series_id"],
    ts_col: str = "ts",
    value_col: str = "value",
    subbuckets: int = SUBBUCKETS,
) -> DataFrame:
    """Incremental continuous-aggregate refresh of the sketch tier —
    the same TimescaleDB-style pattern as rollup.refresh_tier_incremental
    (see there for the full scale rationale): sketch ONLY the new batch,
    broadcast its tiny touched-(keys, bucket) set, and merge cell counts
    for touched buckets; committed cells outside the batch's span are
    passed through without ever being shuffled.  Correct for late /
    out-of-order / in-order batches alike because cells are plain
    associative counts (incremental == full rebuild, asserted bit-exact
    in tests/test_hdrsketch.py).
    """
    delta = hdr_rollup(new_points, tier_seconds, keys, ts_col, value_col, subbuckets)
    on = [*keys, "bucket_ts"]
    touched = delta.select(*on).distinct()
    merged = (
        committed_cells.join(F.broadcast(touched), on, "left_semi")
        .unionByName(delta)
        .groupBy(*keys, "bucket_ts", "idx")
        .agg(F.sum("n").alias("n"))
    )
    untouched = committed_cells.join(F.broadcast(touched), on, "left_anti")
    return untouched.unionByName(merged)
