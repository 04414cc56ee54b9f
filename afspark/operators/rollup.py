"""Continuous-aggregate rollup tiers (north_rule: 1m -> 1h -> 1d -> 30d).

The reference has no rollup (its tiers analog is SURVEY.md §2.9); these are
classic TSDB downsamples: each tier holds per-(series, feature, bucket)
``cnt/sum/min/max/first/last`` and is computed EITHER from raw points OR by
re-aggregating a finer tier (tier consistency is tested: each coarse
tier == rollup_tier of the next finer one, tests/test_rollup.py).

Bucketing is pure epoch arithmetic — floor(epoch/sec)*sec — identical in
Spark and DuckDB (portable for the driver oracle), independent of calendar
units, and cheap inside whole-stage codegen.  Aggregation is algebraic, so
Spark performs map-side partial aggregation before the shuffle;
``rollup_all_tiers`` expands each point once per tier, so its one shuffle
on (tier, series_id, bucket) carries each tier's partial aggregates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

TIERS: dict[str, int] = {
    "1m": 60,
    "1h": 3_600,
    "1d": 86_400,
    "30d": 30 * 86_400,
}


def bucket_ts(ts: Column, tier_seconds: int | Column) -> Column:
    """floor(epoch(ts)/S)*S as timestamp — portable tumbling bucket (S
    may be a column: one bucket width per row)."""
    return F.timestamp_seconds(
        (F.floor(F.unix_timestamp(ts) / tier_seconds) * tier_seconds).cast("long")
    )


def rollup_points(
    points: DataFrame,
    tier_seconds: int | Column,
    keys: list[str] = ["series_id"],
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """First-tier rollup from raw points.

    Output: keys + (bucket_ts, cnt, sum, min, max, avg, first, last,
    first_ts, last_ts).
    """
    v, ts = F.col(value_col), F.col(ts_col)
    return (
        points.withColumn("bucket_ts", bucket_ts(ts, tier_seconds))
        .groupBy(*keys, "bucket_ts")
        .agg(
            F.count(v).alias("cnt"),
            F.sum(v).alias("sum"),
            F.min(v).alias("min"),
            F.max(v).alias("max"),
            (F.sum(v) / F.count(v)).alias("avg"),
            F.min_by(v, ts).alias("first"),
            F.max_by(v, ts).alias("last"),
            F.min(ts).alias("first_ts"),
            F.max(ts).alias("last_ts"),
        )
    )


def rollup_tier(
    prev: DataFrame, tier_seconds: int, keys: list[str] = ["series_id"]
) -> DataFrame:
    """Re-aggregate a finer tier into a coarser one (algebraic merge)."""
    return (
        prev.withColumn("bucket_ts", bucket_ts(F.col("bucket_ts"), tier_seconds))
        .groupBy(*keys, "bucket_ts")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum").alias("sum"),
            F.min("min").alias("min"),
            F.max("max").alias("max"),
            (F.sum("sum") / F.sum("cnt")).alias("avg"),
            F.min_by("first", "first_ts").alias("first"),
            F.max_by("last", "last_ts").alias("last"),
            F.min("first_ts").alias("first_ts"),
            F.max("last_ts").alias("last_ts"),
        )
    )


def rollup_all_tiers(
    points: DataFrame,
    keys: list[str] = ["series_id"],
    ts_col: str = "ts",
    value_col: str = "value",
    tiers: dict[str, int] = TIERS,
) -> dict[str, DataFrame]:
    """Every tier from raw points in ONE aggregate and one checkpoint:
    each point is expanded once per tier width (``_sec``), grouped by
    (_sec, keys, bucket_ts), and each returned tier (finest first) is a
    filter on the checkpointed frame.

    Catalyst does not push a filter on a generator's output below the
    ``explode``, so without the checkpoint reading one tier would
    re-aggregate all of them.  localCheckpoint rather than persist(): a
    persisted frame keeps the FULL logical plan, so every tier read would
    re-analyze and re-optimize the fused score pipeline underneath
    (~0.3-0.5 s of driver planning each).  The checkpoint truncates
    lineage to the tiny aggregate; a lost executor costs a job re-run
    instead of a lineage recompute, the right trade for interactive tier
    reads (the durable path writes tiers to storage, jobs/rollup_job.py).
    """
    # distinct widths: two tier names with one width share its rows
    secs = sorted(set(tiers.values()))
    expanded = points.withColumn("_sec", F.explode(F.array(*map(F.lit, secs))))
    every = rollup_points(
        expanded, F.col("_sec"), ["_sec", *keys], ts_col, value_col
    ).localCheckpoint(eager=False)
    return {
        name: every.filter(F.col("_sec") == tiers[name]).drop("_sec")
        for name in sorted(tiers, key=tiers.get)
    }


def ohlc_rollup(
    points: DataFrame,
    tier_seconds: int,
    keys: list[str] = ["series_id"],
    ts_col: str = "ts",
    value_col: str = "value",
    seq_col: str = "seq",
) -> DataFrame:
    """Per-(series, bucket) OHLC bars — open/high/low/close (candlestick
    downsample, TimescaleDB ``candlestick_agg`` / kdb+ bar semantics).

    The generic tier's first/last use ``min_by(value, ts)``, which is
    NONDETERMINISTIC under duplicate timestamps (ties broken by
    encounter order — the rollup oracles deliberately drop those columns
    from the driver hash for that reason).  OHLC instead orders by one
    packed int64 key ``epoch_seconds * 2^20 + seq`` (``seq`` = the
    caller's within-series total-order rank): every engine picks the
    same open/close row, so the columns certify through the value-hash
    gate.  The pack is exact while seq < 2^20 per series and
    epoch < 2^43 s (~year 280k); at larger per-series cardinality pass a
    wider shift — kept narrow so the key also survives DOUBLE-only
    engines (2^53).

    Carrying ``open_ord``/``close_ord`` keeps the bar ALGEBRAIC:
    :func:`ohlc_merge` re-aggregates bars into coarser tiers with plain
    min_by/max_by over the carried keys — map-side combinable, so at
    100 TB the only shuffle per tier is on (series, bucket) and the 1d
    tier is built from 1h bars, never from raw ticks.
    """
    v = F.col(value_col)
    ordk = (
        F.unix_timestamp(F.col(ts_col)).cast("long") * F.lit(1 << 20).cast("long")
        + F.col(seq_col).cast("long")
    )
    return (
        points.withColumn("bucket_ts", bucket_ts(F.col(ts_col), tier_seconds))
        .withColumn("_ord", ordk)
        .groupBy(*keys, "bucket_ts")
        .agg(
            F.count(v).alias("cnt"),
            F.min_by(v, F.col("_ord")).alias("open"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max_by(v, F.col("_ord")).alias("close"),
            F.min("_ord").alias("open_ord"),
            F.max("_ord").alias("close_ord"),
        )
    )


def ohlc_merge(
    prev: DataFrame, tier_seconds: int, keys: list[str] = ["series_id"]
) -> DataFrame:
    """Re-aggregate OHLC bars into a coarser tier (algebraic merge).

    open = the open of the bar with the smallest carried open_ord (the
    earliest tick), close symmetric; high/low/cnt are plain max/min/sum.
    Deterministic because ord keys are globally unique per series.
    """
    return (
        prev.withColumn("bucket_ts", bucket_ts(F.col("bucket_ts"), tier_seconds))
        .groupBy(*keys, "bucket_ts")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.min_by("open", F.col("open_ord")).alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", F.col("close_ord")).alias("close"),
            F.min("open_ord").alias("open_ord"),
            F.max("close_ord").alias("close_ord"),
        )
    )


def percentile_rollup(
    points: DataFrame,
    tier_seconds: int,
    quantiles: list[float] = [0.5, 0.9, 0.99],
    keys: list[str] = ["series_id"],
    ts_col: str = "ts",
    value_col: str = "value",
    exact: bool = True,
) -> DataFrame:
    """Per-(series, bucket) quantiles — the latency-percentile tier.

    ``exact=True`` uses Spark's exact interpolated ``percentile`` (linear
    interpolation, identical to DuckDB's quantile_cont — verified
    bit-exact on integer-cents inputs), which buffers each group's values:
    fine for tier buckets (bounded by the bucket span), wrong for
    unbounded groups.  ``exact=False`` switches to ``approx_percentile``
    (t-digest-style sketch, constant memory) — the 100 TB default when a
    bucket can hold millions of samples; sketches merge map-side like any
    algebraic aggregate.
    """
    fn = "percentile" if exact else "approx_percentile"

    def _label(q: float) -> str:
        # p50, p99, p99_9 — round (0.29*100 == 28.999...), never truncate,
        # and keep sub-percent quantiles distinct instead of colliding
        pct = round(q * 1000) / 10
        return f"p{pct:g}".replace(".", "_")

    labels = [_label(q) for q in quantiles]
    if len(set(labels)) != len(labels):
        raise ValueError(f"quantiles collide after labeling: {labels}")
    aggs = [
        F.expr(f"{fn}({value_col}, {q})").alias(lab)
        for q, lab in zip(quantiles, labels)
    ]
    return (
        points.withColumn("bucket_ts", bucket_ts(F.col(ts_col), tier_seconds))
        .groupBy(*keys, "bucket_ts")
        .agg(F.count(F.lit(1)).alias("cnt"), *aggs)
    )


def histogram_rollup(
    points: DataFrame,
    tier_seconds: int,
    bin_width: float,
    keys: list[str] = ["series_id"],
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Prometheus-style fixed-width histogram tier: per (series, bucket,
    bin = floor(value/bin_width)) sample counts.

    Long format (one row per non-empty bin) so sparse distributions cost
    only their support; purely algebraic (map-side combined counts), and
    histograms re-aggregate to coarser tiers by summing counts — the same
    chaining as every other tier.
    """
    return (
        points.withColumn("bucket_ts", bucket_ts(F.col(ts_col), tier_seconds))
        .withColumn("bin", F.floor(F.col(value_col) / F.lit(float(bin_width))))
        .groupBy(*keys, "bucket_ts", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def histogram_quantile(
    hist: DataFrame,
    q: float,
    bin_width: float,
    keys: list[str] = ["series_id"],
) -> DataFrame:
    """PromQL-style histogram_quantile over the histogram tier.

    Estimates the q-quantile per (keys, bucket_ts) from binned counts:
    the target rank r = q * total lands in the first bin whose cumulative
    count reaches it, and the estimate interpolates linearly inside that
    bin — exactly Prometheus's histogram_quantile contract (bin-width
    resolution, monotone in q).  Because the tier is MERGEABLE (counts
    sum), this gives quantiles at any rollup level without keeping raw
    samples — the scale complement to the exact percentile tier.

    Plan: one bounded window per (keys, bucket_ts) ordered by bin (state
    = bins in one bucket, typically tens), then a filter to the first
    covering bin — no raw-data shuffle at all.  Integer counts keep rank
    arithmetic exact; the interpolation is the identical float expression
    in the SQL oracle.

    Output: keys + bucket_ts, total, quantile estimate ``q_est``.
    """
    on = [*keys, "bucket_ts"]
    w = W.partitionBy(*on).orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    wall = W.partitionBy(*on)
    cum = F.sum("n").over(w)
    total = F.sum("n").over(wall)
    src = (
        hist.withColumn("_cum", cum)
        .withColumn("total", total)
        .withColumn("_rank", F.lit(float(q)) * F.col("total"))
    )
    # first bin whose cumulative count covers the target rank
    covering = src.filter(
        (F.col("_cum") >= F.col("_rank"))
        & ((F.col("_cum") - F.col("n")) < F.col("_rank"))
    )
    frac = (F.col("_rank") - (F.col("_cum") - F.col("n"))) / F.col("n")
    q_est = (F.col("bin") + frac) * F.lit(float(bin_width))
    return covering.select(*on, "total", q_est.alias("q_est"))


def psi_drift(
    hist: DataFrame,
    ref_start: int,
    ref_end: int,
    cur_start: int,
    cur_end: int,
    keys: list[str] = ["series_id"],
    smooth: float = 0.5,
    exact_nanos: bool = False,
) -> DataFrame:
    """Population Stability Index between two time ranges of the
    histogram tier — the standard data/feature drift monitor.

    PSI = Σ_bins (p_i − q_i) · ln(p_i / q_i), where p/q are the bin
    probability masses of the CURRENT and REFERENCE windows.  Bins are
    additively smoothed (``smooth`` pseudo-counts over the union support)
    so one-sided-empty bins stay finite — the textbook variant.
    Conventional reading: PSI < 0.1 stable, 0.1–0.25 moderate shift,
    > 0.25 major shift.

    Runs entirely off the MERGEABLE histogram tier (counts sum over each
    range — no raw data touched): two range-filtered algebraic
    aggregates, one full-outer join on (keys, bin) to form the union
    support, one final sum per key.  All shuffles are keyed on
    (keys[, bin]).

    Output: keys + n_ref, n_cur, n_bins, psi.
    """
    # epoch-second boundaries: timezone-independent (string->timestamp
    # casts would shift with the session zone)
    be = F.unix_timestamp(F.col("bucket_ts"))
    ref = (
        hist.filter((be >= F.lit(ref_start)) & (be < F.lit(ref_end)))
        .groupBy(*keys, "bin")
        .agg(F.sum("n").alias("_nr"))
    )
    cur = (
        hist.filter((be >= F.lit(cur_start)) & (be < F.lit(cur_end)))
        .groupBy(*keys, "bin")
        .agg(F.sum("n").alias("_nc"))
    )
    joined = ref.join(cur, [*keys, "bin"], "full_outer").select(
        *keys,
        "bin",
        F.coalesce("_nr", F.lit(0)).alias("_nr"),
        F.coalesce("_nc", F.lit(0)).alias("_nc"),
    )
    totals = joined.groupBy(*keys).agg(
        F.sum("_nr").alias("n_ref"),
        F.sum("_nc").alias("n_cur"),
        F.count(F.lit(1)).alias("n_bins"),
    )
    j = joined.join(totals, keys)
    p = (F.col("_nc") + smooth) / (F.col("n_cur") + smooth * F.col("n_bins"))
    q = (F.col("_nr") + smooth) / (F.col("n_ref") + smooth * F.col("n_bins"))
    term = (p - q) * F.log(p / q)
    aggs = [
        F.first("n_ref").alias("n_ref"),
        F.first("n_cur").alias("n_cur"),
        F.first("n_bins").alias("n_bins"),
        F.sum("_t").alias("psi"),
    ]
    if exact_nanos:
        # per-bin terms are engine-deterministic (exact-integer inputs
        # through identical expressions), but a float SUM is order-
        # dependent; rounding each term to integer nanos FIRST makes the
        # total an exact integer sum — the cross-engine checksum form the
        # driver oracle hashes
        aggs.append(
            F.sum(F.floor(F.col("_t") * 1e9 + 0.5).cast("long")).alias(
                "psi_nanos"
            )
        )
    return j.withColumn("_t", term).groupBy(*keys).agg(*aggs)


def ks_drift(
    hist: DataFrame,
    ref_start: int,
    ref_end: int,
    cur_start: int,
    cur_end: int,
    keys: list[str] = ["series_id"],
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift between two time ranges of the
    histogram tier: max ECDF gap across bin edges.

    Complements [PSI] psi_drift — KS reads the worst single point of
    divergence where PSI reads the total; alerting stacks usually gate on
    both.  Computed EXACTLY in integers: at each union-support bin the
    ECDF gap is |cum_ref·n_cur − cum_cur·n_ref| / (n_ref·n_cur), so the
    per-key max is a max over exact integer numerators (ks_num) with one
    shared-denominator division at the end — order-independent, hence a
    cross-engine checksum the driver oracle can hash.

    Same scale shape as psi_drift: two range-filtered sums over the
    mergeable tier, a full-outer join on (keys, bin), cumulative sums
    over the per-key bin order (bins per key are bounded by the histogram
    width — the window partition is small by construction), one max per
    key.  Keys empty on either side are dropped (KS undefined).

    Output: keys + n_ref, n_cur, ks_num, ks.
    """
    be = F.unix_timestamp(F.col("bucket_ts"))
    ref = (
        hist.filter((be >= F.lit(ref_start)) & (be < F.lit(ref_end)))
        .groupBy(*keys, "bin")
        .agg(F.sum("n").alias("_nr"))
    )
    cur = (
        hist.filter((be >= F.lit(cur_start)) & (be < F.lit(cur_end)))
        .groupBy(*keys, "bin")
        .agg(F.sum("n").alias("_nc"))
    )
    joined = ref.join(cur, [*keys, "bin"], "full_outer").select(
        *keys,
        "bin",
        F.coalesce("_nr", F.lit(0)).cast("long").alias("_nr"),
        F.coalesce("_nc", F.lit(0)).cast("long").alias("_nc"),
    )
    w = (
        W.partitionBy(*keys)
        .orderBy("bin")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = joined.select(
        *keys,
        F.sum("_nr").over(w).alias("_cr"),
        F.sum("_nc").over(w).alias("_cc"),
    )
    totals = joined.groupBy(*keys).agg(
        F.sum("_nr").alias("n_ref"), F.sum("_nc").alias("n_cur")
    )
    j = cum.join(totals, keys)
    num = F.abs(
        F.col("_cr") * F.col("n_cur") - F.col("_cc") * F.col("n_ref")
    )
    return (
        j.filter((F.col("n_ref") > 0) & (F.col("n_cur") > 0))
        .withColumn("_num", num)
        .groupBy(*keys)
        .agg(
            F.first("n_ref").alias("n_ref"),
            F.first("n_cur").alias("n_cur"),
            F.max("_num").alias("ks_num"),
        )
        .withColumn(
            "ks", F.col("ks_num") / (F.col("n_ref") * F.col("n_cur"))
        )
    )


def trimmed_mean_rollup(
    points: DataFrame,
    tier_seconds: int,
    lo: float = 0.05,
    hi: float = 0.95,
    keys: list[str] = ["series_id"],
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Robust tier statistic: mean of values inside the [lo, hi] quantile
    band per (series, bucket) — outlier-resistant where plain avg is not.

    Two passes sharing one shuffle key: bucket quantile thresholds
    (exact interpolated percentile), then a co-partitioned join back and
    a filtered algebraic mean.  On integer-valued inputs the thresholds
    are bit-identical across engines, so the filtered row set — and hence
    the trimmed mean — is engine-exact (driver oracle hash-matches).
    """
    v = F.col(value_col)
    bucketed = points.withColumn(
        "bucket_ts", bucket_ts(F.col(ts_col), tier_seconds)
    )
    thresholds = bucketed.groupBy(*keys, "bucket_ts").agg(
        F.expr(f"percentile({value_col}, {lo})").alias("_lo"),
        F.expr(f"percentile({value_col}, {hi})").alias("_hi"),
        F.count(F.lit(1)).alias("cnt_all"),
    )
    on = [*keys, "bucket_ts"]
    return (
        bucketed.join(thresholds, on)
        .filter((v >= F.col("_lo")) & (v <= F.col("_hi")))
        .groupBy(*on)
        .agg(
            F.first("cnt_all").alias("cnt_all"),
            F.count(v).alias("cnt_kept"),
            F.sum(v).alias("sum_kept"),
            (F.sum(v) / F.count(v)).alias("trimmed_mean"),
        )
    )


def refresh_tier_incremental(
    committed: DataFrame,
    new_points: DataFrame,
    tier_seconds: int,
    keys: list[str] = ["series_id"],
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Continuous-aggregate incremental refresh (TimescaleDB-style).

    Given a committed tier table and a batch of NEW raw points, recompute
    only the buckets the batch touches and merge them algebraically with
    the committed rows — never re-reading the raw history.  Correct for
    any batch (late, out-of-order, or in-order tail) because every tier
    statistic is associative: committed ⊕ partial(new) == full recompute
    (asserted bit-exact in tests/test_rollup.py).

    Scale shape: ``partial(new)`` is a map-side-combined aggregation of
    the batch alone; ``touched`` (distinct (keys, bucket_ts) of the batch)
    is tiny relative to the committed tier, so both the locating semi-join
    and the anti-join are broadcast — the committed table is scanned once,
    column-pruned, with NO shuffle of committed rows except the touched
    subset (bounded by the batch's bucket span).

    This is the in-memory merge (a committed tier DataFrame in, the
    refreshed tier out).  Writers of the date-partitioned tier store use
    ``stream_tier.refresh_tier_store`` instead: its dynamic overwrite
    replaces whole touched dates, so it re-aggregates those dates with
    the batch in one shuffle and needs neither broadcast join.
    """
    delta = rollup_points(new_points, tier_seconds, keys, ts_col, value_col)
    on = [*keys, "bucket_ts"]
    touched = delta.select(*on).distinct()
    merged = rollup_tier(
        committed.join(F.broadcast(touched), on, "left_semi").unionByName(delta),
        tier_seconds,  # re-floor of an already-floored bucket_ts: identity
        keys,
    )
    untouched = committed.join(F.broadcast(touched), on, "left_anti")
    return untouched.unionByName(merged)


def realtime_cagg(
    committed: DataFrame,
    raw: DataFrame,
    tier_seconds: int,
    watermark_epoch: int,
    keys: list[str] = ["series_id"],
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Real-time continuous-aggregate VIEW (TimescaleDB semantics).

    Serves the tier as of NOW without waiting for the next refresh:
    materialized rows for buckets strictly below the (bucket-aligned)
    watermark, UNION an on-the-fly rollup of raw points at/after it.
    When ``committed`` is complete below the watermark, the view equals a
    full recompute bit-for-bit in cents units (driver oracle
    ``realtime_cagg_1h`` + tests/test_rollup.py).

    Scale shape — this is a pure union, NO join and NO shuffle of
    committed rows: the committed side is a bucket-range filter
    (partition-prunable on a date-partitioned tier store), and the raw
    side is a plain ``ts >= watermark`` predicate that pushes down to the
    scan, so only
    the recent files are read and the on-the-fly aggregation is bounded
    by the refresh lag, not by history.  Late points BELOW the watermark
    are intentionally invisible here (exactly TimescaleDB's contract):
    they surface once merged into the committed tier — for a
    date-partitioned tier store through ``stream_tier.refresh_tier_store``
    (``apply_batch_once``), for an in-memory tier through
    ``refresh_tier_incremental``.
    """
    wm = (int(watermark_epoch) // tier_seconds) * tier_seconds
    wm_ts = F.timestamp_seconds(F.lit(wm))
    mat = committed.filter(F.col("bucket_ts") < wm_ts)
    tail = raw.filter(F.col(ts_col) >= wm_ts)
    return mat.unionByName(
        rollup_points(tail, tier_seconds, keys, ts_col, value_col)
    )


def stitched_range_read(
    tiers: dict[str, DataFrame],
    tier_seconds: dict[str, int],
    retention_seconds: dict[str, int],
    now_epoch: int,
    t0_epoch: int,
    t1_epoch: int,
) -> DataFrame:
    """Multi-resolution range read across retention boundaries (the
    Thanos/M3 serve path): each span of [t0, t1) is served by the FINEST
    tier that still retains it — the recent tail at full resolution,
    older spans from progressively coarser tiers, in ONE result.

    Handoffs align UP to the next-coarser tier's bucket edge so no
    coarse bucket is split — except when a tier retains all the way back
    to t0, in which case it serves from t0 directly (no alignment gap).
    Spans are disjoint by construction and cover [t0, t1) clipped to
    what the coarsest tier retains.  Whole-bucket serve semantics at the
    range edges (as in Thanos/M3): the bucket straddling t1, the bucket
    straddling t0, and the coarsest tier's bucket straddling its own
    retention edge are all INCLUDED — each overlaps the served range and
    nothing else serves that span, so no data is double-counted.

    Config contract (validated): resolutions strictly increase and NEST
    (each coarser is an integer multiple of the finer — otherwise a
    coarse handoff edge would split a finer bucket), and retention is
    non-decreasing with coarseness.  A middle tier whose retention is
    too short to take the finer tier's handoff raises (serving it would
    silently double-count the handoff span through a straddling
    coarsest-tier bucket).

    Scale shape: per tier one bucket-range filter + union — no join, no
    shuffle; on a ``read_tier_store`` frame each filter also prunes the
    ``bucket_date`` partitions (``stream_tier.clip_buckets``), and each
    coarser tier contributes ~60x fewer rows, so the result size is
    dominated by the fine tail regardless of how far back t0 reaches.

    Output: the tier rows (keys + bucket_ts + stats) plus ``tier`` and
    ``resolution_s`` columns recording which tier served each row.
    """
    from ..streaming.stream_tier import clip_buckets

    spans = stitch_spans(
        sorted(tiers, key=lambda n: tier_seconds[n]),
        tier_seconds,
        retention_seconds,
        int(now_epoch),
        int(t0_epoch),
        int(t1_epoch),
    )
    parts: list[DataFrame] = []
    for name, flo, hi in spans:
        parts.append(
            clip_buckets(tiers[name], flo, hi)
            .withColumn("tier", F.lit(name))
            .withColumn(
                "resolution_s", F.lit(tier_seconds[name]).cast("long")
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def stitch_spans(
    names: list[str],
    tier_seconds: dict[str, int],
    retention_seconds: dict[str, int],
    now_epoch: int,
    t0: int,
    t1: int,
) -> list[tuple[str, int, int]]:
    """Pure span arithmetic behind :func:`stitched_range_read`:
    fine-to-coarse ``names`` -> list of (tier, filter_lo, hi) bucket
    ranges.  Separated so the disjointness / coverage / alignment
    invariants can be property-tested without a SparkSession
    (tests/test_properties.py)."""
    for a, b in zip(names, names[1:]):
        if tier_seconds[b] % tier_seconds[a] != 0:
            raise ValueError(
                f"tier resolutions must nest: {b}={tier_seconds[b]}s is not "
                f"a multiple of {a}={tier_seconds[a]}s"
            )
        if retention_seconds[b] < retention_seconds[a]:
            raise ValueError(
                f"retention must not shrink with coarseness: {b} retains "
                f"{retention_seconds[b]}s < {a}'s {retention_seconds[a]}s"
            )
    spans: list[tuple[str, int, int]] = []
    hi = t1
    for i, name in enumerate(names):
        if hi <= t0:
            break
        sec = tier_seconds[name]
        oldest = now_epoch - int(retention_seconds[name])
        if oldest <= t0:
            lo = t0  # retains the whole remaining range: serve it all
        elif i + 1 < len(names):
            coarse = tier_seconds[names[i + 1]]
            lo = -(-oldest // coarse) * coarse  # ceil to the handoff edge
            if lo > hi:
                raise ValueError(
                    f"tier {name} retains only back to {oldest} (aligned "
                    f"{lo}) but must take the handoff at {hi}; extend its "
                    "retention or shorten the finer tier's"
                )
        else:
            lo = max(t0, oldest // sec * sec)  # retention clip, floor-align
        if lo < hi:
            # whole-bucket semantics at the span start that nothing
            # finer-or-older serves: include the straddling bucket
            flo = (lo // sec * sec) if lo <= t0 else lo
            spans.append((name, flo, hi))
        hi = min(hi, lo)
    if not spans:
        raise ValueError("no tier retains any part of the requested range")
    return spans


def choose_tier(
    start_epoch: int,
    end_epoch: int,
    target_points: int = 1000,
    tiers: dict[str, int] = TIERS,
) -> str:
    """Pick the COARSEST tier that still yields >= target_points buckets
    over [start, end] — the Grafana-style resolution router: a 1-hour
    dashboard panel reads the 1m tier, a 1-year panel the 1d tier,
    never raw points.  Falls back to the finest tier for short ranges.
    """
    span = max(0, end_epoch - start_epoch)
    best = min(tiers, key=tiers.get)  # finest
    for name in sorted(tiers, key=tiers.get, reverse=True):  # coarse -> fine
        if span // tiers[name] >= target_points:
            return name
    return best


def serve_range(
    tiers: dict[str, DataFrame],
    tier_seconds: dict[str, int],
    t0_epoch: int,
    t1_epoch: int,
    max_points: int = 1000,
) -> tuple[str, int, DataFrame]:
    """The dashboard read path (Grafana ``maxDataPoints`` contract):
    route to the coarsest tier that still resolves the range
    (choose_tier), clip to [t0, t1), then M4-pixel the tier's avg
    series so the response carries at most ~``max_points`` pixel
    buckets x 4 witness points PER SERIES — error-free for line
    rendering (min/max/first/last preserved), regardless of how wide
    the range is.  Filter the tier to the panel's series upstream, as a
    dashboard does; the per-series bound is the contract.

    Scale shape: one bucket-range filter on the chosen tier (it prunes
    ``bucket_date`` partitions on a ``read_tier_store`` frame) + M4's
    single algebraic aggregation; response size is bounded by
    max_points, not by the range.  Returns (tier_name, pixel_seconds, df).
    """
    from ..streaming.stream_tier import clip_buckets
    from .lttb import m4_downsample

    span = max(0, int(t1_epoch) - int(t0_epoch))
    name = choose_tier(t0_epoch, t1_epoch, max_points, tier_seconds)
    sec = tier_seconds[name]
    px_raw = -(-span // max(1, max_points))  # ceil seconds per pixel
    px = max(sec, -(-px_raw // sec) * sec)  # align up to the tier grid
    pts = clip_buckets(tiers[name], t0_epoch, t1_epoch).select(
        "series_id",
        F.col("bucket_ts").alias("ts"),
        F.col("avg").alias("value"),
        # bucket index: the unique, order-preserving M4 tie-break key
        (F.unix_timestamp("bucket_ts") / sec).cast("long").alias("seq"),
    )
    return name, px, m4_downsample(pts, px)


def read_tier_range(
    spark,
    store_paths: dict[str, str],
    start_epoch: int,
    end_epoch: int,
    target_points: int = 1000,
    tiers: dict[str, int] = TIERS,
):
    """Route a time-range query to the right tier store and read it
    partition-pruned.

    ``store_paths`` maps tier name -> date-partitioned tier store
    (stream_tier layout: ``bucket_date=``).  The chosen tier's store is
    scanned with a bucket_date predicate derived from the range
    (``stream_tier.clip_buckets``), so only the covered date directories
    are listed — the read cost tracks the RANGE, not the store.  Returns
    (tier_name, DataFrame).
    """
    from ..streaming.stream_tier import clip_buckets, read_tier_store

    # route among the tiers a store actually exists for: the coarsest
    # AVAILABLE tier meeting target_points (falling back to the finest
    # available tier would scan up to 60x the buckets when e.g. the 1d
    # store is missing but 1h would satisfy the target)
    available = {t: tiers[t] for t in store_paths if t in tiers}
    if not available:
        raise ValueError(f"no known tier among stores: {list(store_paths)}")
    name = choose_tier(start_epoch, end_epoch, target_points, available)
    df = read_tier_store(spark, store_paths[name])
    return name, clip_buckets(df, start_epoch, end_epoch)


def score_pages_to_tiers(
    pages_with_offsets: DataFrame,
    features,
    winlen: int,
    noverlap: int = 0,
    fs: float = 1.0,
    origin_epoch: int = 1_700_000_000,
    tiers: dict[str, int] = TIERS,
    keys: list[str] = ["series_id"],
) -> dict[str, DataFrame]:
    """The north-star pipeline as ONE operator: page text -> windowed
    feature kernels -> every retention tier, FUSED.

    Window scores stream straight into every tier's partial aggregation
    inside the kernel stage's output (``rollup_all_tiers``: one aggregate,
    one checkpoint, no intermediate materialization).
    The per-window timestamp is ``origin_epoch + win_start/fs`` and the
    tier series key is ``series_id|feature`` so each feature rolls up as
    its own series.  Equivalent to score_pages + rollup_all_tiers row for
    row (tested), but the fused plan is what production should run —
    benchmarked at 0.86 scaling efficiency from 1 to 4 executors.
    """
    from pyspark.sql import functions as F

    from .score import score_pages

    scored = score_pages(pages_with_offsets, features, winlen, noverlap, fs=fs)
    return rollup_all_tiers(
        scores_to_points(scored, fs, origin_epoch), keys=keys, tiers=tiers
    )


def scores_to_points(
    scored: DataFrame, fs: float, origin_epoch: int = 1_700_000_000
) -> DataFrame:
    """Long score rows -> tier points: the ONE place the tier-key and
    timestamp conventions live (series key = ``series_id|feature``,
    ts = origin + win_start/fs).  Shared by the fused pipeline above
    and the resumable deployment job (jobs/rollup_job.py) so the two
    cannot silently diverge."""
    from pyspark.sql import functions as F

    return scored.select(
        F.concat_ws("|", "series_id", "feature").alias("series_id"),
        F.timestamp_seconds(
            F.lit(origin_epoch) + F.col("win_start") / F.lit(float(fs))
        ).alias("ts"),
        "value",
    )


def audit_tier_consistency(
    fine: DataFrame,
    coarse: DataFrame,
    tier_seconds: int,
    keys: list[str] = ["series_id"],
) -> DataFrame:
    """Cross-tier consistency audit: recompute the coarse tier from the
    fine tier and diff it against the STORED coarse tier — the check an
    operator runs after a suspect partial refresh, a crashed dynamic
    overwrite, or a journal `intent` stall (stream_tier.py) to find
    exactly which buckets need rebuilding.

    Compares the algebraic columns (cnt/sum/min/max) null-safely per
    (keys, bucket): a bucket missing on either side counts as a
    mismatch (first/last are excluded — their tie order is path-
    dependent under duplicate timestamps, see ohlc_rollup).  Sums match
    to rel 1e-12: a store that took late batches (apply_batch_once) adds
    in another order than the recompute.  Returns one row per key group:
    buckets checked, buckets mismatched — a clean store reads
    n_mismatch = 0 everywhere; corruption pinpoints itself (tested by
    injecting a flipped sum).

    Scale shape: the re-aggregation is the ordinary algebraic tier merge
    (map-side combined), and the diff is an equi-join of two tier-sized
    relations co-partitioned on the same key — nothing here touches raw
    points.
    """
    on = [*keys, "bucket_ts"]
    re = rollup_tier(fine, tier_seconds, keys)
    a = re.select(*on, *[F.col(c).alias(f"a_{c}") for c in ["cnt", "sum", "min", "max"]])
    b = coarse.select(*on, *[F.col(c).alias(f"b_{c}") for c in ["cnt", "sum", "min", "max"]])
    j = a.join(b, on, "full_outer")
    sa, sb = F.col("a_sum"), F.col("b_sum")
    ok = (
        F.col("a_cnt").eqNullSafe(F.col("b_cnt"))
        & (sa.eqNullSafe(sb) | (F.abs(sa - sb) < 1e-12 * (F.abs(sa) + F.abs(sb))))
        & F.col("a_min").eqNullSafe(F.col("b_min"))
        & F.col("a_max").eqNullSafe(F.col("b_max"))
    )
    return j.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        # ok is null when one sum is null and the other is not: a mismatch
        F.sum(F.when(ok, 0).otherwise(1)).alias("n_mismatch"),
    )
