"""Swinging-Door Trimming (SDT) — the classic historian lossy downsample.

Process historians (OSIsoft PI's compression, Siemens/AVEVA equivalents)
archive a point only when a "swinging door" closes: from the last
archived point, the corridor of slopes that keeps every skipped point
within ``dev`` of a straight line narrows monotonically as points
stream in; when it empties, the PREVIOUS point is archived and the door
restarts from it.  Reconstruction by linear interpolation between
archived points is then guaranteed within ``dev`` everywhere — a
guarantee LTTB (lttb.py) and M4 (rollup/M4 queries) do not make; SDT is
the right tier for "replay the series within a tolerance" retention.

The recurrence is order-dependent with data-dependent restarts, so —
unlike EWMA's linear carry (tsanalytics.py:155) — it cannot be
chunk-decomposed exactly.  Each series is compressed independently in
one task (``applyInPandas`` over the series key), which is exactly how
historians shard by tag: parallelism = #series, and the skew bound is
one series' history per task (same documented bound as sessionize,
sessions.py:20).  Inside the task the kernel is numpy-vectorized per
door segment with doubling-block scans (amortized ~O(n) for realistic
segment lengths), not a per-point Python loop.

Outputs are the archived SUBSET of input rows (plus each series' first
and last point), so downstream tiers see ordinary points.  Golden-tested
against a straight-line/step/noise fixture and via the driver-gate
VALUES oracle (entry_goldens.py) computed by this same numpy twin run
single-process — distributed == local bit-exact, the same proof pattern
as the Score kernels (SURVEY.md §5).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def sdt_mask(t: np.ndarray, v: np.ndarray, dev: float) -> np.ndarray:
    """Keep-mask of the swinging-door algorithm over one series.

    ``t`` strictly increasing (any numeric clock), ``v`` float values,
    ``dev`` the door half-width.  First and last points are always kept.
    Vectorized per door segment: slopes to the upper and lower door
    hinges are cummin/cummax-folded in doubling blocks until the
    corridor empties.

    Guarantee: linear reconstruction between kept points is within
    ``2*dev`` of every skipped point — NOT ``dev``.  The archived
    segment's slope is the midline to the last accepted point, which can
    sit up to ``dev/dt`` outside the accumulated corridor, doubling the
    worst case (the classical one-door SDT property; tested).  Callers
    wanting tolerance T pass ``dev = T/2`` — ``sdt_downsample`` does.
    """
    if dev <= 0:
        raise ValueError("dev must be > 0")  # dev=0 can livelock the door
    n = len(v)
    keep = np.zeros(n, dtype=bool)
    if n == 0:
        return keep
    keep[0] = True
    if n <= 2:
        keep[-1] = True
        return keep
    t = t.astype(np.float64)
    v = v.astype(np.float64)
    a = 0  # last archived index
    while a < n - 1:
        lo, hi_cap = a + 1, n
        smax = np.inf
        smin = -np.inf
        blk = 256
        closed_at = -1
        while lo < hi_cap:
            hi = min(lo + blk, hi_cap)
            dt = t[lo:hi] - t[a]
            up = np.minimum.accumulate(
                np.r_[smax, (v[lo:hi] + dev - v[a]) / dt]
            )[1:]
            dn = np.maximum.accumulate(
                np.r_[smin, (v[lo:hi] - dev - v[a]) / dt]
            )[1:]
            bad = dn > up
            if bad.any():
                closed_at = lo + int(np.argmax(bad))
                break
            smax, smin = up[-1], dn[-1]
            lo = hi
            blk *= 2
        if closed_at < 0:
            break  # door never closed: rest of series fits one segment
        # archive the point BEFORE the violator; door restarts from it
        keep[closed_at - 1] = True
        a = closed_at - 1
    keep[n - 1] = True
    return keep


def sdt_downsample(
    points: DataFrame,
    dev: float,
    keys: list[str] = ["series_id"],
    ts_col: str = "ts",
    value_col: str = "value",
    order_col: str | None = None,
) -> DataFrame:
    """Archive each series' swinging-door subset (schema preserved).

    ``dev`` is the RECONSTRUCTION tolerance: linear interpolation over
    the archived points stays within ``dev`` of every dropped point
    (doors run at half-width ``dev/2`` internally — see sdt_mask).
    ``order_col`` (default ``ts_col``) is the kernel's clock — pass a
    numeric sequence column when timestamps carry duplicates.

    Execution is ONE explicit-count shuffle on ``keys`` (explicit so AQE
    byte-coalescing can't serialize the CPU stage — the score.py
    gotcha), sortWithinPartitions, then ``mapInPandas`` with IN-PROCESS
    grouping: series are contiguous after the sort, so each Arrow batch
    is split on key boundaries and the tail series is carried into the
    next batch.  ``applyInPandas`` was 6x slower here — it ships one
    Arrow batch PER GROUP, and historian workloads have many small
    series (measured: 5.4 s identity vs <1 s for 1500 groups / 100k
    rows).  Carry memory is bounded by one series' history — the same
    documented skew bound as the per-tag task shape it replaces.
    """
    order = order_col or ts_col
    schema = points.schema
    cols = [f.name for f in schema.fields]
    # Partition count from session conf only — never ``points.rdd``:
    # under AQE, converting a DataFrame with upstream exchanges to an RDD
    # EXECUTES those shuffle stages as a real job just to learn the
    # partition count, so the whole upstream plan ran twice (measured: a
    # row_number-windowed input paid its full window shuffle once inside
    # .rdd.getNumPartitions() and again in the actual query).  At scale
    # the operative knob is spark.sql.shuffle.partitions, which the
    # deployment sizes to the data.
    from ._grouped import default_grouped_partitions

    n = default_grouped_partitions(points.sparkSession)

    def _compress(pdf: pd.DataFrame) -> pd.DataFrame:
        # one numpy conversion per batch + boundary split beats a pandas
        # groupby: per-group DataFrame construction dominated the kernel
        # by ~40x on historian-shaped data (many short series)
        clock = pdf[order].to_numpy()
        if np.issubdtype(clock.dtype, np.datetime64):
            clock = clock.astype("datetime64[ns]").astype(np.int64) / 1e9
        clock = np.asarray(clock, dtype=np.float64)
        vals = pdf[value_col].to_numpy(dtype=np.float64)
        change = np.zeros(len(pdf), dtype=bool)
        for k in keys:
            ka = pdf[k].to_numpy()
            change[1:] |= ka[1:] != ka[:-1]
        bounds = [0, *np.flatnonzero(change).tolist(), len(pdf)]
        keep = np.zeros(len(pdf), dtype=bool)
        for s, e in zip(bounds[:-1], bounds[1:]):
            if e > s:
                keep[s:e] = sdt_mask(clock[s:e], vals[s:e], dev / 2.0)
        return pdf.loc[keep]

    from ._grouped import grouped_batch_in_pandas

    return grouped_batch_in_pandas(
        points, list(keys), [order], _compress, schema, n_partitions=n
    ).select(*cols)
