"""Matrix profile (UCR): per-window z-normalized nearest-neighbor
distance over each series' rollup tier — discord (anomaly) and motif
(repeated shape) detection in one pass.

The matrix profile MP[i] is the z-normalized Euclidean distance from
subsequence i (length ``m`` buckets) to its nearest non-trivial match in
the same series (trivial matches |i-j| < m/2 excluded).  Its argmax is
the series' most anomalous window (discord), its argmin the strongest
repeated motif — the standard model-free anomaly screen on rollup data
(Yeh et al., ICDM 2016; reference repo has no engine/anomaly layer,
SURVEY.md §2 — this extends the tier analytics family).

Scale shape: the distributed axis is SERIES (millions of url-domains at
100 TB), each a modest tier vector bounded by the retention window
(30d of 1h buckets = 720 points), so per-series work is a small dense
O(W x W) GEMM inside one Arrow batch — `applyInPandas` keyed by series,
numpy BLAS inside, no per-row Python.  The tier aggregation before it is
the same two-phase map-side-combined groupBy as rollup_points.  For
series far beyond ~10^4 buckets, the extension is chunked STOMP with
halo overlap (the windows.py halo-chunk pattern); at tier lengths that
path is slower than one GEMM, so it is deliberately not taken here.

Determinism: the ONE local kernel below is the single source of truth —
the Spark path and tools/gen_goldens.py's VALUES oracle both call it on
identical float64 inputs (exact-integer cent sums), so outputs are
bit-identical and the golden's micros rounding is stable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def matrix_profile_local(
    values: np.ndarray, m: int
) -> tuple[np.ndarray, np.ndarray] | None:
    """Full-matrix z-normalized matrix profile of one series.

    Returns (mp, nn_index) over the W = len(values)-m+1 windows, or None
    when no window has a non-trivial neighbor (W <= exclusion zone).
    Flat windows (population std == 0) z-normalize to the zero vector —
    the common convention, making two flat windows distance 0.
    """
    x = np.asarray(values, dtype=np.float64)
    L = x.size
    W = L - m + 1
    excl = int(np.ceil(m / 2))
    if W < 2 or W <= excl:
        return None
    win = np.lib.stride_tricks.sliding_window_view(x, m).astype(np.float64)
    mu = win.mean(axis=1, keepdims=True)
    sd = win.std(axis=1, keepdims=True)  # ddof=0 -> sum(q^2) == m
    q = np.where(sd > 0, (win - mu) / np.where(sd > 0, sd, 1.0), 0.0)
    # dist^2(i,j) = |q_i|^2 + |q_j|^2 - 2 q_i.q_j ; |q|^2 = m (or 0 flat)
    sq = (q * q).sum(axis=1)
    g = q @ q.T
    d2 = sq[:, None] + sq[None, :] - 2.0 * g
    # trivial-match exclusion zone
    idx = np.arange(W)
    band = np.abs(idx[:, None] - idx[None, :]) < excl
    d2[band] = np.inf
    nn = d2.argmin(axis=1)
    mv = d2[idx, nn]
    # a window whose every candidate sits inside the exclusion zone has
    # min == inf (possible when excl <= W < 2*excl): mark it NaN so the
    # argmax/argmin ignore it instead of casting inf to garbage int64
    mp = np.where(np.isfinite(mv), np.sqrt(np.maximum(mv, 0.0)), np.nan)
    if not np.isfinite(mp).any():
        return None
    return mp, nn


def matrix_profile_discord(
    points: DataFrame,
    bucket_seconds: int,
    m: int,
    keys: list[str] = ["series_id"],
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-series discord + motif off the bucketed tier: one row per
    series with the argmax/argmin of the matrix profile.

    The tier series is the ORDERED bucket-sum vector; missing buckets
    compress out of the index space (gap-fill upstream with
    operators.gapfill when calendar spacing matters).  Ties on the
    profile value resolve to the smallest window index (argmax/argmin
    convention) in both the Spark path and the golden twin — same
    kernel, same floats.

    Execution: the two-phase tier aggregation (map-side combine, shuffle
    on keys+bucket) collapses the raw points to at most one row per
    bucket, then ONE explicit-count repartition on ``keys`` +
    sortWithinPartitions + ``mapInPandas`` with IN-PROCESS grouping —
    series are contiguous after the sort, so each Arrow batch splits on
    key boundaries with the tail series carried into the next batch.
    ``applyInPandas`` (the previous shape) ships one Arrow batch PER
    GROUP; on many-small-series data that overhead alone dominated the
    GEMM kernel (measured 5.4 s for a 1500-group identity at sf0.1 —
    see operators/sdt.py for the original measurement).

    Output: keys + n_buckets, n_windows, discord_idx, discord_epoch,
    discord_mp_u (micros), motif_idx, motif_nn, motif_mp_u.
    """
    be = (F.floor(F.unix_timestamp(F.col(ts_col)) / bucket_seconds)
          * bucket_seconds).cast("long")
    tier = (
        points.select(*keys, be.alias("_be"), F.col(value_col).alias("_v"))
        .groupBy(*keys, "_be")
        .agg(F.sum("_v").alias("_sv"))
    )
    key_schema = ", ".join(f"{k} string" for k in keys)
    out_schema = (
        f"{key_schema}, n_buckets long, n_windows long, "
        "discord_idx long, discord_epoch long, discord_mp_u long, "
        "motif_idx long, motif_nn long, motif_mp_u long"
    )
    out_cols = [
        *keys, "n_buckets", "n_windows", "discord_idx", "discord_epoch",
        "discord_mp_u", "motif_idx", "motif_nn", "motif_mp_u",
    ]
    def _emit(pdf: pd.DataFrame) -> pd.DataFrame | None:
        # one numpy conversion per batch + boundary split (per-group
        # pandas construction is ~40x the kernel cost on short series)
        be_arr = pdf["_be"].to_numpy(np.int64)
        sv = pdf["_sv"].to_numpy(np.float64)
        karrs = {k: pdf[k].to_numpy() for k in keys}
        change = np.zeros(len(pdf), dtype=bool)
        for ka in karrs.values():
            change[1:] |= ka[1:] != ka[:-1]
        bounds = [0, *np.flatnonzero(change).tolist(), len(pdf)]
        rows = []
        for s, e in zip(bounds[:-1], bounds[1:]):
            if e <= s:
                continue
            got = matrix_profile_local(sv[s:e], m)
            if got is None:
                continue
            mp, nn = got
            di = int(np.nanargmax(mp))  # first index on ties, NaN-skipped
            mi = int(np.nanargmin(mp))
            rows.append((
                *(ka[s] for ka in karrs.values()),
                e - s, mp.size, di, int(be_arr[s + di]),
                int(np.floor(mp[di] * 1e6 + 0.5)),
                mi, int(nn[mi]), int(np.floor(mp[mi] * 1e6 + 0.5)),
            ))
        if not rows:
            return None
        return pd.DataFrame(rows, columns=out_cols)

    from ._grouped import grouped_batch_in_pandas

    return grouped_batch_in_pandas(
        tier, list(keys), ["_be"], _emit, out_schema
    )
