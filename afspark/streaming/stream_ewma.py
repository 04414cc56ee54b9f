"""Stateful streaming EWMA: the sample-order linear recurrence over a
live per-series stream, exact vs the batch operator.

The batch ewma (operators/tsanalytics.py) parallelizes the recurrence
with the two-level chunk decomposition; a stream delivers the same
recurrence incrementally.  State per series is O(1) — (last ewma value,
samples seen, last event-time) — carried across micro-batches with
applyInPandasWithState (same surface as stream_score/stream_dedup), so
y_i = (1-a)*y_{i-1} + a*x_i continues exactly where the previous batch
stopped; the y_{-1} = 0 convention matches the batch operator.

Ordering contract: samples must arrive per series in non-decreasing ts
order across micro-batches (within a batch they are sorted by
(ts, value), the batch operator's tie order).  A batch whose earliest ts
precedes the carried last ts raises rather than emitting silently wrong
values — arbitrarily late data belongs to the batch OoO path, the same
Lambda split every streaming op here uses.  Equal timestamps split
ACROSS micro-batches process in delivery order (the batch engine's
(ts, value) tie order cannot see batch boundaries); keep tie groups in
one batch for bit-parity.

Scale shape: O(1) state per series (three scalars), partitioned by
series; hot series are a throughput concern only (state does not grow).
At 100 TB state belongs in the RocksDB provider.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = "series_id string, ts timestamp, value double, ewma double"
STATE_SCHEMA = "last double, n long, last_ts double"


def _carry_per_series(
    points: DataFrame,
    step,
    init: tuple,
    out_schema: str,
    state_schema: str,
    series_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """The skeleton every operator here shares: per series, load the
    carried state (``init`` for a fresh series), sort the micro-batch by
    (ts, value), refuse data older than the carried last ts, run
    ``step(carried, pdf, ts_us) -> (carried, columns)`` and emit
    (series_id, ts, *columns) in append mode.

    Each state schema ends in ``last_ts``; ``init`` holds the fields
    before it (a fresh series' last_ts is -inf, which nothing precedes).
    """

    def fn(key, pdfs, state: GroupState):
        series_id = key[0]
        *carried, last_ts = state.get if state.exists else (*init, float("-inf"))
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        pdf = (
            pd.concat(chunks)
            .sort_values([ts_col, value_col], kind="mergesort")
            .reset_index(drop=True)
        )
        ts_us = pdf[ts_col].astype("datetime64[us]").astype("int64").to_numpy()
        ts_sec = ts_us / 1e6
        if ts_sec[0] < last_ts:
            raise ValueError(
                f"series {series_id!r}: batch starts at ts {ts_sec[0]} before "
                f"carried last ts {last_ts}; late data must go through the "
                "batch OoO merge path"
            )
        carried, cols = step(carried, pdf, ts_us)
        state.update((*carried, float(ts_sec[-1])))
        yield pd.DataFrame({"series_id": series_id, "ts": pdf[ts_col], **cols})

    src = points.select(
        F.col(series_col).cast("string").alias(series_col), ts_col, value_col
    )
    return src.groupBy(series_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def streaming_ewma(
    points: DataFrame,
    alpha: float,
    series_col: str = "series_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Streaming (series_id, ts, value) -> same rows + ewma, append mode."""
    if not (0.0 < alpha <= 1.0):
        raise ValueError("require 0 < alpha <= 1")

    def step(carried, pdf, ts_us):
        last, n = carried
        x = pdf[value_col].to_numpy(np.float64)
        # continue the recurrence from the carried value: seed the pandas
        # ewm with `last` (0.0 for a fresh series = the y_{-1}=0
        # convention), then drop the seed row
        z = pd.Series(np.concatenate([[last], x]))
        y = z.ewm(alpha=alpha, adjust=False).mean().to_numpy()[1:]
        return (float(y[-1]), int(n + len(x))), {"value": x, "ewma": y}

    return _carry_per_series(
        points, step, (0.0, 0), OUT_SCHEMA, STATE_SCHEMA,
        series_col, ts_col, value_col,
    )


COUNTER_OUT_SCHEMA = (
    "series_id string, ts timestamp, value double, increase double"
)
COUNTER_STATE_SCHEMA = "last double, has_last boolean, last_ts double"


def streaming_counter_increase(
    points: DataFrame,
    series_col: str = "series_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Streaming twin of tsanalytics.counter_increase: PromQL increase
    with reset handling over a live stream, O(1) state per series (the
    previous sample's value, carried across micro-batches).

    Same ordering contract as streaming_ewma: per-series non-decreasing
    ts across batches (raises otherwise — late data belongs to the batch
    OoO path); rows sort by (ts, value) within a batch, the batch
    operator's tie order.  State distinguishes 'no previous sample yet'
    (has_last=False -> null increase, the batch first-row rule) from a
    carried NULL-safe value, mirroring the batch path's struct-wrapped
    lag.
    """

    def step(carried, pdf, ts_us):
        last, has_last = carried
        x = pdf[value_col].to_numpy(np.float64)  # NaN where SQL NULL
        prev = np.concatenate([[last if has_last else np.nan], x[:-1]])
        delta = x - prev
        inc = np.where(delta < 0, x, delta)  # NaN propagates from prev/x
        # nullable Float64 so NaN round-trips to SQL NULL (the batch
        # operator yields NULL for the first sample and around NULL
        # values; a raw float64 column would emit NaN instead)
        inc_arr = pd.array(inc, dtype="Float64")
        return (float(x[-1]), True), {"value": pdf[value_col], "increase": inc_arr}

    return _carry_per_series(
        points, step, (0.0, False), COUNTER_OUT_SCHEMA, COUNTER_STATE_SCHEMA,
        series_col, ts_col, value_col,
    )


HOLT_OUT_SCHEMA = (
    "series_id string, ts timestamp, value double, level double, trend double"
)
HOLT_STATE_SCHEMA = "l double, b double, n long, last_ts double"


def streaming_holt(
    points: DataFrame,
    alpha: float,
    beta: float,
    series_col: str = "series_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Streaming twin of tsanalytics.holt_linear: the 2-dim level/trend
    recurrence continued across micro-batches with O(1) state per series
    (l, b, n, last_ts — four scalars).

    Same zero-init convention (s_{-1} = (0, 0)) and the same
    (ts, value) in-batch tie order as the batch operator, so a stream
    delivered in order reproduces the batch output bit-for-bit per batch
    prefix (asserted in tests/test_streaming.py across micro-batch
    cuts).  The ordering contract and late-data ValueError mirror
    streaming_ewma — arbitrarily late data belongs to the batch OoO
    path.
    """
    if not (0.0 < alpha <= 1.0) or not (0.0 <= beta <= 1.0):
        raise ValueError("require 0 < alpha <= 1 and 0 <= beta <= 1")
    a11, a12 = 1.0 - alpha, 1.0 - alpha
    a21, a22 = -alpha * beta, 1.0 - alpha * beta
    ca, cb = alpha, alpha * beta

    def step(carried, pdf, ts_us):
        l, b, n = carried
        x = pdf[value_col].to_numpy(np.float64)
        lv = np.empty(len(x))
        tv = np.empty(len(x))
        for i, xi in enumerate(x):
            l, b = a11 * l + a12 * b + ca * xi, a21 * l + a22 * b + cb * xi
            lv[i], tv[i] = l, b
        return (
            (float(l), float(b), int(n + len(x))),
            {"value": x, "level": lv, "trend": tv},
        )

    return _carry_per_series(
        points, step, (0.0, 0.0, 0), HOLT_OUT_SCHEMA, HOLT_STATE_SCHEMA,
        series_col, ts_col, value_col,
    )


HW_OUT_SCHEMA = (
    "series_id string, ts timestamp, value double, "
    "level double, trend double, seasonal double"
)
HW_STATE_SCHEMA = "l double, b double, s array<double>, n long, last_ts double"


def streaming_holt_winters(
    points: DataFrame,
    alpha: float,
    beta: float,
    gamma: float,
    period_seconds: int = 86400,
    n_phases: int = 24,
    series_col: str = "series_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Streaming twin of tsanalytics.holt_winters_fit: the (m+2)-dim
    level/trend/seasonal recurrence continued across micro-batches with
    O(m) state per series (l, b, the m phase slots, n, last_ts).

    Arithmetic is EXPRESSION-IDENTICAL to holt_winters_fit's local pass
    (same zero-init, same (ts, value) in-batch tie order, the seasonal
    update reading pre-update level/trend), so an in-order stream's
    final state matches the batch fit's sequential path bit-for-bit
    (asserted in tests/test_streaming.py across micro-batch cuts).
    Emits one row per sample with the post-update level, trend, and the
    phase slot just written.  Ordering contract and the late-data
    ValueError mirror streaming_ewma; state is fixed-size (m+4 doubles)
    so hot series are a throughput concern only, never a memory one.
    """
    if period_seconds % n_phases:
        raise ValueError("period_seconds must be divisible by n_phases")
    if not (0.0 < alpha <= 1.0) or not (0.0 <= beta <= 1.0) or not (
        0.0 <= gamma <= 1.0
    ):
        raise ValueError("require 0 < alpha <= 1 and beta, gamma in [0, 1]")
    pw = period_seconds // n_phases

    def step(carried, pdf, ts_us):
        l, b, s_list, n = carried
        sv = np.asarray(s_list, dtype=np.float64)
        ph = (ts_us // 1_000_000) % period_seconds // pw
        x = pdf[value_col].to_numpy(np.float64)
        lv = np.empty(len(x))
        tv = np.empty(len(x))
        sov = np.empty(len(x))
        for i, (xi, j) in enumerate(zip(x, ph)):
            s = sv[j]
            nl = (1 - alpha) * (l + b) + alpha * (xi - s)
            nb = beta * (nl - l) + (1 - beta) * b
            ns = gamma * (xi - l - b) + (1 - gamma) * s
            l, b, sv[j] = nl, nb, ns
            lv[i], tv[i], sov[i] = nl, nb, ns
        return (
            (float(l), float(b), [float(v) for v in sv], int(n + len(x))),
            {"value": x, "level": lv, "trend": tv, "seasonal": sov},
        )

    return _carry_per_series(
        points, step, (0.0, 0.0, [0.0] * n_phases, 0), HW_OUT_SCHEMA,
        HW_STATE_SCHEMA, series_col, ts_col, value_col,
    )
