"""Stateful streaming recrawl change detection: the per-url
consecutive-crawl Hamming delta (operators/recrawl.py) over a live
crawl stream, exact vs the batch operator.

State per url is O(1) — (last fingerprint, seen flag, last crawl ts) —
carried across micro-batches with applyInPandasWithState (the same
surface as stream_ewma/stream_dedup), so the first crawl of a url in
batch N+1 diffs against its last crawl from batch N exactly as the
batch lag window would.

Ordering contract (same Lambda split as every streaming op here):
crawls must arrive per url in non-decreasing ``warc_ts`` order across
micro-batches; a batch that starts before the carried last ts raises —
arbitrarily late crawls go through the batch recompute
(``recrawl.recrawl_deltas``).

Hamming is computed with a vectorized SWAR popcount over the XOR — no
per-row Python — matching Spark's ``bit_count`` on the full 64-bit
two's-complement pattern (verified == batch in tests/test_streaming.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = (
    "url string, warc_ts timestamp, simhash long, prev_sim long, hamming integer"
)
STATE_SCHEMA = "last_sim long, has_last boolean, last_ts double"


def _popcount_u64(x: np.ndarray) -> np.ndarray:
    """Branch-free SWAR popcount over uint64 lanes (wraps intentionally)."""
    m1 = np.uint64(0x5555555555555555)
    m2 = np.uint64(0x3333333333333333)
    m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
    h = np.uint64(0x0101010101010101)
    with np.errstate(over="ignore"):
        x = x.astype(np.uint64)
        x = x - ((x >> np.uint64(1)) & m1)
        x = (x & m2) + ((x >> np.uint64(2)) & m2)
        x = (x + (x >> np.uint64(4))) & m4
        return ((x * h) >> np.uint64(56)).astype(np.int64)


def streaming_recrawl_deltas(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    sim_col: str = "simhash",
) -> DataFrame:
    """Streaming (url, warc_ts, simhash) -> same rows + prev_sim/hamming,
    append mode; first crawl of a url emits NULLs like the batch lag."""

    def fn(key, pdfs, state: GroupState):
        url = key[0]
        if state.exists:
            last_sim, has_last, last_ts = state.get
        else:
            last_sim, has_last, last_ts = 0, False, float("-inf")

        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        pdf = (
            pd.concat(chunks)
            .sort_values(ts_col, kind="mergesort")
            .reset_index(drop=True)
        )
        ts_sec = pdf[ts_col].astype("datetime64[us]").astype("int64").to_numpy() / 1e6
        if has_last and ts_sec[0] < last_ts:
            raise ValueError(
                f"url {url!r}: batch starts at ts {ts_sec[0]} before carried "
                f"last ts {last_ts}; late crawls must go through the batch "
                "recompute (recrawl.recrawl_deltas)"
            )
        sims = pdf[sim_col].to_numpy(np.int64)
        prev = np.empty(len(sims), dtype=np.int64)
        prev[0] = last_sim
        prev[1:] = sims[:-1]
        ham = _popcount_u64(np.bitwise_xor(sims, prev))
        prev_out = prev.astype(object)
        ham_out = ham.astype(object)
        if not has_last:
            prev_out[0] = None
            ham_out[0] = None
        state.update((int(sims[-1]), True, float(ts_sec[-1])))
        yield pd.DataFrame(
            {
                "url": url,
                "warc_ts": pdf[ts_col],
                "simhash": sims,
                "prev_sim": prev_out,
                "hamming": ham_out,
            }
        )

    src = pages.select(
        F.col(url_col).cast("string").alias("url"),
        F.col(ts_col).alias("warc_ts"),
        F.col(sim_col).cast("long").alias("simhash"),
    )
    return src.groupBy("url").applyInPandasWithState(
        fn, OUT_SCHEMA, STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
    )
