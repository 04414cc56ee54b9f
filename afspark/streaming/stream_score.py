"""Stateful streaming Score: windowed feature kernels over a live
sample stream, bit-exact vs the batch engine.

The batch Score assembles windows from a complete corpus; a stream
delivers each series incrementally, and a window may straddle any
micro-batch boundary.  This is arbitrary stateful processing
(applyInPandasWithState, same surface as stream_dedup): state per series
carries the tail samples that have not yet completed a window plus the
next window start, so every window is evaluated exactly once, on exactly
the samples the batch engine would use — the same numpy kernels
(``kernels.score_grid``, as the batch operator calls them) on the same
float64 arrays, hence bit-exact (tested window-for-window against
``score_local``).

Hop arithmetic is the reference's: 1-based starts, step = winlen -
noverlap, full windows only (src/AcousticFeatures.jl:874,881,888 —
cited, not copied).

Scale shape: state per series is bounded by winlen - 1 leftover samples
(+ the in-flight batch) — ~8 KB at winlen=1024 — partitioned by series
exactly like the batch kernel shuffle; a hot series is a throughput
concern only (its state does not grow).  At 100 TB state belongs in the RocksDB provider
(``spark.sql.streaming.stateStore.providerClass``).  Samples must arrive
in order per series (seq-contiguous); violations raise rather than emit
silently wrong windows — arbitrarily late samples go through the batch
recompute: ``score.score_pages`` over the affected pages, merged into the
tier store with ``stream_tier.apply_batch_once``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.kernels import score_grid

OUT_SCHEMA = "series_id string, win_start long, feature string, value double"
STATE_SCHEMA = "next_start long, buf_start long, buf array<double>"


def streaming_score(
    samples: DataFrame,
    features,
    winlen: int,
    noverlap: int = 0,
    fs: float = 1.0,
) -> DataFrame:
    """Streaming (series_id, seq, value) -> (series_id, win_start,
    feature, value), append mode, one row per completed window x feature
    name."""
    if winlen <= 0 or noverlap < 0 or noverlap >= winlen:
        # same domain the batch window_starts enforces — the stream must
        # never accept arguments the batch engine would refuse
        raise ValueError("require winlen > 0 and 0 <= noverlap < winlen")
    step = winlen - noverlap

    def score_fn(key, pdfs, state: GroupState):
        series_id = key[0]
        if state.exists:
            next_start, buf_start, buf = state.get
            buf = np.asarray(buf, dtype=np.float64)
        else:
            next_start, buf_start, buf = 1, 1, np.empty(0, dtype=np.float64)

        chunks = [pdf[["seq", "value"]] for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values("seq")
            seqs = pdf["seq"].to_numpy(np.int64)
            expected = buf_start + len(buf)
            if seqs[0] != expected or (len(seqs) > 1 and (np.diff(seqs) != 1).any()):
                raise ValueError(
                    f"series {series_id!r}: non-contiguous sample stream "
                    f"(expected seq {expected}, got {seqs[0]}); late/out-of-"
                    "order data must go through the batch recompute "
                    "(score_pages + apply_batch_once)"
                )
            buf = np.concatenate([buf, pdf["value"].to_numpy(np.float64)])

        end_seq = buf_start + len(buf) - 1
        starts = np.arange(
            next_start, end_seq - winlen + 2, step, dtype=np.int64
        )
        out = []
        if len(starts):
            mats = score_grid(
                features, buf, int(next_start - buf_start), step, len(starts),
                winlen, fs,
            )
            frames = []
            for f, vals in zip(features, mats):
                vals = np.asarray(vals, dtype=np.float64)
                if vals.ndim == 1:
                    vals = vals[:, None]
                for j, nm in enumerate(f.names()):
                    frames.append(
                        pd.DataFrame(
                            {
                                "series_id": series_id,
                                "win_start": starts,
                                "feature": nm,
                                "value": vals[:, j],
                            }
                        )
                    )
            out.append(pd.concat(frames, ignore_index=True))
            next_start = int(starts[-1] + step)

        drop = next_start - buf_start
        if drop > 0:
            buf = buf[drop:]
            buf_start = next_start
        state.update((int(next_start), int(buf_start), [float(v) for v in buf]))
        return iter(out)

    keyed = samples.select(
        F.col("series_id").cast("string").alias("series_id"),
        F.col("seq").cast("long").alias("seq"),
        F.col("value").cast("double").alias("value"),
    )
    return keyed.groupBy("series_id").applyInPandasWithState(
        score_fn,
        OUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
