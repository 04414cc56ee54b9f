"""Distributed Score: windowed feature kernels over a samples DataFrame.

Spark twin of the reference's ``Score(f, x; winlen, noverlap)``
(/root/reference/src/AcousticFeatures.jl:864-890).  The 3-D AxisArray
(sample x feature x channel) becomes a long result table
``(series_id, win_start, feature, value)`` — axes are materialized data.

Dataflow (one shuffle + one Arrow hop):

  samples(series_id, seq, value)
    -> assign_chunks          (narrow; halo rows replicated via explode)
    -> grouped_batch_in_pandas on (series_id, chunk)
                              (operators/_grouped.py: the one explicit-count
                               shuffle — key cardinality = series*chunks, so
                               hot series still spread across chunks — then
                               one mapInPandas pass whose Arrow batches hold
                               whole chunks: numpy kernels -> Arrow)

Inside each chunk the windows start on one contiguous run of the hop
grid, and ``kernels.score_grid`` evaluates every feature over it: the
pattern kernels (PermutationEntropy, StatisticalComplexity) code the
chunk's samples once and share pane counts across overlapping windows;
every other kernel gets one (nwin, winlen) copy of the windows, gathered
once per chunk by fancy-indexing a stride view.  Every float reduction
happens in the same numpy code as the local golden path
(functions/kernels.py), which is what makes distributed == local
bit-for-bit (tests/test_score_spark.py).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.kernels import Feature, score_grid
from ._grouped import grouped_batch_in_pandas
from .windows import ChunkSpec, assign_chunks, make_chunk_spec

RESULT_SCHEMA = "series_id string, win_start long, feature string, value double"


def _assemble_results(results) -> pd.DataFrame | None:
    """Column-array chunk results -> ONE long-format DataFrame.

    The evaluators return raw numpy column arrays per chunk; building a
    pandas DataFrame per (chunk, feature) — the previous shape — cost as
    much as the kernels themselves at bench scale (~10 ms/task of
    DataFrame __init__ against ~12 ms of kernel math).  One concatenate
    per column per Arrow batch keeps the identical rows in the identical
    order.
    """
    results = [r for r in results if r is not None]
    if not results:
        return None
    return pd.DataFrame(
        {
            "series_id": np.concatenate([r[0] for r in results]),
            "win_start": np.concatenate([r[1] for r in results]),
            "feature": np.concatenate([r[2] for r in results]),
            "value": np.concatenate([r[3] for r in results]),
        }
    )


def _make_dense_evaluator(
    features: Sequence[Feature],
    spec: ChunkSpec,
    fs: float,
    preprocess: Callable[[np.ndarray], np.ndarray] | None,
):
    """Dense-window kernel core shared by the samples and pages paths.

    evaluate_dense(series_id, chunk, seq0, vals): ``vals`` holds the
    contiguous samples [seq0, seq0+len-1] available to this chunk; emits
    the long-format COLUMN ARRAYS (series_id, win_start, feature, value)
    for every full window whose start this chunk owns (1-based hop grid,
    flush=false), or None when the chunk yields no full window.  Callers
    assemble DataFrames batch-wise via :func:`_assemble_results`.
    """
    winlen, step, span = spec.winlen, spec.step, spec.chunk_span
    feat_names = [f.names() for f in features]

    def evaluate_dense(series_id, chunk, seq0, vals):
        seq_last = seq0 + len(vals) - 1
        chunk_start = int(chunk) * span + 1
        n_starts = span // step
        starts = chunk_start + step * np.arange(n_starts, dtype=np.int64)
        starts = starts[(starts >= seq0) & (starts + winlen - 1 <= seq_last)]
        if len(starts) == 0 or len(vals) < winlen:
            return None
        if preprocess is None:
            # starts are one contiguous run on the step grid
            mats = score_grid(
                features, vals, int(starts[0] - seq0), step, len(starts), winlen, fs
            )
        else:
            W = np.lib.stride_tricks.sliding_window_view(vals, winlen)[starts - seq0]
            W = np.stack([np.asarray(preprocess(w), dtype=np.float64) for w in W])
            mats = [feat.compute_batch(W, fs) for feat in features]
        ws, fts, vs = [], [], []
        for names, m in zip(feat_names, mats):
            m = np.asarray(m, dtype=np.float64)
            nwin, arity = m.shape
            ws.append(np.repeat(starts, arity))
            fts.append(np.tile(np.asarray(names, dtype=object), nwin))
            vs.append(m.ravel())
        w = np.concatenate(ws) if len(ws) > 1 else ws[0]
        return (
            np.repeat(series_id, len(w)),
            w,
            np.concatenate(fts) if len(fts) > 1 else fts[0],
            np.concatenate(vs) if len(vs) > 1 else vs[0],
        )

    return evaluate_dense


def _make_evaluator(
    features: Sequence[Feature],
    spec: ChunkSpec,
    fs: float,
    preprocess: Callable[[np.ndarray], np.ndarray] | None,
):
    """Per-(series, chunk) evaluator over samples rows (numpy only)."""
    dense = _make_dense_evaluator(features, spec, fs, preprocess)

    def evaluate(key, pdf):
        series_id, chunk = key
        seqs = pdf["seq"].to_numpy()
        if not np.all(seqs[1:] > seqs[:-1]):
            order = np.argsort(seqs, kind="stable")
            seqs = seqs[order]
            vals = pdf["value"].to_numpy(dtype=np.float64)[order]
        else:
            vals = pdf["value"].to_numpy(dtype=np.float64)
        seq0 = int(seqs[0])
        seq_last = int(seqs[-1])
        if seq_last - seq0 + 1 != len(seqs):
            raise ValueError(
                f"samples not dense for series={series_id} chunk={chunk}: "
                f"[{seq0},{seq_last}] has {len(seqs)} rows"
            )
        return dense(series_id, chunk, seq0, vals)

    return evaluate


def score(
    samples: DataFrame,
    features: Sequence[Feature] | Feature,
    winlen: int,
    noverlap: int = 0,
    fs: float = 1.0,
    preprocess: Callable[[np.ndarray], np.ndarray] | None = None,
    target_chunk_samples: int = 65_536,
    series_col: str = "series_id",
    seq_col: str = "seq",
    value_col: str = "value",
) -> DataFrame:
    """Windowed feature scores, long format.

    Args mirror the reference Score; ``features`` may be a list — all are
    evaluated in a single shuffle + single Python pass per chunk.
    Validation mirrors reference :870 (noverlap >= 0, step > 0); the
    reference's ``winlen <= xlen`` check (:876) happens naturally per
    series (short series simply emit no windows).
    """
    if isinstance(features, Feature):
        features = [features]
    spec = make_chunk_spec(winlen, noverlap, target_chunk_samples)
    sdf = samples.select(
        F.col(series_col).cast("string").alias("series_id"),
        F.col(seq_col).cast("long").alias("seq"),
        F.col(value_col).cast("double").alias("value"),
    )
    chunked = assign_chunks(sdf, spec)
    evaluate = _make_evaluator(list(features), spec, fs, preprocess)

    def eval_batch(batch: pd.DataFrame) -> pd.DataFrame | None:
        return _assemble_results(
            evaluate(key, g)
            for key, g in batch.groupby(["series_id", "chunk"], sort=False)
        )

    # The helper's default count (defaultParallelism) is explicit: AQE
    # coalesces by shuffle bytes, but this stage is CPU-bound per byte, so
    # byte-coalescing would serialize the kernels.  One wave beats more:
    # each task pays a fixed Python-worker/Arrow handshake.
    return grouped_batch_in_pandas(
        chunked, ["series_id", "chunk"], ["seq"], eval_batch, RESULT_SCHEMA
    )


def score_pages(
    pages_with_offsets: DataFrame,
    features: Sequence[Feature] | Feature,
    winlen: int,
    noverlap: int = 0,
    fs: float = 1.0,
    target_chunk_samples: int = 65_536,
) -> DataFrame:
    """Windowed kernels DIRECTLY over page text — the 100TB dataflow.

    Input: ``with_series_offsets(pages)`` output — (series_id,
    sample_offset, text, ...).  Instead of exploding every text byte into
    a samples row (a ~40x row-size amplification that makes the shuffle
    row-bound), each PAGE is routed to the 1-2 chunks its byte range
    overlaps; the chunk evaluator slices and decodes the bytes in numpy.
    Shuffle volume ~= the text bytes themselves (plus halo), and the
    output is bit-identical to ``score(derive_samples(pages), ...)``
    (tests/test_score_spark.py::test_score_pages_equals_samples_path).
    """
    if isinstance(features, Feature):
        features = [features]
    spec = make_chunk_spec(winlen, noverlap, target_chunk_samples)
    span, halo = spec.chunk_span, spec.halo
    src = pages_with_offsets.select(
        F.col("series_id").cast("string").alias("series_id"),
        F.col("sample_offset").cast("long").alias("off"),
        F.col("text").alias("text"),
    ).filter(F.octet_length("text") >= 1)
    off, ln = F.col("off"), F.octet_length("text")
    c_hi = F.floor((off + ln - 1) / span)
    c_lo = F.greatest(F.lit(0), (-F.floor((F.lit(halo) - off - 1) / span) - 1))
    chunks = F.when(c_lo <= c_hi, F.sequence(c_lo, c_hi)).otherwise(
        F.array().cast("array<bigint>")
    )
    routed = src.withColumn("chunk", F.explode(chunks))
    dense = _make_dense_evaluator(list(features), spec, fs, None)

    def eval_group(series_id, chunk, g: pd.DataFrame) -> pd.DataFrame:
        chunk = int(chunk)
        lo_pos = chunk * span + 1  # first sample position this chunk owns
        hi_pos = (chunk + 1) * span + halo  # last position it may read
        parts = []
        seq0 = None
        for off_i, txt in zip(g["off"].to_numpy(), g["text"]):
            b = txt.encode("utf-8")
            a = max(0, lo_pos - 1 - int(off_i))
            z = min(len(b), hi_pos - int(off_i))
            if z <= a:
                continue
            if seq0 is None:
                seq0 = int(off_i) + a + 1
            parts.append(b[a:z])
        if not parts:
            return None
        buf = np.frombuffer(b"".join(parts), dtype=np.uint8)
        vals = (buf.astype(np.float64) - 127.5) / 127.5
        return dense(series_id, chunk, seq0, vals)

    def eval_batch(batch: pd.DataFrame) -> pd.DataFrame | None:
        return _assemble_results(
            eval_group(sid, ch, g)
            for (sid, ch), g in batch.groupby(["series_id", "chunk"], sort=False)
        )

    # the helper's explicit default count, for the AQE reason in score()
    return grouped_batch_in_pandas(
        routed, ["series_id", "chunk"], ["off"], eval_batch, RESULT_SCHEMA
    )


def score_wide(score_long: DataFrame) -> DataFrame:
    """Pivot the long score table to one column per feature label."""
    return (
        score_long.groupBy("series_id", "win_start")
        .pivot("feature")
        .agg(F.first("value"))
    )
