"""Window-hop arithmetic and window-assembly strategies (SURVEY.md §2.3).

The reference's sliding partition (/root/reference/src/AcousticFeatures.jl:
874,881,888): ``step = winlen - noverlap``; only full windows are kept
(flush=false); 1-based window-start labels ``1, 1+step, ...``.

Three Spark realizations:

1. ``tumbling_agg``      — noverlap == 0 and an algebraic feature: pure
   Catalyst hash aggregation, no data replication, whole-stage codegen.
2. ``sliding_agg``       — algebraic feature with overlap: every sample is
   replicated into each of the ~winlen/step windows containing it via
   ``explode(sequence(...))`` then hash-aggregated.  Exact but with a
   winlen/step blow-up — used for oracle-scale checks and small overlaps.
3. halo chunks (``assign_chunks``) — the scale path for kernel features:
   samples are grouped into contiguous chunks of ``C*step`` samples and only
   the ``noverlap`` samples after each chunk boundary are replicated
   (into the preceding chunk), so the blow-up is noverlap/(C*step) instead
   of winlen/step.  operators/score.py evaluates kernels per chunk.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def hop_step(winlen: int, noverlap: int) -> int:
    if noverlap < 0:
        raise ValueError("noverlap must be >= 0")
    step = winlen - noverlap
    if step <= 0:
        raise ValueError("winlen must exceed noverlap")
    return step


def num_windows(xlen: int, winlen: int, noverlap: int) -> int:
    """Full-window count: 1 + floor((xlen - winlen)/step); 0 if too short."""
    step = hop_step(winlen, noverlap)
    if xlen < winlen:
        return 0
    return (xlen - winlen) // step + 1


# ---------------------------------------------------------------------------
# algebraic per-window expressions (Catalyst twins of the simple kernels)
# ---------------------------------------------------------------------------

def energy_agg(v: Column) -> Column:
    """mean(x^2) — reference :196."""
    return F.avg(v * v)


def spl_agg(v: Column, ref: float = 1.0) -> Column:
    """20*log10(rms/ref) — reference :362-365."""
    return 20.0 * F.log10(F.sqrt(F.avg(v * v)) / F.lit(ref))


def myriad_agg(v: Column, sq_kscale: float) -> Column:
    """sum(log(K + x^2)) — reference :229-233 (constant-K form)."""
    return F.sum(F.log(F.lit(sq_kscale) + v * v))


AGG_BUILDERS = {
    "energy": lambda v: energy_agg(v),
    "spl": lambda v: spl_agg(v),
}


def _win_start_tumbling(seq: Column, winlen: int) -> Column:
    return (F.floor((seq - 1) / winlen) * winlen + 1).cast("long")


def tumbling_agg(
    samples: DataFrame,
    winlen: int,
    aggs: dict[str, Column],
    series_col: str = "series_id",
    seq_col: str = "seq",
) -> DataFrame:
    """Non-overlapping windowed aggregation, pure Catalyst.

    ``aggs`` maps output column name -> aggregate Column over the window
    group.  Full windows only (count == winlen), matching flush=false.
    """
    win_start = _win_start_tumbling(F.col(seq_col), winlen)
    grouped = (
        samples.withColumn("win_start", win_start)
        .groupBy(series_col, "win_start")
        .agg(F.count(F.lit(1)).alias("_n"), *[c.alias(k) for k, c in aggs.items()])
    )
    return grouped.filter(F.col("_n") == winlen).drop("_n")


def sliding_agg(
    samples: DataFrame,
    winlen: int,
    noverlap: int,
    aggs: dict[str, Column],
    series_col: str = "series_id",
    seq_col: str = "seq",
) -> DataFrame:
    """Overlapping windowed aggregation via sample replication.

    A sample with 1-based index ``seq`` belongs to window j (0-based,
    start s_j = 1 + j*step) iff ceil((seq-winlen)/step) <= j <= (seq-1)/step.
    Replicates each row into those windows with explode(sequence(...)),
    then hash-aggregates.  Full windows enforced by count == winlen.
    """
    step = hop_step(winlen, noverlap)
    if noverlap == 0:
        return tumbling_agg(samples, winlen, aggs, series_col, seq_col)
    seq = F.col(seq_col)
    j_hi = F.floor((seq - 1) / step)
    j_lo = F.greatest(F.lit(0), -F.floor((winlen - seq) / step))  # ceil((seq-winlen)/step)
    exploded = samples.withColumn("_j", F.explode(F.sequence(j_lo, j_hi)))
    grouped = (
        exploded.withColumn("win_start", (F.col("_j") * step + 1).cast("long"))
        .groupBy(series_col, "win_start")
        .agg(F.count(F.lit(1)).alias("_n"), *[c.alias(k) for k, c in aggs.items()])
    )
    return grouped.filter(F.col("_n") == winlen).drop("_n")


def zcr_windowed(
    samples: DataFrame,
    winlen: int,
    noverlap: int,
    series_col: str = "series_id",
    seq_col: str = "seq",
    value_col: str = "value",
) -> DataFrame:
    """Zero-crossing rate per window, pure Catalyst — reference :529-531.

    Uses lag() once per series (one shuffle-free window pass after the
    per-series sort), then counts sign changes inside each window; the
    transition between seq-1 and seq belongs to every window containing
    BOTH samples, handled by the same explode-replication as sliding_agg
    but on transitions (seq >= 2 within [s+1, s+winlen-1]).
    """
    step = hop_step(winlen, noverlap)
    w = W.partitionBy(series_col).orderBy(seq_col)
    seq = F.col(seq_col)
    pos = F.col(value_col) > 0
    flagged = samples.withColumn(
        "_chg", (pos != F.lag(pos).over(w)).cast("int")
    ).filter(seq >= 2)
    # transition at seq covers windows with s+1 <= seq <= s+winlen-1:
    # j in [ceil((seq-winlen)/step), floor((seq-2)/step)]
    j_hi = F.floor((seq - 2) / step)
    j_lo = F.greatest(F.lit(0), -F.floor((winlen - seq) / step))
    # guard: Spark's sequence(lo, hi) DESCENDS when lo > hi — a boundary
    # transition belonging to no window must yield an empty array instead
    js = F.when(j_lo <= j_hi, F.sequence(j_lo, j_hi)).otherwise(
        F.array().cast("array<bigint>")
    )
    exploded = flagged.withColumn("_j", F.explode(js))
    return (
        exploded.withColumn("win_start", (F.col("_j") * step + 1).cast("long"))
        .groupBy(series_col, "win_start")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            (F.sum("_chg") / (winlen - 1)).alias("zcr"),
        )
        .filter(F.col("_n") == winlen - 1)
        .drop("_n")
    )


# ---------------------------------------------------------------------------
# halo-chunk assembly (the scale path)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class ChunkSpec:
    winlen: int
    noverlap: int
    step: int
    chunk_span: int  # samples per chunk, multiple of step

    @property
    def halo(self) -> int:
        return self.noverlap

    @property
    def windows_per_chunk(self) -> int:
        return self.chunk_span // self.step


def make_chunk_spec(
    winlen: int, noverlap: int, target_chunk_samples: int = 65_536
) -> ChunkSpec:
    """Chunk span ~= target, aligned to step, large enough for the halo."""
    step = hop_step(winlen, noverlap)
    c = max(1, target_chunk_samples // step)
    # keep each sample in at most 2 chunks: chunk_span >= halo
    c = max(c, -(-noverlap // step))
    return ChunkSpec(winlen, noverlap, step, c * step)


def assign_chunks(
    samples: DataFrame,
    spec: ChunkSpec,
    series_col: str = "series_id",
    seq_col: str = "seq",
) -> DataFrame:
    """Add a ``chunk`` column, replicating only halo samples.

    A sample belongs to its own chunk floor((seq-1)/chunk_span) and — when
    within the first ``halo`` samples of that chunk — also to the previous
    chunk, whose tail windows extend past the boundary by up to
    winlen - step == noverlap samples.
    """
    seq = F.col(seq_col)
    chunk = F.floor((seq - 1) / spec.chunk_span).cast("long")
    if spec.halo == 0:
        return samples.withColumn("chunk", chunk)
    in_halo = ((seq - 1) % spec.chunk_span < spec.halo) & (chunk > 0)
    chunks = F.when(in_halo, F.array(chunk, chunk - 1)).otherwise(F.array(chunk))
    return samples.withColumn("chunk", F.explode(chunks))
