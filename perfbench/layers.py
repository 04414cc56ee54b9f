"""Outside-in layer probes for traced runs.

Each probe calls one afspark layer's public functions and records its
figures in a ``trace.Trace``.  Lazy layers are driven to a ``noop`` sink
so that only their own work runs; eager ones (the tier-store writer) are
timed by wrapping the public function they call.  A workload that does
not feed a layer drives it with a small page fixture, so every traced
run reports every per-layer metric (see perfbench/NOTES.md).  The read
path's probe lives in ``reads``.
"""

from __future__ import annotations

import contextlib
import dataclasses
import math
import os
import time
from collections import defaultdict

import numpy as np
from pyspark.sql import Observation
from pyspark.sql import functions as F

import bench
from afspark.operators.rollup import (
    TIERS,
    refresh_tier_incremental,
    rollup_points,
    rollup_tier,
    scores_to_points,
)
from afspark.operators.score import score_pages
from afspark.operators.windows import make_chunk_spec
from afspark.sources.pages import generate_pages, with_series_offsets
from afspark.streaming import stream_tier

from .points import FEATURE_NAMES, build_store
from .trace import group_stages, job_group, plan_stats

FS = 1000.0
SMALL_PAGES = 2_000
# numpy sums window by window against Spark's sums of tier partial sums
KERNEL_REL_TOL = 1e-9


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


# --- sources.pages ------------------------------------------------------------


@dataclasses.dataclass
class Pages:
    pages: object
    offs: object
    n_samples: int


def make_pages(spark, n_pages: int, seed: int) -> tuple[Pages, float, float]:
    """Generate and persist pages and their series offsets; returns the
    fixture and the two phase times."""
    t0 = time.perf_counter()
    pages = generate_pages(spark, n_pages, seed=seed).persist()
    n_samples = int(pages.agg(F.sum(F.octet_length("text"))).first()[0])
    t1 = time.perf_counter()
    offs = with_series_offsets(pages).persist()
    offs.count()
    t2 = time.perf_counter()
    return Pages(pages, offs, n_samples), t1 - t0, t2 - t1


def drop_pages(fx: Pages) -> None:
    fx.offs.unpersist()
    fx.pages.unpersist()


def small_fixture(ctx, tr) -> Pages:
    fx, gen_s, offs_s = make_pages(ctx.spark, SMALL_PAGES, ctx.seed)
    tr.count("pages.generate_s", gen_s)
    tr.count("pages.offsets_s", offs_s)
    return fx


# --- functions.kernels ----------------------------------------------------------


def kernel_layer(tr, fx: Pages) -> dict[str, float]:
    """Single-process numpy ``compute_batch`` over every window the score
    operator evaluates for this page set, in its chunk-sized blocks.
    Returns each feature's sum of values over all windows, which the
    workloads compare with what the Spark pipeline produced."""
    spec = make_chunk_spec(bench.WINLEN, bench.NOVERLAP)
    block = spec.chunk_span // spec.step
    by_series = defaultdict(list)
    for r in fx.offs.select("series_id", "sample_offset", "text").toLocalIterator():
        by_series[r.series_id].append((r.sample_offset, r.text))
    spent = {type(f).__name__: 0.0 for f in bench.FEATURES}
    sums = dict.fromkeys(FEATURE_NAMES, 0.0)
    for parts in by_series.values():
        parts.sort()
        buf = np.frombuffer("".join(t for _, t in parts).encode(), dtype=np.uint8)
        if len(buf) < bench.WINLEN:
            continue
        vals = (buf.astype(np.float64) - 127.5) / 127.5
        view = np.lib.stride_tricks.sliding_window_view(vals, bench.WINLEN)[:: spec.step]
        for j in range(0, len(view), block):
            w = np.ascontiguousarray(view[j : j + block])
            for f in bench.FEATURES:
                t0 = time.perf_counter()
                vals = f.compute_batch(w, FS)
                spent[type(f).__name__] += time.perf_counter() - t0
                vals = np.asarray(vals, dtype=np.float64).reshape(len(w), -1)
                for k, n in enumerate(f.names()):
                    sums[n] += float(vals[:, k].sum())
    for name, s in spent.items():
        tr.count(f"kernels.{name}_core_s", s)
    tr.count("kernels.total_core_s", sum(spent.values()))
    return sums


def fixed_window_sums(n_windows: int = 64) -> dict[str, float]:
    """Each feature's sum over a fixed, seed-independent window matrix: a
    golden input for the kernels that every run can check, whatever its
    seed.  Its bytes span 0..250, both sides of the 127.5 midpoint, so
    ZCR is exercised too (page text never crosses it)."""
    idx = np.arange(n_windows * bench.WINLEN, dtype=np.uint64)
    raw = (idx * np.uint64(2_654_435_761)) % np.uint64(251)
    w = ((raw.astype(np.float64) - 127.5) / 127.5).reshape(n_windows, bench.WINLEN)
    sums = {}
    for f in bench.FEATURES:
        vals = np.asarray(f.compute_batch(w, FS), dtype=np.float64).reshape(n_windows, -1)
        for k, n in enumerate(f.names()):
            sums[n] = float(vals[:, k].sum())
    return sums


def feature_sums_expr(value_col: str) -> list:
    """One global aggregate per feature: the sum of ``value_col`` over the
    ``<domain>|<feature>`` series of that feature (no extra shuffle)."""
    return [
        F.sum(F.when(F.col("series_id").endswith(f"|{n}"), F.col(value_col))).alias(n)
        for n in FEATURE_NAMES
    ]


def compare_sums(got: dict, want: dict, label: str, rel_tol: float) -> list[str]:
    """Failure messages for features whose sums differ beyond ``rel_tol``."""
    return [
        f"{label} {n}: {got.get(n)} != {w}"
        for n, w in want.items()
        if got.get(n) is None or not math.isclose(got[n], w, rel_tol=rel_tol)
    ]


# --- operators.score and the Arrow handoff ------------------------------------


def score_layer(spark, tr, fx: Pages) -> None:
    obs = Observation("score_rows")
    scored = score_pages(
        fx.offs, bench.FEATURES, bench.WINLEN, bench.NOVERLAP, fs=FS
    ).observe(obs, F.count(F.lit(1)).alias("rows"))
    group = "perfbench-score-noop"
    sc = spark.sparkContext
    with job_group(sc, group):
        tr.count("score.pages_noop_s", timed(lambda: noop(scored)))
    tr.count("score.rows_out", obs.get["rows"])
    _, stages = group_stages(sc, group)
    # the kernel (mapInPandas) stage is the job's last stage
    tr.count("score.kernel_tasks", stages[max(stages)])


def arrow_layer(tr, fx: Pages) -> None:
    """Identity mapInPandas over the page batches the kernels receive:
    the cost of the JVM -> Arrow -> pandas -> Arrow -> JVM round trip."""
    cols = fx.offs.select("series_id", "sample_offset", "text")
    ident = cols.mapInPandas(lambda it: it, cols.schema)
    tr.count("arrow.identity_s", timed(lambda: noop(ident)))


# --- operators.rollup (tiers) -----------------------------------------------------


def score_points(fx: Pages):
    scored = score_pages(fx.offs, bench.FEATURES, bench.WINLEN, bench.NOVERLAP, fs=FS)
    pts = scores_to_points(scored, FS).persist()
    pts.count()
    return pts


def tier_layer(tr, pts) -> None:
    """1m tier from materialized points, then the 1h/1d/30d chain from a
    materialized 1m tier, consumed the way score_pages_to_tiers' caller
    consumes it."""
    tr.count("rollup.tier1m_s", timed(lambda: noop(rollup_points(pts, TIERS["1m"]))))
    m1 = rollup_points(pts, TIERS["1m"]).localCheckpoint(eager=True)

    def chain():
        prev = m1
        for name in ("1h", "1d", "30d"):
            prev = rollup_tier(prev, TIERS[name]).localCheckpoint(eager=False)
            prev.count()

    tr.count("rollup.chain_s", timed(chain))


def refresh_merge(tr, committed, batch) -> None:
    merged = refresh_tier_incremental(committed, batch, TIERS["1m"])
    tr.count("rollup.refresh_merge_s", timed(lambda: noop(merged)))


def fixture_layers(ctx, tr, fx: Pages):
    """Planning, kernel, score, Arrow handoff and tier probes on one page
    set; returns the persisted score points and the kernel probe's
    per-feature sums."""
    # before score_points caches the score points, which would then stand
    # in for the kernel stage in this plan
    plan_layer(
        tr,
        lambda: rollup_points(
            scores_to_points(
                score_pages(fx.offs, bench.FEATURES, bench.WINLEN, bench.NOVERLAP, fs=FS),
                FS,
            ),
            TIERS["1m"],
        ),
    )
    sums = kernel_layer(tr, fx)
    score_layer(ctx.spark, tr, fx)
    arrow_layer(tr, fx)
    pts = score_points(fx)
    tier_layer(tr, pts)
    return pts, sums


# --- streaming.stream_tier ----------------------------------------------------------


@contextlib.contextmanager
def watch_refresh(tr):
    """Time refresh_tier_store inside apply_batch_once, which looks it up
    as a module global; the rest of an apply is journal work."""
    orig = stream_tier.refresh_tier_store

    def timed_refresh(spark, path, new_points, tier_seconds, keys=["series_id"]):
        with tr.span("stream_tier.refresh"):
            n = orig(spark, path, new_points, tier_seconds, keys)
        tr.count("stream_tier.dates_touched", n)
        return n

    stream_tier.refresh_tier_store = timed_refresh
    try:
        yield
    finally:
        stream_tier.refresh_tier_store = orig


def traced_apply(ctx, tr, path, batch, batch_id, tier_seconds, n_points) -> bool:
    t_wall = time.time()
    with watch_refresh(tr), tr.span("stream_tier.apply"):
        applied = stream_tier.apply_batch_once(ctx.spark, path, batch, batch_id, tier_seconds)
    files, size = 0, 0
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            if n.endswith(".parquet") and os.path.getmtime(p) >= t_wall - 1e-3:
                files += 1
                size += os.path.getsize(p)
    tr.count("stream_tier.files_written", files)
    tr.count("stream_tier.bytes_per_point", size / max(1, n_points))
    return applied


def stream_layer(ctx, tr, pts, n_batches: int = 3) -> dict[str, str]:
    """Build a 1m+1h probe store from ``pts`` through the streaming
    writer, then merge ``n_batches`` traced batches into its 1m store."""
    root = ctx.path("probe_store")
    stores = {t: os.path.join(root, t) for t in ("1m", "1h")}
    for t, p in stores.items():
        build_store(ctx.spark, p, pts, TIERS[t])
    for k in range(1, n_batches + 1):
        batch = pts.filter(F.pmod(F.xxhash64("series_id", "ts", F.lit(k)), F.lit(20)) == 0)
        batch = batch.persist()
        n = batch.count()
        traced_apply(ctx, tr, stores["1m"], batch, k, TIERS["1m"], n)
        batch.unpersist()
    return stores


def plan_layer(tr, build, reps: int = 3) -> None:
    for _ in range(reps):
        plan_stats(build, tr)
