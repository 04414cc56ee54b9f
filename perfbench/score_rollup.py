"""score_rollup: page text -> windowed kernels -> all four retention tiers.

The ``bench.py`` headline shape: 20,000 synthesized pages (about 19.06M
text samples), five features, winlen 1024, noverlap 512.  Each operation
is one ``score_pages_to_tiers`` pass with every tier consumed.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

import bench
from afspark.operators.rollup import TIERS, rollup_points, score_pages_to_tiers

from . import layers, reads
from .harness import OpResult
from .points import FEATURE_NAMES
from .trace import span_fn

N_PAGES = 20_000
# fixed, the same on every commit (see harness.warm_up); passes keep
# getting faster for longer than a run can afford, so this only takes
# the steep first part of the curve
WARMUP_OPS = 6
ORIGIN_EPOCH = 1_700_000_000  # score_pages_to_tiers' default
# bench.py's counts for its own inputs (20,000 pages, generator seed 42)
BENCH_SEED = 42
BENCH_SCORE_ROWS = 185_690
BENCH_ROLLED_ROWS = 2_525
REL_TOL = 1e-9  # float tier sums: Spark may add partial sums in any order
# 1m tier sum of each feature at seed 42, recorded from a run of this
# tree (ZCR is 0: page text bytes all lie below the 127.5 midpoint)
GOLDEN_SUMS = {
    "Energy": 8716.34202518262,
    "SPL": -233824.8172144078,
    "ZCR": 0.0,
    "Permutation Entropy": 20067.224887377448,
    "Spectral Centroid": 7146634.043189815,
}
# layers.fixed_window_sums() as this tree computes it: checked on every seed
KERNEL_GOLDEN = {
    "Energy": 20.693674788542868,
    "SPL": -313.81927459140803,
    "ZCR": 35.69696969696969,
    "Permutation Entropy": 27.475322076120158,
    "Spectral Centroid": 16905.652213108486,
}


def expected_counts(samples_per_series: list[int]) -> tuple[int, int]:
    """(score rows, rolled rows) from each series' sample count alone.

    Windows start at 1-based sample 1, 1+step, ... and must fit whole;
    window j's timestamp second is origin + (1 + step*j) // fs (never an
    exact second, so no rounding edge), and each feature rolls up as its
    own series."""
    step = bench.WINLEN - bench.NOVERLAP
    n_feat = sum(len(f.names()) for f in bench.FEATURES)
    scores = rolled = 0
    for n in samples_per_series:
        if n < bench.WINLEN:
            continue
        nwin = (n - bench.WINLEN) // step + 1
        sec = ORIGIN_EPOCH + (1 + step * np.arange(nwin, dtype=np.int64)) // int(layers.FS)
        scores += nwin * n_feat
        rolled += n_feat * sum(len(np.unique(sec // s)) for s in TIERS.values())
    return scores, rolled


class ScoreRollup:
    name = "score_rollup"
    warmup_ops = WARMUP_OPS

    def setup(self, ctx):
        old = ctx.state.get("fx")
        if old is not None:
            layers.drop_pages(old)
        fx, gen_s, offs_s = layers.make_pages(ctx.spark, N_PAGES, ctx.seed)
        ctx.state["fx"] = fx
        ctx.state.setdefault("generate_s", []).append(gen_s)
        ctx.state.setdefault("offsets_s", []).append(offs_s)

    def prepare(self, ctx):
        per_series = [
            r.n
            for r in ctx.state["fx"].offs.groupBy("series_id")
            .agg(F.sum(F.octet_length("text")).alias("n"))
            .collect()
        ]
        ctx.state["expected"] = expected_counts(per_series)

    def op(self, ctx, i, tr):
        fx = ctx.state["fx"]
        span = span_fn(tr)
        # under AQE, localCheckpoint(eager=False) on each tier already runs
        # that tier's shuffle map stages: most of the pass lands here
        with span("score_pages_to_tiers"):
            tiers = score_pages_to_tiers(
                fx.offs, bench.FEATURES, bench.WINLEN, bench.NOVERLAP, fs=layers.FS
            )
        sums = {}
        for name, df in tiers.items():  # 1m first: it runs the kernels
            per_feature = layers.feature_sums_expr("sum") if name == "1m" else []
            with span(f"tier.{name}"):
                sums[name] = df.agg(
                    F.count(F.lit(1)), F.sum("cnt"), F.sum("sum"), *per_feature
                ).first()
        for df in tiers.values():
            df.unpersist()
        n_scores = sums["1m"][1]
        rolled = sum(r[0] for r in sums.values())
        checksum = sums["1m"][2]
        feature_sums = sums["1m"].asDict()
        feature_sums = {n: feature_sums[n] for n in FEATURE_NAMES}
        problems = []
        want_scores, want_rolled = ctx.state["expected"]
        if (n_scores, rolled) != (want_scores, want_rolled):
            problems.append(f"rows {n_scores}/{rolled}, expected {want_scores}/{want_rolled}")
        if ctx.seed == BENCH_SEED:
            if (n_scores, rolled) != (BENCH_SCORE_ROWS, BENCH_ROLLED_ROWS):
                problems.append(f"rows {n_scores}/{rolled} differ from bench.py's")
            problems += layers.compare_sums(feature_sums, GOLDEN_SUMS, "golden 1m sum", REL_TOL)
        for name, r in sums.items():
            if r[1] != n_scores or not math.isclose(r[2], checksum, rel_tol=REL_TOL):
                problems.append(f"tier {name} cnt/sum {r[1]}/{r[2]} != 1m {n_scores}/{checksum}")
        first = ctx.state.setdefault("feature_sums", feature_sums)
        problems += layers.compare_sums(feature_sums, first, "1m sum vs first op", REL_TOL)
        return OpResult(not problems, fx.n_samples + n_scores, "; ".join(problems))

    def check(self, ctx):
        """Every operation checks its own output; this checks the kernels
        on a golden input that does not depend on the seed."""
        got = layers.fixed_window_sums()
        return 1, layers.compare_sums(got, KERNEL_GOLDEN, "kernel golden", REL_TOL)

    def layers(self, ctx, tr):
        fx = ctx.state["fx"]
        tr.counters["pages.generate_s"] = list(ctx.state["generate_s"])
        tr.counters["pages.offsets_s"] = list(ctx.state["offsets_s"])
        pts, kernel_sums = layers.fixture_layers(ctx, tr, fx)
        # the numpy kernels over every window must add up to what the
        # operations' 1m tier holds
        op_sums = ctx.state.get("feature_sums", {})  # unset if every op failed
        failures = layers.compare_sums(
            kernel_sums, op_sums, "kernel vs 1m sum", layers.KERNEL_REL_TOL
        )
        committed = rollup_points(pts, TIERS["1m"]).localCheckpoint(eager=True)
        batch = pts.filter(F.pmod(F.xxhash64("series_id", "ts"), F.lit(10)) == 0)
        layers.refresh_merge(tr, committed, batch)
        stores = layers.stream_layer(ctx, tr, pts)
        series = sorted(r.series_id for r in pts.select("series_id").distinct().collect())
        pts.unpersist()
        n, read_failures = reads.read_layer(
            ctx, tr, stores, series, ORIGIN_EPOCH, ORIGIN_EPOCH + 3_600
        )
        return n + 1, failures + read_failures
