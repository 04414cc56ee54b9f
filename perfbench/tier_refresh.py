"""tier_refresh: merge micro-batches into a committed 1m tier store.

Set-up builds a date-partitioned 1m tier store from seeded base points.
Each operation merges one micro-batch into it through
``stream_tier.apply_batch_once``; a fixed share of every batch is late
and lands on an older date.  This is the write path that bypasses
``score`` and ``kernels`` entirely.
"""

from __future__ import annotations

import os

from afspark.operators.rollup import TIERS, rollup_points
from afspark.streaming.stream_tier import apply_batch_once, read_tier_store

from . import layers, reads
from .harness import OpResult, remove_tree
from .points import BASE_EPOCH, Grid, base_points, batch_points, build_store

GRID = Grid(n_domains=10, days=2, step_s=300, batch_points=2_000, late_frac=0.2)
TIER = "1m"
WARMUP_OPS = 8  # fixed, the same on every commit (see harness.warm_up)


class TierRefresh:
    name = "tier_refresh"
    warmup_ops = WARMUP_OPS

    def setup(self, ctx):
        root = ctx.path("tier_refresh")
        remove_tree(root)
        store = os.path.join(root, TIER)
        build_store(ctx.spark, store, base_points(ctx.spark, GRID, ctx.seed), TIERS[TIER])
        ctx.state.update(root=root, store=store, last_batch=0)

    def prepare(self, ctx):
        pass

    def op(self, ctx, i, tr):
        b = i + 1
        batch = batch_points(ctx.spark, GRID, ctx.seed, b, b + 1)
        store, sec = ctx.state["store"], TIERS[TIER]
        if tr is None:
            applied = apply_batch_once(ctx.spark, store, batch, b, sec)
        else:
            applied = layers.traced_apply(ctx, tr, store, batch, b, sec, GRID.batch_points)
        if not applied:
            return OpResult(False, detail=f"batch {b} skipped")
        ctx.state["last_batch"] = b
        return OpResult(True, GRID.batch_points)

    def merged_points(self, ctx):
        """Every point merged so far: the base plus batches 1..last."""
        pts = base_points(ctx.spark, GRID, ctx.seed)
        last = ctx.state["last_batch"]
        if last:
            pts = pts.unionByName(batch_points(ctx.spark, GRID, ctx.seed, 1, last + 1))
        return pts

    def check(self, ctx):
        """The store must equal a full recompute of every point merged."""
        pts = self.merged_points(ctx).persist()
        try:
            got = read_tier_store(ctx.spark, ctx.state["store"]).drop("bucket_date")
            want = rollup_points(pts, TIERS[TIER])
            extra = got.exceptAll(want).count()
            missing = want.exceptAll(got).count()
        finally:
            pts.unpersist()
        if extra or missing:
            return 1, [f"store vs recompute: {extra} extra, {missing} missing rows"]
        return 1, []

    def layers(self, ctx, tr):
        spark = ctx.spark
        store = ctx.state["store"]
        fx = layers.small_fixture(ctx, tr)
        pts, kernel_sums = layers.fixture_layers(ctx, tr, fx)
        want = pts.agg(*layers.feature_sums_expr("value")).first().asDict()
        failures = layers.compare_sums(
            kernel_sums, want, "kernel vs score sum", layers.KERNEL_REL_TOL
        )
        pts.unpersist()
        layers.drop_pages(fx)
        # the merge probe runs on this workload's own store
        b = ctx.state["last_batch"] + 1
        batch = batch_points(spark, GRID, ctx.seed, b, b + 1).persist()
        batch.count()
        committed = read_tier_store(spark, store).drop("bucket_date")
        layers.refresh_merge(tr, committed, batch)
        batch.unpersist()
        # the read path over this store plus a 1h store of the same points
        stores = {TIER: store, "1h": os.path.join(ctx.state["root"], "1h")}
        build_store(spark, stores["1h"], self.merged_points(ctx), TIERS["1h"])
        t_hi = BASE_EPOCH + GRID.days * 86_400
        n, read_failures = reads.read_layer(
            ctx, tr, stores, GRID.series_names(), BASE_EPOCH, t_hi
        )
        return n + 1, failures + read_failures
