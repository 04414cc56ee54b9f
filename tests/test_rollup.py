"""Rollup tier consistency + gap-fill goldens."""

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from afspark.operators.gapfill import gapfill
from afspark.operators.rollup import TIERS, rollup_all_tiers, rollup_points

UTC = dt.timezone.utc


@pytest.fixture(scope="module")
def points(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    return df.select(
        F.col("user_id").cast("string").alias("series_id"), "ts", "value"
    )


def test_tier_consistency_1h(spark, points):
    """1h tier re-aggregated from 1m == 1h tier straight from raw points."""
    tiers = rollup_all_tiers(points)
    direct = rollup_points(points, TIERS["1h"])
    a = {
        (r.series_id, r.bucket_ts): (r.cnt, r.sum, r.min, r.max, r.first, r.last)
        for r in tiers["1h"].collect()
    }
    b = {
        (r.series_id, r.bucket_ts): (r.cnt, r.sum, r.min, r.max, r.first, r.last)
        for r in direct.collect()
    }
    assert set(a) == set(b)
    for k in a:
        assert a[k][0] == b[k][0]
        assert a[k][1] == pytest.approx(b[k][1], rel=1e-12)
        assert a[k][2:] == pytest.approx(b[k][2:], rel=1e-12)


def test_all_tiers_counts_conserve(points):
    tiers = rollup_all_tiers(points)
    total = points.count()
    for name, df in tiers.items():
        assert df.agg(F.sum("cnt")).first()[0] == total, name


def make_sparse(spark, rows):
    pdf = pd.DataFrame(rows, columns=["series_id", "bucket_ts", "avg"])
    pdf["bucket_ts"] = pd.to_datetime(pdf["bucket_ts"])
    return spark.createDataFrame(pdf)


def test_gapfill_linear_golden(spark):
    t0 = "2024-01-01 00:00:00"
    rows = [
        ("s", "2024-01-01 00:00:00", 10.0),
        ("s", "2024-01-01 00:03:00", 40.0),  # 2 missing minutes between
        ("s", "2024-01-01 00:05:00", 0.0),
    ]
    out = gapfill(make_sparse(spark, rows), 60, method="linear").orderBy("bucket_ts")
    got = [(r.bucket_ts.minute, r.value, r.is_gap) for r in out.collect()]
    assert got == [
        (0, 10.0, False),
        (1, 20.0, True),
        (2, 30.0, True),
        (3, 40.0, False),
        (4, 20.0, True),
        (5, 0.0, False),
    ]


def test_gapfill_locf_golden(spark):
    rows = [
        ("s", "2024-01-01 00:00:00", 5.0),
        ("s", "2024-01-01 00:02:00", 7.0),
    ]
    out = gapfill(make_sparse(spark, rows), 60, method="locf").orderBy("bucket_ts")
    assert [(r.value, r.is_gap) for r in out.collect()] == [
        (5.0, False),
        (5.0, True),
        (7.0, False),
    ]


def test_gapfill_multiseries_independent(spark):
    rows = [
        ("a", "2024-01-01 00:00:00", 1.0),
        ("a", "2024-01-01 00:02:00", 3.0),
        ("b", "2024-01-01 00:10:00", 100.0),
    ]
    out = gapfill(make_sparse(spark, rows), 60, method="linear")
    got = {(r.series_id, r.bucket_ts.minute): r.value for r in out.collect()}
    assert got[("a", 1)] == 2.0
    assert got[("b", 10)] == 100.0
    assert len([k for k in got if k[0] == "b"]) == 1


def test_score_pages_to_tiers_equals_unfused(spark):
    """The fused north-star operator == score_pages then rollup_all_tiers."""
    from pyspark.sql import functions as F

    from afspark.functions import kernels as K
    from afspark.operators.rollup import rollup_all_tiers, score_pages_to_tiers
    from afspark.operators.score import score_pages
    from afspark.sources.pages import generate_pages, with_series_offsets

    offs = with_series_offsets(generate_pages(spark, 300)).persist()
    feats = [K.Energy(), K.ZeroCrossingRate()]
    fused = score_pages_to_tiers(offs, feats, 512, 256, fs=1000.0)
    scored = score_pages(offs, feats, 512, 256, fs=1000.0)
    pts = scored.select(
        F.concat_ws("|", "series_id", "feature").alias("series_id"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + F.col("win_start") / 1000.0
        ).alias("ts"),
        "value",
    )
    want = rollup_all_tiers(pts)
    for name in ["1m", "1h", "1d", "30d"]:
        got = {
            (r.series_id, r.bucket_ts): (r.cnt, r.sum, r.min, r.max)
            for r in fused[name].collect()
        }
        exp = {
            (r.series_id, r.bucket_ts): (r.cnt, r.sum, r.min, r.max)
            for r in want[name].collect()
        }
        assert got == exp
    offs.unpersist()


def _tier_map(df):
    return {
        (r.series_id, r.bucket_ts): (
            r.cnt, r.sum, r.min, r.max, r.avg, r.first, r.last, r.first_ts, r.last_ts
        )
        for r in df.collect()
    }


def test_incremental_refresh_equals_full(spark, points):
    """committed ⊕ partial(new batch) == full recompute, every tier, bit-exact.

    Split is by a deterministic hash of the row so the "new batch" is
    scattered across series and time (the worst case: late + out-of-order),
    not a clean tail.
    """
    from afspark.operators.rollup import refresh_tier_incremental

    tagged = points.withColumn("_h", F.pmod(F.xxhash64("series_id", "ts"), F.lit(7)))
    old = tagged.filter(F.col("_h") != 0).drop("_h")
    new = tagged.filter(F.col("_h") == 0).drop("_h").persist()
    assert new.count() > 0 and old.count() > 0

    committed = rollup_all_tiers(old)
    full = rollup_all_tiers(points)
    for name, sec in TIERS.items():
        refreshed = refresh_tier_incremental(committed[name], new, sec)
        a, b = _tier_map(refreshed), _tier_map(full[name])
        assert set(a) == set(b), name
        for k in a:
            assert a[k][0] == b[k][0], (name, k)          # cnt exact
            assert a[k][1] == pytest.approx(b[k][1], rel=1e-12)
            assert a[k][2] == b[k][2] and a[k][3] == b[k][3]  # min/max exact
            assert a[k][4] == pytest.approx(b[k][4], rel=1e-12)
            assert a[k][7] == b[k][7] and a[k][8] == b[k][8]  # first/last_ts exact
    new.unpersist()


def test_incremental_refresh_first_last_bit_exact(spark):
    """With unique timestamps the carried first/last values merge exactly,
    including a new point that PREDATES the committed first (late data)."""
    import datetime as dtm

    from afspark.operators.rollup import refresh_tier_incremental

    t = lambda s: dtm.datetime(2024, 1, 1, 0, 0, s)
    old = spark.createDataFrame(
        [("s", t(10), 5.0), ("s", t(30), 7.0), ("s", t(50), 1.0)],
        "series_id string, ts timestamp, value double",
    )
    new = spark.createDataFrame(
        [("s", t(2), 9.0), ("s", t(55), 4.0)],
        "series_id string, ts timestamp, value double",
    )
    committed = rollup_points(old, 60)
    out = refresh_tier_incremental(committed, new, 60).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.cnt, r.min, r.max) == (5, 1.0, 9.0)
    assert (r.first, r.last) == (9.0, 4.0)  # late point becomes the first
    assert r.sum == pytest.approx(26.0)


def test_percentile_rollup_exact_and_approx(spark):
    """Exact percentiles golden; approx path returns same schema and
    sketch-close values."""
    import datetime as dtm

    from afspark.operators.rollup import percentile_rollup

    rows = [
        ("s", dtm.datetime(2024, 1, 1, 0, 0, i), float(v))
        for i, v in enumerate([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
    ]
    pts = spark.createDataFrame(rows, "series_id string, ts timestamp, value double")
    r = percentile_rollup(pts, 3600).collect()[0]
    assert r.cnt == 10
    assert r.p50 == pytest.approx(5.5)   # interpolated median of 1..10
    assert r.p90 == pytest.approx(9.1)
    a = percentile_rollup(pts, 3600, exact=False).collect()[0]
    assert set(a.asDict()) == set(r.asDict())
    assert a.p50 == pytest.approx(r.p50, abs=1.0)


def test_histogram_rollup_bins(spark):
    import datetime as dtm

    from afspark.operators.rollup import histogram_rollup

    rows = [("s", dtm.datetime(2024, 1, 1, 0, 0, i), v)
            for i, v in enumerate([1.0, 4.0, 6.0, 11.0, -1.0])]
    pts = spark.createDataFrame(rows, "series_id string, ts timestamp, value double")
    out = {r.bin: r.n for r in histogram_rollup(pts, 3600, 5.0).collect()}
    assert out == {0: 2, 1: 1, 2: 1, -1: 1}  # floor toward -inf for negatives


def test_trimmed_mean_excludes_outliers(spark):
    import datetime as dtm

    import numpy as np

    from afspark.operators.rollup import trimmed_mean_rollup

    vals = [float(v) for v in range(1, 20)] + [1000.0]
    rows = [("s", dtm.datetime(2024, 1, 1, 0, 0, i), v) for i, v in enumerate(vals)]
    pts = spark.createDataFrame(rows, "series_id string, ts timestamp, value double")
    r = trimmed_mean_rollup(pts, 3600).collect()[0]
    lo = np.percentile(vals, 5)   # linear interpolation == Spark percentile
    hi = np.percentile(vals, 95)
    kept = [v for v in vals if lo <= v <= hi]
    assert 1000.0 not in kept
    assert (r.cnt_all, r.cnt_kept) == (20, len(kept))
    assert r.trimmed_mean == pytest.approx(sum(kept) / len(kept))


def test_choose_tier_resolution_routing():
    from afspark.operators.rollup import choose_tier

    h, d = 3600, 86_400
    assert choose_tier(0, 2 * h) == "1m"          # 120 x 1m < 1000: finest fallback
    assert choose_tier(0, 90 * d, 1000) == "1h"   # 90d: 2160 x 1h buckets
    assert choose_tier(0, 3 * 365 * d, 1000) == "1d"
    assert choose_tier(0, 60, 1000) == "1m"       # tiny range -> finest fallback


def test_read_tier_range_prunes_dates(spark, tmpdir, points):
    """Router reads only the covered bucket_date partitions of the chosen
    tier store."""
    import datetime as dtm

    from pyspark.sql import functions as F

    from afspark.operators.rollup import TIERS, read_tier_range, rollup_points

    store = f"{tmpdir}/t1h"
    tier = rollup_points(points, TIERS["1h"]).withColumn(
        "bucket_date", F.to_date("bucket_ts")
    )
    tier.write.partitionBy("bucket_date").parquet(store)

    t0 = int(dtm.datetime(2024, 1, 5, tzinfo=dt.timezone.utc).timestamp())
    t1 = int(dtm.datetime(2024, 3, 1, tzinfo=dt.timezone.utc).timestamp())
    name, df = read_tier_range(spark, {"1h": store}, t0, t1, target_points=100)
    assert name == "1h"
    files = df.select(F.input_file_name()).distinct().count()
    total = spark.read.parquet(store).select(F.input_file_name()).distinct().count()
    assert 0 < files < total
    dates = {str(r.d) for r in df.select(F.to_date("bucket_ts").alias("d")).distinct().collect()}
    assert min(dates) >= "2024-01-05" and max(dates) < "2024-03-01"


def test_gapfill_locf_max_gap_staleness(spark):
    """Planted 5-bucket outage with max_gap=3: first 3 filled, rest null."""
    rows = [
        ("s", "2024-01-01 00:00:00", 10.0),
        ("s", "2024-01-01 00:06:00", 99.0),  # 5 missing minutes between
    ]
    sparse = make_sparse(spark, rows)
    out = {
        r.bucket_ts.minute: (r.value, r.is_gap)
        for r in gapfill(sparse, 60, method="locf", max_gap=3).collect()
    }
    assert out[0] == (10.0, False) and out[6] == (99.0, False)
    for m in (1, 2, 3):
        assert out[m] == (10.0, True), m
    for m in (4, 5):
        assert out[m][0] is None and out[m][1] is True, m
    with pytest.raises(ValueError, match="max_gap"):
        gapfill(sparse, 60, method="linear", max_gap=3).collect()


def test_histogram_quantile_hand_golden(spark):
    """20 values 1..20, bin width 5: p50 lands in bin 2 (10..15) with
    linear interpolation, p95 in the top bin; estimates bracket the exact
    percentiles within one bin width; quantile is monotone in q."""
    import datetime as dtm

    from afspark.operators.rollup import histogram_quantile, histogram_rollup

    t0 = dtm.datetime(2024, 1, 1)
    pts = spark.createDataFrame(
        [("s", t0 + dtm.timedelta(seconds=i), float(i + 1)) for i in range(20)],
        "series_id string, ts timestamp, value double",
    )
    hist = histogram_rollup(pts, 3600, bin_width=5.0)
    ests = {}
    for q in (0.25, 0.5, 0.95, 1.0):
        r = histogram_quantile(hist, q, bin_width=5.0).collect()[0]
        assert r.total == 20
        ests[q] = r.q_est
    # rank 10 of 20 -> bin 2 ([10,15), cum 4+5=9 before): frac 1/5
    assert ests[0.5] == (2 + (10 - 9) / 5) * 5.0  # == 11.0
    # rank 19 -> bin 3 ([15,20), cum 14 before): frac 5/5 -> upper edge
    assert ests[0.95] == 20.0
    # q=1 -> upper edge of the last occupied bin (Prometheus contract)
    assert ests[1.0] == 25.0
    assert ests[0.25] < ests[0.5] < ests[0.95] <= ests[1.0]


def test_histogram_quantile_merged_tier_equals_direct(spark):
    """histogram_quantile over the 1d tier merged FROM 1h == over a 1d
    histogram built directly from raw (mergeability of binned counts)."""
    import datetime as dtm

    import numpy as np

    from afspark.operators.rollup import histogram_quantile, histogram_rollup

    t0 = dtm.datetime(2024, 1, 1)
    rng = np.random.default_rng(9)
    pts = spark.createDataFrame(
        [
            ("s", t0 + dtm.timedelta(seconds=int(i * 97)), float(v))
            for i, v in enumerate(rng.integers(0, 1000, 800))
        ],
        "series_id string, ts timestamp, value double",
    )
    h1 = histogram_rollup(pts, 3600, bin_width=50.0)
    from pyspark.sql import functions as F
    from afspark.operators.rollup import bucket_ts

    merged = (
        h1.withColumn("bucket_ts", bucket_ts(F.col("bucket_ts"), 86400))
        .groupBy("series_id", "bucket_ts", "bin")
        .agg(F.sum("n").alias("n"))
    )
    direct = histogram_rollup(pts, 86400, bin_width=50.0)
    a = {tuple(r[:3]): r.q_est for r in histogram_quantile(merged, 0.9, 50.0).collect()}
    b = {tuple(r[:3]): r.q_est for r in histogram_quantile(direct, 0.9, 50.0).collect()}
    assert a == b and a


def test_psi_drift_detects_planted_shift(spark):
    """Series with an unchanged distribution scores near 0; a series whose
    distribution shifts between the windows scores high; the smoothed
    terms keep one-sided-empty bins finite."""
    import datetime as dtm

    import numpy as np

    from afspark.operators.rollup import histogram_rollup, psi_drift

    t0 = dtm.datetime(2024, 1, 1, tzinfo=dtm.timezone.utc)
    e0 = int(t0.timestamp())
    mid, end = e0 + 5 * 86400, e0 + 10 * 86400
    rng = np.random.default_rng(21)
    rows = []
    for i in range(2000):
        ts = t0 + dtm.timedelta(seconds=int(rng.integers(0, 10 * 86400)))
        # stable: N(100, 10) throughout; drift: mean jumps 100 -> 200
        rows.append(("stable", ts.replace(tzinfo=None), float(rng.normal(100, 10))))
        mean = 100 if int(ts.timestamp()) < mid else 200
        rows.append(("drift", ts.replace(tzinfo=None), float(rng.normal(mean, 10))))
    pts = spark.createDataFrame(rows, "series_id string, ts timestamp, value double")
    hist = histogram_rollup(pts, 3600, bin_width=20.0)
    out = {
        r.series_id: r
        for r in psi_drift(hist, e0, mid, mid, end, exact_nanos=True).collect()
    }
    assert out["stable"].psi < 0.05
    assert out["drift"].psi > 1.0
    for r in out.values():
        assert np.isfinite(r.psi)
        assert abs(r.psi_nanos / 1e9 - r.psi) < 1e-6 * max(1.0, abs(r.psi))


def test_ks_drift_hand_golden_and_numpy_parity(spark):
    """KS off the histogram tier == numpy's max-ECDF-gap over the binned
    samples; a planted shift scores high, an unchanged series near 0;
    ks_num/(n_ref*n_cur) reproduces ks exactly."""
    import datetime as dtm

    import numpy as np

    from afspark.operators.rollup import histogram_rollup, ks_drift

    t0 = dtm.datetime(2024, 1, 1, tzinfo=dtm.timezone.utc)
    e0 = int(t0.timestamp())
    mid, end = e0 + 5 * 86400, e0 + 10 * 86400
    rng = np.random.default_rng(7)
    rows, ref_vals, cur_vals = [], {"stable": [], "drift": []}, {
        "stable": [], "drift": []
    }
    for _ in range(1500):
        off = int(rng.integers(0, 10 * 86400))
        ts = t0 + dtm.timedelta(seconds=off)
        half = ref_vals if e0 + off < mid else cur_vals
        v = float(rng.normal(100, 10))
        rows.append(("stable", ts.replace(tzinfo=None), v))
        half["stable"].append(v)
        mean = 100 if e0 + off < mid else 160
        v = float(rng.normal(mean, 10))
        rows.append(("drift", ts.replace(tzinfo=None), v))
        half["drift"].append(v)
    pts = spark.createDataFrame(rows, "series_id string, ts timestamp, value double")
    hist = histogram_rollup(pts, 3600, bin_width=20.0)
    out = {
        r.series_id: r for r in ks_drift(hist, e0, mid, mid, end).collect()
    }

    def ks_binned(a, b, width=20.0):
        ba, bb = np.floor(np.asarray(a) / width), np.floor(np.asarray(b) / width)
        edges = np.union1d(ba, bb)
        ca = np.searchsorted(np.sort(ba), edges, side="right") / len(ba)
        cb = np.searchsorted(np.sort(bb), edges, side="right") / len(bb)
        return float(np.max(np.abs(ca - cb)))

    for s in ("stable", "drift"):
        want = ks_binned(ref_vals[s], cur_vals[s])
        assert out[s].ks == pytest.approx(want, abs=1e-12)
        assert out[s].ks_num / (out[s].n_ref * out[s].n_cur) == out[s].ks
    assert out["stable"].ks < 0.08
    assert out["drift"].ks > 0.8


def test_ks_drift_one_sided_empty_key_dropped(spark):
    """A series present only in the reference window is dropped (KS
    undefined), not emitted as 0 or NaN."""
    import datetime as dtm

    from afspark.operators.rollup import histogram_rollup, ks_drift

    t0 = dtm.datetime(2024, 1, 1)
    e0 = int(t0.replace(tzinfo=dtm.timezone.utc).timestamp())
    rows = [("only_ref", t0 + dtm.timedelta(hours=i), float(i)) for i in range(5)]
    rows += [
        ("both", t0 + dtm.timedelta(days=d, hours=i), float(i))
        for d in (0, 6)
        for i in range(5)
    ]
    pts = spark.createDataFrame(rows, "series_id string, ts timestamp, value double")
    hist = histogram_rollup(pts, 3600, bin_width=2.0)
    out = ks_drift(hist, e0, e0 + 86400, e0 + 5 * 86400, e0 + 10 * 86400).collect()
    assert {r.series_id for r in out} == {"both"}


def test_ohlc_tie_determinism_and_merge(spark):
    """Duplicate-timestamp ticks: open/close follow the packed
    (epoch<<20)+seq order, not encounter order; 1d-from-1h merge ==
    1d-from-raw bit-for-bit."""
    import datetime as dtm

    from afspark.operators.rollup import ohlc_merge, ohlc_rollup

    t0 = dtm.datetime(2024, 1, 1)
    rows = []
    # 3 ticks at the SAME second (seq breaks the tie), then spread
    # across two hours of one day and a second day
    for seq, (off, v) in enumerate(
        [(0, 5.0), (0, 9.0), (0, 1.0), (1800, 7.0), (3700, 2.0),
         (5400, 8.0), (90000, 4.0), (93600, 6.0)],
        start=1,
    ):
        rows.append(("s", seq, t0 + dtm.timedelta(seconds=off), v))
    pts = spark.createDataFrame(
        rows, "series_id string, seq long, ts timestamp, value double"
    )
    h1 = ohlc_rollup(pts, 3600)
    bars = {r.bucket_ts: r for r in h1.collect()}
    b0 = bars[t0]
    # seq=1 (5.0) opens, seq=4 (7.0) closes hour 0 despite ties at open
    assert (b0.open, b0.high, b0.low, b0.close) == (5.0, 9.0, 1.0, 7.0)
    d_merged = {
        (r.series_id, r.bucket_ts): (r.cnt, r.open, r.high, r.low, r.close)
        for r in ohlc_merge(h1, 86400).collect()
    }
    d_direct = {
        (r.series_id, r.bucket_ts): (r.cnt, r.open, r.high, r.low, r.close)
        for r in ohlc_rollup(pts, 86400).collect()
    }
    assert d_merged == d_direct
    day1 = d_direct[("s", t0)]
    assert day1 == (6, 5.0, 9.0, 1.0, 8.0)
    day2 = d_direct[("s", t0 + dtm.timedelta(days=1))]
    assert day2 == (2, 4.0, 6.0, 4.0, 6.0)


def test_audit_tier_consistency_detects_corruption(spark, points):
    from afspark.operators.rollup import audit_tier_consistency, rollup_tier

    t1h = rollup_points(points, TIERS["1h"])
    t1d = rollup_tier(t1h, TIERS["1d"])
    clean = audit_tier_consistency(t1h, t1d, TIERS["1d"]).collect()
    assert clean and all(r.n_mismatch == 0 for r in clean)

    # flip one stored sum: the audit must localize exactly one bad bucket
    first = t1d.orderBy("series_id", "bucket_ts").limit(1).collect()[0]
    corrupted = t1d.withColumn(
        "sum",
        F.when(
            (F.col("series_id") == first.series_id)
            & (F.col("bucket_ts") == first.bucket_ts),
            F.col("sum") + 1.0,
        ).otherwise(F.col("sum")),
    )
    bad = {
        r.series_id: r.n_mismatch
        for r in audit_tier_consistency(t1h, corrupted, TIERS["1d"]).collect()
    }
    assert bad[first.series_id] == 1
    assert sum(bad.values()) == 1


def test_realtime_cagg_equals_full(spark, points):
    """materialized-below-watermark UNION rollup(tail) == full recompute."""
    from afspark.operators.rollup import realtime_cagg

    pts = points.withColumn("value", F.floor(F.col("value") * 100 + 0.5))
    wm = 1_705_708_800  # 2024-01-20, mid-range of the synthetic events
    committed = rollup_points(
        pts.filter(F.col("ts") < F.timestamp_seconds(F.lit(wm))), TIERS["1h"]
    )
    view = {
        (r.series_id, r.bucket_ts): (r.cnt, r.sum, r.min, r.max, r.first, r.last)
        for r in realtime_cagg(committed, pts, TIERS["1h"], wm).collect()
    }
    full = {
        (r.series_id, r.bucket_ts): (r.cnt, r.sum, r.min, r.max, r.first, r.last)
        for r in rollup_points(pts, TIERS["1h"]).collect()
    }
    assert view == full  # cents: exact equality incl. sums


def test_realtime_cagg_watermark_aligned_and_late_invisible(spark):
    """Unaligned watermark floors to a bucket edge; a late point below the
    watermark that is MISSING from the materialization stays invisible
    (TimescaleDB contract) until an incremental refresh merges it."""
    from afspark.operators.rollup import realtime_cagg

    t0 = dt.datetime(2024, 1, 1, tzinfo=UTC)
    rows = [
        ("s", t0 + dt.timedelta(minutes=m), float(v))
        for m, v in [(0, 1.0), (30, 2.0), (70, 5.0), (130, 9.0)]
    ]
    pts = spark.createDataFrame(rows, "series_id string, ts timestamp, value double")
    # materialization MISSED the 00:30 point (late arrival)
    committed = rollup_points(
        pts.filter(F.minute("ts") != 30).filter(
            F.col("ts") < F.timestamp_seconds(F.lit(1_704_070_800))
        ),
        TIERS["1h"],
    )
    wm = 1_704_070_800 + 1234  # NOT bucket-aligned -> floors to 01:00
    out = {
        r.bucket_ts.replace(tzinfo=UTC): (r.cnt, r.sum)
        for r in realtime_cagg(committed, pts, TIERS["1h"], wm).collect()
    }
    assert out[t0] == (1, 1.0)  # stale: late 00:30 point invisible
    assert out[t0 + dt.timedelta(hours=1)] == (1, 5.0)  # live tail
    assert out[t0 + dt.timedelta(hours=2)] == (1, 9.0)


def test_realtime_cagg_plan_no_join_and_pushdown(spark, sf_dir):
    """The view is a pure union: no join anywhere, and the raw-side
    watermark predicate reaches the parquet scan as a pushed filter."""
    from afspark.operators.rollup import realtime_cagg

    raw = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").cast("string").alias("series_id"), "ts", "value"
    )
    wm = 1_705_708_800
    committed = rollup_points(
        raw.filter(F.col("ts") < F.timestamp_seconds(F.lit(wm))), TIERS["1h"]
    )
    plan = realtime_cagg(committed, raw, TIERS["1h"], wm)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts," in plan


def _mk_tier(spark, rows, sec):
    """rows: (series_id, bucket_epoch, cnt). Minimal tier frame."""
    df = spark.createDataFrame(rows, "series_id string, be long, cnt long")
    return df.select(
        "series_id", F.timestamp_seconds("be").alias("bucket_ts"), "cnt"
    )


def test_stitched_read_disjoint_and_aligned(spark):
    """Fine tier serves from the CEIL-aligned handoff; spans disjoint."""
    from afspark.operators.rollup import stitched_range_read

    day = 86_400
    now = 10 * day + 12 * 3600  # mid-day "now" -> unaligned retention edge
    h_rows = [("s", e, 1) for e in range(7 * day, now, 3600)]
    d_rows = [("s", e, 24) for e in range(0, 10 * day, day)]
    out = stitched_range_read(
        {"1h": _mk_tier(spark, h_rows, 3600), "1d": _mk_tier(spark, d_rows, day)},
        {"1h": 3600, "1d": day},
        {"1h": 3 * day, "1d": 365 * day},
        now_epoch=now,
        t0_epoch=2 * day,
        t1_epoch=now,
    ).collect()
    # oldest 1h-retained = now - 3d = 7.5d -> ceil to day 8
    cut = 8 * day
    by_tier = {}
    for r in out:
        e = int(r.bucket_ts.timestamp())
        by_tier.setdefault(r.tier, []).append(e)
        if r.tier == "1h":
            assert cut <= e < now and r.resolution_s == 3600
        else:
            assert 2 * day <= e < cut and r.resolution_s == day
    assert sorted(by_tier["1h"]) == list(range(cut, now, 3600))
    assert sorted(by_tier["1d"]) == list(range(2 * day, cut, day))


def test_stitched_read_three_tiers(spark):
    from afspark.operators.rollup import stitched_range_read

    day = 86_400
    now = 100 * day
    tiers = {
        "1h": _mk_tier(spark, [("s", now - 3600, 1)], 3600),
        "1d": _mk_tier(spark, [("s", 95 * day, 1), ("s", 80 * day, 1)], day),
        "30d": _mk_tier(spark, [("s", 0, 1), ("s", 30 * day, 1), ("s", 90 * day, 1)], 30 * day),
    }
    out = stitched_range_read(
        tiers,
        {"1h": 3600, "1d": day, "30d": 30 * day},
        {"1h": day, "1d": 10 * day, "30d": 3650 * day},
        now_epoch=now, t0_epoch=0, t1_epoch=now,
    ).collect()
    got = {(r.tier, int(r.bucket_ts.timestamp())) for r in out}
    # 1h serves [99d, now); 1d serves [90d, 99d); 30d serves [0, 90d)
    assert got == {
        ("1h", now - 3600),
        ("1d", 95 * day),
        ("30d", 0),
        ("30d", 30 * day),
    }


def test_stitched_read_empty_range_raises(spark):
    from afspark.operators.rollup import stitched_range_read

    with pytest.raises(ValueError):
        stitched_range_read(
            {"1h": _mk_tier(spark, [], 3600)},
            {"1h": 3600}, {"1h": 86_400},
            now_epoch=10, t0_epoch=100, t1_epoch=100,
        )


def test_stitched_read_no_gap_when_fine_retains_past_t0(spark):
    """Regression (review finding): fine tier retains back past t0 but
    its retention edge is unaligned — it must serve from t0, not from
    the ceil-aligned edge (which left a coverage hole for the coarse
    tier to 'serve' with no aligned buckets)."""
    from afspark.operators.rollup import stitched_range_read

    day = 86_400
    now = 100 * day + 12 * 3600
    t0 = 93 * day + 18 * 3600  # hour-aligned, above the 1h retention edge
    h_rows = [("s", e, 1) for e in range(93 * day + 12 * 3600, now, 3600)]
    d_rows = [("s", e, 24) for e in range(90 * day, 100 * day, day)]
    out = stitched_range_read(
        {"1h": _mk_tier(spark, h_rows, 3600), "1d": _mk_tier(spark, d_rows, day)},
        {"1h": 3600, "1d": day},
        {"1h": 7 * day, "1d": 365 * day},  # 1h retains to 93.5d < t0
        now_epoch=now, t0_epoch=t0, t1_epoch=now,
    ).collect()
    got = sorted(int(r.bucket_ts.timestamp()) for r in out)
    assert all(r.tier == "1h" for r in out)  # no daily rows at all
    assert got == list(range(t0, now, 3600))  # every hour from t0: no gap


def test_stitched_read_straddling_t0_bucket_included(spark):
    """Whole-bucket serve semantics: an unaligned t0 returns the coarse
    bucket that straddles it (Thanos behavior), not a silent hole."""
    from afspark.operators.rollup import stitched_range_read

    day = 86_400
    d_rows = [("s", e, 24) for e in range(0, 10 * day, day)]
    out = stitched_range_read(
        {"1d": _mk_tier(spark, d_rows, day)},
        {"1d": day}, {"1d": 365 * day},
        now_epoch=10 * day, t0_epoch=5 * day + 12 * 3600, t1_epoch=8 * day,
    ).collect()
    got = sorted(int(r.bucket_ts.timestamp()) for r in out)
    assert got == [5 * day, 6 * day, 7 * day]  # day-5 straddler included


def test_stitched_read_coarsest_clipped_to_retention(spark):
    """The coarsest tier stops at its own retention (floor-aligned so
    the straddling bucket is served), instead of reading expired rows
    from a not-yet-pruned store."""
    from afspark.operators.rollup import stitched_range_read

    day = 86_400
    d_rows = [("s", e, 24) for e in range(0, 10 * day, day)]
    out = stitched_range_read(
        {"1d": _mk_tier(spark, d_rows, day)},
        {"1d": day}, {"1d": 3 * day},
        now_epoch=9 * day + 12 * 3600, t0_epoch=0, t1_epoch=9 * day,
    ).collect()
    got = sorted(int(r.bucket_ts.timestamp()) for r in out)
    # retains to 6.5d -> floor to day 6 (straddler served), days 0-5 expired
    assert got == [6 * day, 7 * day, 8 * day]


def test_stitched_read_config_validation(spark):
    from afspark.operators.rollup import stitched_range_read

    day = 86_400
    t = {"a": _mk_tier(spark, [], 3600), "b": _mk_tier(spark, [], day)}
    with pytest.raises(ValueError, match="nest"):
        stitched_range_read(
            t, {"a": 3600, "b": 5000}, {"a": day, "b": day},
            now_epoch=day, t0_epoch=0, t1_epoch=day,
        )
    with pytest.raises(ValueError, match="retention"):
        stitched_range_read(
            t, {"a": 3600, "b": day}, {"a": 10 * day, "b": day},
            now_epoch=day, t0_epoch=0, t1_epoch=day,
        )


def test_stitched_read_unreachable_handoff_raises(spark):
    """A middle tier that cannot take the finer tier's handoff is a
    config error (serving past it would double-count through a
    straddling coarsest bucket), not a silent skip."""
    from afspark.operators.rollup import stitched_range_read

    day = 86_400
    t = {
        "1h": _mk_tier(spark, [], 3600),
        "1d": _mk_tier(spark, [], day),
        "30d": _mk_tier(spark, [], 30 * day),
    }
    with pytest.raises(ValueError, match="handoff"):
        stitched_range_read(
            t,
            {"1h": 3600, "1d": day, "30d": 30 * day},
            # 1d ceil-aligned start (day 120) overshoots the 1h handoff
            {"1h": 5 * day, "1d": 6 * day, "30d": 3650 * day},
            now_epoch=100 * day, t0_epoch=0, t1_epoch=100 * day,
        )


def test_serve_range_routing_and_pixel_bound(spark, points):
    """Grafana maxDataPoints contract: tier routing, pixel alignment,
    and the per-series pixel-count bound."""
    from afspark.operators.rollup import rollup_all_tiers, serve_range

    pts = points.withColumn("value", F.floor(F.col("value") * 100 + 0.5))
    tiers = rollup_all_tiers(pts, materialize=False)
    t0, t1 = 1_704_067_200, 1_706_659_200  # Jan 1 .. Jan 31
    name, px, out = serve_range(tiers, TIERS, t0, t1, max_points=200)
    assert name == "1h" and px == 14_400  # 30d/200 -> 4h pixels
    per_series = out.groupBy("series_id").count().agg(F.max("count")).first()[0]
    assert per_series <= 200
    # short range: falls back to the finest tier, pixel >= tier width
    name2, px2, _ = serve_range(tiers, TIERS, t0, t0 + 1800, max_points=500)
    assert name2 == "1m" and px2 == 60
