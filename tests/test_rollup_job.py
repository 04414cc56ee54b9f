"""The spark-submit rollup job (jobs/rollup_job.py): date-unit scoring
equals the fused pipeline, resume skips committed units, and the job's
tier store takes late batches (apply_batch_once) and maintenance
(jobs/maintenance_job.py) end to end."""

import datetime as dt
import json
import os
import sys
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from afspark.functions import kernels as K
from afspark.operators.rollup import (
    TIERS,
    audit_tier_consistency,
    read_tier_range,
    rollup_points,
    score_pages_to_tiers,
    scores_to_points,
)
from afspark.operators.score import score_pages
from afspark.sources.pages import generate_pages, with_series_offsets
from afspark.streaming.checkpoint import CheckpointLog, run_resumable
from afspark.streaming.stream_tier import apply_batch_once, read_tier_store
from jobs import maintenance_job, rollup_job
from jobs.rollup_job import score_unit, unit_dates

N_PAGES = 300
WINLEN, NOVERLAP = 256, 128
FS = 0.25  # 4 s per sample: the longest series spans several UTC dates
ORIGIN = 1_700_003_000  # not minute-aligned: date units need no alignment
FEATURES = [K.Energy(), K.ZeroCrossingRate()]
JOB_ARGS = [
    "--synth", str(N_PAGES), "--features", "energy,zcr",
    "--winlen", str(WINLEN), "--noverlap", str(NOVERLAP),
    "--fs", str(FS), "--origin-epoch", str(ORIGIN),
]


def _tier_key(r):
    return (r.series_id, r.bucket_ts)


def _tier_val(r):
    return (r.cnt, r.sum, r.min, r.max, r.first, r.last)


def assert_tiers_equal(got, want):
    """cnt/min/max/first/last exact, sums to rel 1e-12 (window sums add in
    a different order across units)."""
    rows = got.collect()
    g = {_tier_key(r): _tier_val(r) for r in rows}
    w = {_tier_key(r): _tier_val(r) for r in want.collect()}
    assert len(g) == len(rows)  # one row per (series, bucket)
    assert set(g) == set(w)
    for k in w:
        assert (g[k][0], *g[k][2:]) == (w[k][0], *w[k][2:]), k
        assert g[k][1] == pytest.approx(w[k][1], rel=1e-12), k


def listing(root):
    got = {}
    for dp, _dn, fn in os.walk(root):
        for f in fn:
            p = os.path.join(dp, f)
            got[os.path.relpath(p, root)] = os.path.getmtime(p)
    return got


@pytest.fixture(scope="module")
def offs(spark):
    df = with_series_offsets(generate_pages(spark, N_PAGES)).persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def dates(offs):
    ds = unit_dates(offs, WINLEN, FS, ORIGIN)
    assert len(ds) >= 3  # the tests must cross date-unit boundaries
    return ds


def test_unit_scoring_equals_fused_pipeline(spark, offs, dates):
    """Union of per-date 1m tiers == the single-pass fused pipeline —
    windows whose samples straddle a date edge are computed exactly once."""
    parts = [
        score_unit(offs, d, FEATURES, WINLEN, NOVERLAP, FS, ORIGIN) for d in dates
    ]
    got = parts[0]
    for p in parts[1:]:
        got = got.unionByName(p)
    assert got.filter(F.col("bucket_date") != F.to_date("bucket_ts")).count() == 0
    want = score_pages_to_tiers(
        offs, FEATURES, WINLEN, NOVERLAP, fs=FS, origin_epoch=ORIGIN
    )["1m"]
    assert_tiers_equal(got, want)


def test_resume_skips_committed_units(spark, offs, dates, tmpdir):
    """Second run processes nothing and the store bytes are untouched."""
    out = str(tmpdir.join("store"))
    log = CheckpointLog(spark, str(tmpdir.join("ckpt")))
    keys = [d.isoformat() for d in dates[:3]]

    def run():
        return run_resumable(
            spark, "score_1m", keys,
            lambda key: score_unit(
                offs, dt.date.fromisoformat(key), FEATURES, WINLEN, NOVERLAP, FS, ORIGIN
            ),
            out, log, partition_by=["bucket_date"],
        )

    s1 = run()
    assert s1["processed"] == keys and s1["skipped"] == []
    assert sorted(p.name for p in Path(out).glob("bucket_date=*")) == [
        f"bucket_date={k}" for k in keys
    ]
    before = listing(out)
    s2 = run()
    assert s2["processed"] == [] and s2["skipped"] == keys
    assert listing(out) == before  # bytes untouched: no recompute, no rewrite

    # lineage rows carry metrics for every committed unit
    m = log.metrics().filter(F.col("stage") == "score_1m").collect()
    assert {r.partition_key for r in m} == set(keys)
    assert all(r.rows > 0 and r.wall_ms >= 0 for r in m)


def test_rollup_job_late_batch_and_maintenance_end_to_end(
    spark, offs, dates, tmpdir, capsys
):
    """main() writes every tier in the bucket_date layout equal to the fused
    pipeline; a rerun skips every unit and rewrites nothing; a late batch
    merged into every tier store keeps each coarse tier equal to the
    re-aggregation of the next finer one; maintenance_job's retention and
    clustered compaction leave read_tier_range == a rollup_points
    recompute of the surviving dates, with at most --target-files files
    per date."""
    out, ckpt = str(tmpdir.join("tiers")), str(tmpdir.join("ckpt"))
    argv = [*JOB_ARGS, "--out", out, "--checkpoint", ckpt]
    # small files, as a store written by many tasks has
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "150")
    try:
        rollup_job.main(argv)
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    assert f"score_1m: {len(dates)} units processed, 0 skipped" in capsys.readouterr().out

    want = score_pages_to_tiers(offs, FEATURES, WINLEN, NOVERLAP, fs=FS, origin_epoch=ORIGIN)
    for name in TIERS:
        root = Path(out) / f"tier={name}"
        assert {p.name for p in root.iterdir() if p.is_dir()} <= {
            f"bucket_date={d}" for d in
            {r.d for r in want[name].select(F.to_date("bucket_ts").alias("d")).collect()}
        }
        got = read_tier_store(spark, str(root))
        assert got.filter(F.col("bucket_date") != F.to_date("bucket_ts")).count() == 0
        assert_tiers_equal(got, want[name])

    before = listing(out)
    rollup_job.main(argv)
    rerun = capsys.readouterr().out
    assert f"score_1m: 0 units processed, {len(dates)} skipped" in rerun
    assert rerun.count("processed=[] skipped=['all']") == 3
    assert listing(out) == before

    # a late batch into the 1m tier: points on the first two dates (one
    # expires below, one survives), values k/16
    rng = np.random.default_rng(7)
    series = sorted(r.series_id for r in want["1m"].select("series_id").distinct().collect())
    t_lo = dt.datetime.combine(dates[0], dt.time())
    late_rows = [
        (
            series[int(rng.integers(len(series)))],
            t_lo + dt.timedelta(seconds=int(rng.integers(2 * 86_400))),
            float(rng.integers(-64, 64)) / 16,
        )
        for _ in range(40)
    ]
    late = spark.createDataFrame(late_rows, "series_id string, ts timestamp, value double")
    # the late-data contract: the batch goes into every tier store, so each
    # coarse tier stays the re-aggregation of the next finer one
    for name, sec in TIERS.items():
        assert apply_batch_once(spark, f"{out}/tier={name}", late, 0, sec)
    names = sorted(TIERS, key=TIERS.get)
    for fine, coarse in zip(names, names[1:]):
        audit = audit_tier_consistency(
            read_tier_store(spark, f"{out}/tier={fine}"),
            read_tier_store(spark, f"{out}/tier={coarse}"),
            TIERS[coarse],
        )
        assert audit.agg(F.sum("n_mismatch")).first()[0] == 0, (fine, coarse)
    store_1m = f"{out}/tier=1m"

    n_files = {
        d.name: len(list(d.glob("*.parquet"))) for d in Path(store_1m).glob("bucket_date=*")
    }
    assert max(n_files.values()) > 2, n_files  # compaction has work to do

    keep_days = len(dates) - 2  # expires exactly the first date
    maintenance_job.main([
        "--store", store_1m, "--retention-days", str(keep_days),
        "--today", dates[-1].isoformat(), "--target-files", "2",
        "--cluster", "series",
    ])
    passes = {
        o["pass"]: o
        for o in map(json.loads, filter(None, capsys.readouterr().out.splitlines()))
    }
    assert passes["retention"]["partitions_removed"] == 1
    assert passes["compaction"]["partitions_rewritten"] >= 1
    survivors = sorted(p.name for p in Path(store_1m).glob("bucket_date=*"))
    assert survivors == [f"bucket_date={d}" for d in dates[1:]]
    for d in survivors:
        assert 1 <= len(list((Path(store_1m) / d).glob("*.parquet"))) <= 2, d

    t0 = int(dt.datetime.combine(dates[1], dt.time(), dt.timezone.utc).timestamp())
    t1 = t0 + (len(dates) - 1) * 86_400
    name, got = read_tier_range(spark, {"1m": store_1m}, t0, t1)
    assert name == "1m"
    windows = scores_to_points(
        score_pages(offs, FEATURES, WINLEN, NOVERLAP, fs=FS), FS, ORIGIN
    )
    recompute = rollup_points(windows.unionByName(late), TIERS["1m"]).filter(
        F.to_date("bucket_ts") >= F.lit(dates[1])
    )
    assert_tiers_equal(got, recompute)
