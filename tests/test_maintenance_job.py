"""jobs/maintenance_job.py: retention + clustering compaction of a tier
store + snapshot expiry as one schedulable pass, idempotent on re-run."""

import datetime as dtm
import json
import os
import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from afspark.operators.rollup import rollup_points
from afspark.sources.manifest import commit_append, read_snapshot
from afspark.streaming.stream_tier import apply_batch_once, read_tier_store
from jobs.maintenance_job import main

SCHEMA = "series_id string, ts timestamp, value double"


def _run(capsys, argv):
    main(argv)
    return [json.loads(l) for l in capsys.readouterr().out.splitlines()
            if l.startswith("{")]


def _tier_rows(df):
    return sorted(tuple(r) for r in df.drop("bucket_date").collect())


def _small_file_store(spark, store, pts, split):
    """1m tier store written by two apply_batch_once merges, capped at 10
    rows per file so every date spans several files (the shape a store
    written by many tasks has)."""
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "10")
    try:
        assert apply_batch_once(spark, store, pts.filter(F.col("series_id") < split), 0, 60)
        assert apply_batch_once(spark, store, pts.filter(F.col("series_id") >= split), 1, 60)
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")


def test_maintenance_passes_and_idempotence(spark, tmp_path, capsys):
    store = str(tmp_path / "tier1m")
    rows = [
        (f"s{i:02d}", dtm.datetime(2024, 1, d, h, 0, 0), float(i + d * 10 + h))
        for i in range(12)
        for d in (1, 2, 10)
        for h in range(4)
    ]
    pts = spark.createDataFrame(rows, SCHEMA)
    _small_file_store(spark, store, pts, "s06")

    snap = str(tmp_path / "snapstore")
    for day in (1, 2, 3):
        commit_append(
            spark, spark.createDataFrame([(day, float(day))], "k int, v double"), snap
        )

    argv = [
        "--store", store, "--retention-days", "7", "--today", "2024-01-10",
        "--target-files", "2", "--cluster", "series",
        "--snapshot-store", snap, "--keep-snapshots", "2",
        "--orphan-grace-seconds", "0",
    ]
    out = {o["pass"]: o for o in _run(capsys, argv)}

    # retention dropped the two expired dates (keep 2024-01-03 onward)
    assert out["retention"]["partitions_removed"] == 2
    dates = sorted(p.name for p in Path(store).glob("bucket_date=*"))
    assert dates == ["bucket_date=2024-01-10"]

    # compaction hit the surviving partition and clustered it
    assert out["compaction"]["partitions_rewritten"] == 1
    files = list((Path(store) / dates[0]).glob("*.parquet"))
    assert 1 <= len(files) <= 2
    # surviving tier rows intact: every series' 2024-01-10 buckets, exact
    want = rollup_points(pts.filter(F.dayofmonth("ts") == 10), 60)
    assert _tier_rows(read_tier_store(spark, store)) == _tier_rows(want)

    # snapshot expiry kept the newest 2 manifests; pinned read still works
    assert out["snapshot_expiry"]["manifests_removed"] == 1
    assert read_snapshot(spark, snap).count() == 3  # appends accumulate

    # idempotence: the re-run is a no-op on every pass
    out2 = {o["pass"]: o for o in _run(capsys, argv)}
    assert out2["retention"]["partitions_removed"] == 0
    assert out2["compaction"]["partitions_rewritten"] == 0
    assert out2["snapshot_expiry"]["manifests_removed"] == 0


def test_maintenance_zorder_cluster_mode(spark, tmp_path, capsys):
    store = str(tmp_path / "ztier1m")
    rows = [
        (f"s{i:02d}", dtm.datetime(2024, 1, 1, h, 0, 0), float(i * 100 + h))
        for i in range(8)
        for h in range(8)
    ]
    pts = spark.createDataFrame(rows, SCHEMA)
    _small_file_store(spark, store, pts, "s04")

    before = _tier_rows(read_tier_store(spark, store))
    out = {o["pass"]: o for o in _run(
        capsys, ["--store", store, "--target-files", "2", "--cluster", "zorder"]
    )}
    assert out["compaction"]["partitions_rewritten"] == 1
    assert len(list(Path(store).glob("bucket_date=*/*.parquet"))) == 2
    assert _tier_rows(read_tier_store(spark, store)) == before


def test_cluster_without_compaction_fails_fast(tmp_path):
    import pytest

    with pytest.raises(SystemExit):
        main(["--store", str(tmp_path), "--cluster", "zorder"])
