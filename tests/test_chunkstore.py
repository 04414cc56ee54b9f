"""Storage layer: the chunk codec round trip, the date-partitioned tier
store's late merge, range read, retention and compaction, and kill-resume."""

import datetime as dtm
import os
import shutil
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from afspark.operators.rollup import TIERS, read_tier_range, rollup_points
from afspark.sources.chunkstore import decode_chunks, encode_chunks
from afspark.streaming.checkpoint import CheckpointLog, run_resumable
from afspark.streaming.stream_tier import (
    apply_batch_once,
    apply_retention,
    compact_tier_store,
    read_tier_store,
)

SCHEMA = "series_id string, ts timestamp, value double"


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="afspark_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def points(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        F.col("user_id").cast("string").alias("series_id"), "ts", "value"
    )


def as_set(df):
    return {(r.series_id, r.ts, r.value) for r in df.collect()}


def tier_rows(spark, store):
    """Every tier row of the store, all columns, as a sorted list."""
    return sorted(tuple(r) for r in read_tier_store(spark, store).collect())


def append_tier(pts, store, tier_seconds=60):
    """Append the points' tier rows in the store layout: each call adds a
    file per date it covers (the small-file shape compaction folds)."""
    (
        rollup_points(pts, tier_seconds)
        .withColumn("bucket_date", F.to_date("bucket_ts"))
        .write.mode("append")
        .partitionBy("bucket_date")
        .parquet(store)
    )


def files_per_date(store):
    return {
        d.name: sorted(p.name for p in d.glob("*.parquet"))
        for d in sorted(Path(store).glob("bucket_date=*"))
    }


def test_chunk_roundtrip_bit_exact(spark, points):
    chunks = encode_chunks(points, chunk_seconds=86_400)
    back = decode_chunks(chunks)
    assert as_set(back) == as_set(points)
    # size sanity: random micro-jittered data won't beat raw 16B/point by
    # much (Gorilla wins on regular/stepped series — see test_codec), but
    # the encoding must stay bounded
    stats = chunks.agg(
        F.sum("n").alias("n"),
        F.sum(F.octet_length("ts_blob") + F.octet_length("val_blob")).alias("b"),
    ).first()
    assert stats.b < 24 * stats.n


def test_run_resumable_partitioned_empty_unit_completes(spark, points, tmpdir):
    """A partition_by unit whose DataFrame is EMPTY must still commit (with
    0 rows), and a unit never deletes another unit's partitions: the
    partitioned write is a dynamic overwrite into one store."""
    log = CheckpointLog(spark, f"{tmpdir}/ckpt_empty")
    out = f"{tmpdir}/out_empty"
    src = points.withColumn("d", F.to_date("ts"))
    days = sorted(r.d for r in src.select("d").distinct().collect())

    def process(key):
        if key == "empty":
            return src.filter(F.lit(False))
        return src.filter(F.col("d") == F.lit(days[0] if key == "first" else days[1]))

    r1 = run_resumable(
        spark, "st", ["first", "empty", "second"], process, out, log,
        partition_by=["d"],
    )
    assert r1["processed"] == ["first", "empty", "second"]
    rows = {r.partition_key: r.rows for r in log.metrics().collect()}
    assert rows["empty"] == 0 and rows["first"] > 0 and rows["second"] > 0
    assert sorted(p.name for p in Path(out).glob("d=*")) == [f"d={d}" for d in days[:2]]
    assert spark.read.parquet(out).count() == rows["first"] + rows["second"]
    # the empty unit is committed: a rerun skips it
    r2 = run_resumable(
        spark, "st", ["first", "empty", "second"], process, out, log,
        partition_by=["d"],
    )
    assert sorted(r2["skipped"]) == ["empty", "first", "second"]


def test_kill_resume_skips_completed(spark, points, tmpdir):
    """A killed run resumes from the checkpoint without recomputation."""
    log = CheckpointLog(spark, f"{tmpdir}/ckpt")
    out = f"{tmpdir}/out"
    days = sorted(
        r.d for r in points.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    keys = [str(d) for d in days]

    calls = []

    def process(key):
        calls.append(key)
        return points.filter(F.to_date("ts") == key)

    # simulate a crash after the first 3 partitions
    r1 = run_resumable(spark, "daily", keys[:3], process, out, log)
    assert r1["processed"] == keys[:3]
    # resume over the full key list
    r2 = run_resumable(spark, "daily", keys, process, out, log)
    assert r2["skipped"] == keys[:3]
    assert r2["processed"] == keys[3:]
    assert calls == keys[:3] + keys[3:]  # no partition processed twice
    # final output == clean full run
    got = spark.read.parquet(out)
    assert got.count() == points.count()
    # metrics recorded per partition
    m = log.metrics()
    assert m.count() == len(keys)
    assert m.filter(F.col("rows") > 0).count() == len(keys)


def test_ooo_merge_rewrite_volume_proportional_to_touched_buckets(
    spark, points, tmpdir
):
    """A late point for one series on one day rewrites ONLY that day's
    bucket_date partition; every other date keeps byte-identical files
    (never read, never written), and the merged store is correct."""

    def file_map(root):
        m = {}
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    m.setdefault(os.path.relpath(dirpath, root), set()).add(
                        (f, os.path.getsize(p))
                    )
        return m

    store = f"{tmpdir}/store"
    assert apply_batch_once(spark, store, points, 0, TIERS["1m"])
    before = file_map(store)
    one = points.orderBy("series_id", "ts").limit(1).collect()[0]
    late = spark.createDataFrame([(one.series_id, one.ts, one.value + 1.0)], SCHEMA)
    assert apply_batch_once(spark, store, late, 1, TIERS["1m"])
    after = file_map(store)

    touched = f"bucket_date={one.ts.date()}"
    assert len(before) > 1 and touched in before and touched in after
    changed = {d for d in set(before) | set(after) if before.get(d) != after.get(d)}
    assert changed == {touched}
    assert tier_rows(spark, store) == sorted(
        tuple(r)
        for r in rollup_points(points.unionByName(late), TIERS["1m"])
        .withColumn("bucket_date", F.to_date("bucket_ts"))
        .collect()
    )


def test_ooo_locating_scan_partition_pruned(spark, points, tmpdir):
    """The merge reads only the late batch's dates: with every other date's
    files made unreadable, merging a late point still succeeds."""
    store = f"{tmpdir}/store"
    assert apply_batch_once(spark, store, points, 0, TIERS["1m"])
    one = points.orderBy("series_id", "ts").limit(1).collect()[0]
    touched = f"bucket_date={one.ts.date()}"
    others = [d for d in Path(store).glob("bucket_date=*") if d.name != touched]
    assert others
    for d in others:
        for f in d.glob("*.parquet"):
            f.write_bytes(b"not parquet")
    late = spark.createDataFrame([(one.series_id, one.ts, one.value + 1.0)], SCHEMA)
    assert apply_batch_once(spark, store, late, 1, TIERS["1m"])
    merged = read_tier_store(spark, store).filter(
        F.col("bucket_date") == one.ts.date()
    )
    want = rollup_points(points.unionByName(late), TIERS["1m"]).filter(
        F.to_date("bucket_ts") == one.ts.date()
    )
    assert sorted(tuple(r) for r in merged.drop("bucket_date").collect()) == sorted(
        tuple(r) for r in want.collect()
    )


def test_range_read_prunes_partitions(spark, points, tmpdir):
    """read_tier_range reads only the dates of the range (every other
    date's files are unreadable) and returns exactly the tier rows whose
    bucket_ts falls in it."""
    store = f"{tmpdir}/store"
    append_tier(points, store, TIERS["1h"])
    t0 = int(dtm.datetime(2024, 1, 5, tzinfo=dtm.timezone.utc).timestamp())
    t1 = int(dtm.datetime(2024, 1, 8, tzinfo=dtm.timezone.utc).timestamp())
    # date-level pruning keeps Jan 5..8 (a bucket_ts < t1 can't be later
    # than t1's date); the bucket_ts filter then drops Jan 8
    in_range = {f"bucket_date=2024-01-0{d}" for d in (5, 6, 7, 8)}
    others = [d for d in Path(store).glob("bucket_date=*") if d.name not in in_range]
    assert others
    for d in others:
        for f in d.glob("*.parquet"):
            f.write_bytes(b"not parquet")
    name, df = read_tier_range(spark, {"1h": store}, t0, t1, target_points=10)
    assert name == "1h"
    want = rollup_points(points, TIERS["1h"]).filter(
        (F.col("bucket_ts") >= "2024-01-05") & (F.col("bucket_ts") < "2024-01-08")
    )
    assert sorted(tuple(r) for r in df.drop("bucket_date").collect()) == sorted(
        tuple(r) for r in want.collect()
    )


def test_retention_expiry(spark, points, tmpdir):
    store = f"{tmpdir}/store"
    append_tier(points, store, TIERS["1h"])
    before = read_tier_store(spark, store).count()
    # cutoff 2024-01-10: keep 5 days back from 2024-01-15
    removed = apply_retention(store, 5, "2024-01-15")
    assert removed > 0
    kept = read_tier_store(spark, store)
    assert kept.filter(F.col("bucket_date") < "2024-01-10").count() == 0
    expected = (
        rollup_points(points, TIERS["1h"])
        .filter(F.to_date("bucket_ts") >= "2024-01-10")
        .count()
    )
    assert kept.count() == expected < before
    # idempotent
    assert apply_retention(store, 5, "2024-01-15") == 0


def _day_points(spark, days, hours=range(4)):
    rows = [
        ("s", dtm.datetime(2024, 1, d, h, 0, 0), float(d * 100 + h))
        for d in days
        for h in hours
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_retention_policy_per_store(spark, tmpdir):
    """Each store drops only the dates older than its own horizon;
    keep_days < 0 disables expiry; surviving rows intact."""
    raw, tier = f"{tmpdir}/raw", f"{tmpdir}/tier"
    append_tier(_day_points(spark, [1, 2, 3, 4, 5]), raw)
    append_tier(_day_points(spark, [1, 2, 3, 4, 5]), tier)

    assert apply_retention(raw, 2, "2024-01-05") == 2  # Jan 1-2 (cutoff Jan 3)
    assert apply_retention(tier, -1, "2024-01-05") == 0
    days_left = sorted(
        r.d for r in read_tier_store(spark, raw)
        .select(F.dayofmonth("bucket_date").alias("d")).distinct().collect()
    )
    assert days_left == [3, 4, 5]
    assert read_tier_store(spark, raw).count() == 12
    assert read_tier_store(spark, tier).select("bucket_date").distinct().count() == 5


def test_retention_expires_tier_store_layout(spark, tmpdir):
    """apply_retention ages out a store written by the late-data merge."""
    from afspark.streaming.stream_tier import refresh_tier_store

    rows = [
        ("s", dtm.datetime(2024, 1, d, h, 0, 0), float(d + h))
        for d in (1, 2, 3, 4)
        for h in range(3)
    ]
    pts = spark.createDataFrame(rows, SCHEMA)
    store = f"{tmpdir}/tier1h"
    refresh_tier_store(spark, store, pts, TIERS["1h"])
    assert read_tier_store(spark, store).count() == 12

    assert apply_retention(store, 2, "2024-01-04") == 1  # only Jan 1 < Jan 2
    left = read_tier_store(spark, store)
    assert left.filter(F.col("bucket_date") < "2024-01-02").count() == 0
    assert left.count() == 9


def test_compaction_merges_small_files_preserving_points(spark, tmpdir):
    """compact_tier_store: touched dates end at <=1 file, tier rows are
    identical, and a date already at 1 file is left byte-identical
    (never rewritten)."""

    def mk(day, h0, h1):
        rows = [
            ("s", dtm.datetime(2024, 1, day, h, m, 0), float(day * 10_000 + h * 60 + m))
            for h in range(h0, h1)
            for m in range(0, 60, 15)
        ]
        return spark.createDataFrame(rows, SCHEMA)

    store = f"{tmpdir}/store"
    append_tier(mk(1, 0, 6), store)
    append_tier(mk(1, 6, 12).union(mk(2, 0, 12)), store)
    assert len(files_per_date(store)["bucket_date=2024-01-01"]) == 2
    rows0 = tier_rows(spark, store)
    assert compact_tier_store(spark, store) >= 1
    assert all(len(v) <= 1 for v in files_per_date(store).values())
    assert tier_rows(spark, store) == rows0

    # append to day 1 only; day 2 must then survive compaction byte-identical
    append_tier(mk(1, 12, 24), store)
    before_files = files_per_date(store)
    day2 = "bucket_date=2024-01-02"
    assert len(before_files[day2]) == 1
    day2_bytes = (Path(store) / day2 / before_files[day2][0]).read_bytes()
    before_rows = tier_rows(spark, store)

    assert compact_tier_store(spark, store) == 1
    after_files = files_per_date(store)
    assert all(len(v) <= 1 for v in after_files.values())
    assert after_files[day2] == before_files[day2]
    assert (Path(store) / day2 / after_files[day2][0]).read_bytes() == day2_bytes
    assert tier_rows(spark, store) == before_rows
    # idempotent: another pass is a no-op
    assert compact_tier_store(spark, store) == 0


def _series_points(spark, n_series):
    rows = [
        (f"s{i:02d}", dtm.datetime(2024, 1, 1, h, m, 0), float(i * 1000 + h * 60 + m))
        for i in range(n_series)
        for h in range(6)
        for m in (0, 30)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_compaction_target_files_splits_partition(spark, tmpdir):
    """target_files > 1: a date's rows spread across up to that many
    files, preserving rows."""
    pts = _series_points(spark, 8)
    store = f"{tmpdir}/store"
    for lo, hi in (("s00", "s03"), ("s03", "s06"), ("s06", "s99")):
        append_tier(pts.filter((F.col("series_id") >= lo) & (F.col("series_id") < hi)), store)
    before = tier_rows(spark, store)
    assert compact_tier_store(spark, store, target_files=2) == 1
    counts = [len(v) for v in files_per_date(store).values()]
    assert counts == [2]
    assert tier_rows(spark, store) == before


def test_compaction_sort_within_clusters_files_for_pruning(spark, tmpdir):
    """sort_within clustering: after compaction with a (series_id,
    bucket_ts) sort, each output file covers a contiguous series slice —
    footer min/max on series_id prunes files for single-series reads
    (measured on the real written footers), with rows preserved exactly."""
    from afspark.sources.zorder import file_envelopes

    pts = _series_points(spark, 16)
    store = f"{tmpdir}/store"
    # streaming-shaped ingest: several small appends -> many small files,
    # each spanning series from the whole domain
    for h in range(6):
        append_tier(pts.filter(F.hour("ts") == h), store)
    assert len(files_per_date(store)["bucket_date=2024-01-01"]) > 4
    before = tier_rows(spark, store)
    assert (
        compact_tier_store(
            spark, store, target_files=4, sort_within=["series_id", "bucket_ts"]
        )
        == 1
    )
    assert tier_rows(spark, store) == before

    env = file_envelopes(str(next(Path(store).glob("bucket_date=*"))), ["series_id"])
    assert len(env) >= 3  # the partition really split
    # tight envelopes: a single-series equality predicate keeps exactly
    # the files whose [min, max] straddles it — at most 2 of the splits
    # (a series can only span one file boundary in a sorted layout)
    for sid in ("s00", "s07", "s15"):
        keep = env[(env.series_id_min <= sid) & (env.series_id_max >= sid)]
        assert 1 <= len(keep) <= 2
    # and collectively the envelopes are non-degenerate (not all files
    # spanning the whole domain, which is what the unsorted layout gives)
    assert (env.series_id_min != env.series_id_min.min()).any()
