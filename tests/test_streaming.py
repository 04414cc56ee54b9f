"""Streaming 1m rollup == batch rollup on the same data (+ watermark drop)."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from afspark.operators.rollup import rollup_points
from afspark.streaming.stream_rollup import stream_rollup_1m

SCHEMA = "series_id string, ts timestamp, value double"


def run_to_memory(
    spark, src, schema, op, name, mode="append", checkpoint=None,
    one_file_per_batch=False,
):
    """Parquet file-source stream over ``src`` -> ``op`` -> memory table
    ``name``; returns the started query."""
    reader = spark.readStream.schema(schema)
    if one_file_per_batch:
        reader = reader.option("maxFilesPerTrigger", 1)  # in file order
    writer = (
        op(reader.parquet(src))
        .writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="afspark_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stream_rollup_matches_batch(spark, sf_dir, tmpdir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pts = ev.select(
        F.col("user_id").cast("string").alias("series_id"), "ts", "value"
    )
    src = f"{tmpdir}/in"
    # two file drops simulate two micro-batches
    a = pts.filter(F.col("event_id") % 2 == 0)
    b = pts.filter(F.col("event_id") % 2 == 1)
    a.write.mode("overwrite").parquet(src)
    q = run_to_memory(
        spark, src, SCHEMA, lambda s: stream_rollup_1m(s, watermark="365 days"),
        "t_rollup_stream", mode="complete",
    )
    try:
        q.processAllAvailable()
        b.write.mode("append").parquet(src)
        q.processAllAvailable()
        got = {
            (r.series_id, r.bucket_ts): (r.cnt, r.sum, r.min, r.max)
            for r in spark.sql("select * from t_rollup_stream").collect()
        }
    finally:
        q.stop()
    want = {
        (r.series_id, r.bucket_ts): (r.cnt, r.sum, r.min, r.max)
        for r in rollup_points(pts, 60).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert got[k][1] == pytest.approx(want[k][1], rel=1e-12)
        assert got[k][2:] == want[k][2:]


def test_streaming_stateful_dedup_across_batches(spark, tmpdir):
    """applyInPandasWithState exact-dedup: one representative per distinct
    text across micro-batches; re-deliveries and later duplicates emit
    nothing (state survives between batches via the checkpoint)."""
    from afspark.streaming.stream_dedup import streaming_exact_dedup

    schema = "doc_id long, text string"
    src = f"{tmpdir}/in"
    ckpt = f"{tmpdir}/ckpt"
    b1 = spark.createDataFrame(
        [(10, "alpha"), (11, "beta"), (12, "alpha")], schema
    )
    b1.coalesce(1).write.mode("overwrite").parquet(src)
    q = run_to_memory(
        spark, src, schema, streaming_exact_dedup, "t_dedup_stream",
        checkpoint=ckpt,
    )
    try:
        q.processAllAvailable()
        got1 = {
            (r.doc_id, r.text)
            for r in spark.sql("select * from t_dedup_stream").collect()
        }
        # min-id representative per distinct text of batch 1
        assert got1 == {(10, "alpha"), (11, "beta")}
        # batch 2: a re-delivery (alpha), a new text, and a dup of beta
        b2 = spark.createDataFrame(
            [(20, "alpha"), (21, "gamma"), (22, "beta")], schema
        )
        b2.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        got2 = {
            (r.doc_id, r.text)
            for r in spark.sql("select * from t_dedup_stream").collect()
        }
        assert got2 == {(10, "alpha"), (11, "beta"), (21, "gamma")}
    finally:
        q.stop()


def test_stream_maintained_tier_equals_batch_and_redelivery_safe(spark, sf_dir, tmpdir):
    """Three micro-batches through apply_batch_once == one batch rollup,
    bit-exact INCLUDING first/last; redelivering a batch id is a no-op."""
    from afspark.operators.rollup import TIERS, rollup_points
    from afspark.streaming.stream_tier import apply_batch_once, read_tier_store

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").cast("string").alias("series_id"), "ts", "value"
    )
    store = f"{tmpdir}/tier1h"
    parts = [ev.filter(F.pmod(F.xxhash64("series_id", "ts"), F.lit(3)) == i) for i in range(3)]
    for i, p in enumerate(parts):
        assert apply_batch_once(spark, store, p, i, TIERS["1h"]) is True
    # redelivery of batch 1 must be skipped
    assert apply_batch_once(spark, store, parts[1], 1, TIERS["1h"]) is False

    got = {
        (r.series_id, r.bucket_ts): (
            r.cnt, r.sum, r.min, r.max, r.avg, r.first, r.last, r.first_ts, r.last_ts
        )
        for r in read_tier_store(spark, store).drop("bucket_date").collect()
    }
    want = {
        (r.series_id, r.bucket_ts): (
            r.cnt, r.sum, r.min, r.max, r.avg, r.first, r.last, r.first_ts, r.last_ts
        )
        for r in rollup_points(ev, TIERS["1h"]).collect()
    }
    assert set(got) == set(want)
    for k in got:
        g, w = got[k], want[k]
        assert g[0] == w[0] and g[2] == w[2] and g[3] == w[3], k   # cnt/min/max
        assert g[1] == pytest.approx(w[1], rel=1e-12)
        assert g[7] == w[7] and g[8] == w[8], k                    # first/last_ts


def test_tier_store_two_phase_journal_and_lineage(spark, sf_dir, tmpdir):
    """Dangling intent (crash window) raises; lineage mismatch raises."""
    import json
    from pathlib import Path

    from afspark.operators.rollup import TIERS
    from afspark.streaming.stream_tier import apply_batch_once

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").cast("string").alias("series_id"), "ts", "value"
    ).limit(100)
    store = f"{tmpdir}/tier"
    assert apply_batch_once(spark, store, ev, 0, TIERS["1h"], lineage="ckpt-A")

    # simulate a crash inside the merge-commit window of batch 1
    jp = Path(store) / "_applied_batches.json"
    j = json.loads(jp.read_text())
    j["batches"]["1"] = "intent"
    jp.write_text(json.dumps(j))
    with pytest.raises(RuntimeError, match="dangling intent"):
        apply_batch_once(spark, store, ev, 1, TIERS["1h"], lineage="ckpt-A")

    # a different checkpoint lineage must be refused outright
    with pytest.raises(RuntimeError, match="lineage"):
        apply_batch_once(spark, store, ev, 2, TIERS["1h"], lineage="ckpt-B")


def test_tier_store_journal_lock_excludes_second_writer(spark, sf_dir, tmpdir):
    """A concurrent writer holding the journal flock fails fast instead of
    racing the read-modify-write (flock conflicts are per open file
    description, so a second fd in the same process exercises it)."""
    import fcntl
    from pathlib import Path

    from afspark.operators.rollup import TIERS
    from afspark.streaming.stream_tier import apply_batch_once

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").cast("string").alias("series_id"), "ts", "value"
    ).limit(50)
    store = f"{tmpdir}/tier"
    assert apply_batch_once(spark, store, ev, 0, TIERS["1h"], lineage="ckpt-A")
    with open(Path(store) / "_journal.lock", "w") as holder:
        fcntl.flock(holder, fcntl.LOCK_EX)
        with pytest.raises(RuntimeError, match="journal lock"):
            apply_batch_once(spark, store, ev, 1, TIERS["1h"], lineage="ckpt-A")
    # lock released: the same batch now applies
    assert apply_batch_once(spark, store, ev, 1, TIERS["1h"], lineage="ckpt-A")


TIER_COLS = ("cnt", "sum", "min", "max", "avg", "first", "last", "first_ts", "last_ts")


def _tier_rows(df):
    """(series_id, bucket_ts) -> the other nine tier columns."""
    return {
        (r.series_id, r.bucket_ts): tuple(r[c] for c in TIER_COLS)
        for r in df.collect()
    }


def _grid_points(spark, seed, days=(1, 2), minutes=range(0, 60, 7)):
    """Two series, two points per 1m bucket, over ``days`` of Jan 2024.
    Values are multiples of 1/16, so every sum is exact in float64, and
    each timestamp is unique, so first/last are unambiguous."""
    import datetime as dtm

    import numpy as np

    rng = np.random.default_rng(seed)
    rows = [
        (sid, dtm.datetime(2024, 1, d, h, m, sec), float(rng.integers(-800, 800)) / 16)
        for sid in ("a", "b")
        for d in days
        for h in (0, 13)
        for m in minutes
        for sec in (10, 40)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _store_files(store):
    from pathlib import Path

    return {
        str(p): p.stat().st_mtime_ns
        for p in Path(store).rglob("*")
        if p.is_file() and p.name.startswith("part-")
    }


def test_tier_store_merge_is_one_shuffle_without_joins(spark, tmpdir):
    """The store merge re-aggregates the touched dates in ONE Exchange
    (hash on bucket_date; the aggregate reuses that clustering), with no
    broadcast locate/anti-join, and one apply_batch_once on an existing
    store runs at most 5 Spark jobs."""
    import re

    from afspark.streaming.stream_tier import (
        _merge_tier_rows, apply_batch_once, read_tier_store,
    )

    store = f"{tmpdir}/tier1m"
    assert apply_batch_once(spark, store, _grid_points(spark, 1), 0, 60)
    batch = _grid_points(spark, 2, minutes=(3,))

    committed = read_tier_store(spark, store).filter(
        F.col("bucket_date").isin("2024-01-01", "2024-01-02")
    )
    plan = _merge_tier_rows(committed, batch, 60, ["series_id"], 2)._jdf \
        .queryExecution().executedPlan().toString()
    exchanges = [ln for ln in plan.splitlines() if re.search(r"\bExchange\b", ln)]
    assert len(exchanges) == 1, plan
    assert re.search(r"Exchange hashpartitioning\(bucket_date#\d+, 2\)", exchanges[0])
    for node in ("BroadcastHashJoin", "BroadcastExchange", "LeftSemi", "LeftAnti"):
        assert node not in plan, node

    sc = spark.sparkContext
    group = "tier-store-merge-jobs"
    sc.setJobGroup(group, "one apply_batch_once on an existing store")
    try:
        assert apply_batch_once(spark, store, batch, 1, 60)
    finally:
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert 0 < len(jobs) <= 5, len(jobs)


def test_tier_store_merge_keeps_untouched_buckets_of_a_touched_date(spark, tmpdir):
    """A batch that touches one bucket of a date rewrites the whole date;
    every other bucket of that date stays identical in all 11 tier columns
    (bit for bit, avg/first/last included), and the store equals a full
    rollup_points recompute."""
    import datetime as dtm

    from afspark.operators.rollup import rollup_points
    from afspark.streaming.stream_tier import apply_batch_once, read_tier_store

    base = _grid_points(spark, 3)
    store = f"{tmpdir}/tier1m"
    assert apply_batch_once(spark, store, base, 0, 60)
    before = _tier_rows(read_tier_store(spark, store))

    touched = ("a", dtm.datetime(2024, 1, 2, 13, 14))
    assert touched in before
    batch = spark.createDataFrame(
        [("a", dtm.datetime(2024, 1, 2, 13, 14, 25), 2.5)], SCHEMA
    )
    assert apply_batch_once(spark, store, batch, 1, 60)
    after = _tier_rows(read_tier_store(spark, store))

    assert set(after) == set(before)
    for k in before:
        if k != touched:
            assert after[k] == before[k], k
    assert after[touched] != before[touched]
    assert after == _tier_rows(rollup_points(base.unionByName(batch), 60))


def test_tier_store_late_point_becomes_first(spark, tmpdir):
    """A late point older than the committed first_ts of its bucket becomes
    that bucket's first (and first_ts); last is kept."""
    import datetime as dtm

    from afspark.operators.rollup import rollup_points
    from afspark.streaming.stream_tier import apply_batch_once, read_tier_store

    base = _grid_points(spark, 4)
    store = f"{tmpdir}/tier1m"
    assert apply_batch_once(spark, store, base, 0, 60)
    key = ("b", dtm.datetime(2024, 1, 1, 0, 21))
    before = _tier_rows(read_tier_store(spark, store))[key]
    late_ts = dtm.datetime(2024, 1, 1, 0, 21, 2)
    assert late_ts < before[TIER_COLS.index("first_ts")]

    late = spark.createDataFrame([("b", late_ts, 99.0)], SCHEMA)
    assert apply_batch_once(spark, store, late, 1, 60)
    got = _tier_rows(read_tier_store(spark, store))
    row = dict(zip(TIER_COLS, got[key]))
    assert row["first"] == 99.0 and row["first_ts"] == late_ts
    assert row["last"] == before[TIER_COLS.index("last")]
    assert got == _tier_rows(rollup_points(base.unionByName(late), 60))


def test_tier_store_null_value_matches_rollup_points(spark, tmpdir):
    """A null value counts toward first_ts/last_ts but not cnt, exactly
    as rollup_points treats it — in an existing bucket and in a bucket
    holding only the null point."""
    import datetime as dtm

    from afspark.operators.rollup import rollup_points
    from afspark.streaming.stream_tier import apply_batch_once, read_tier_store

    base = _grid_points(spark, 5)
    store = f"{tmpdir}/tier1m"
    assert apply_batch_once(spark, store, base, 0, 60)
    nulls = spark.createDataFrame(
        [
            ("a", dtm.datetime(2024, 1, 1, 0, 7, 1), None),   # before first_ts
            ("a", dtm.datetime(2024, 1, 1, 0, 8, 30), None),  # new bucket
        ],
        SCHEMA,
    )
    assert apply_batch_once(spark, store, nulls, 1, 60)
    got = _tier_rows(read_tier_store(spark, store))
    assert got == _tier_rows(rollup_points(base.unionByName(nulls), 60))
    lone = dict(zip(TIER_COLS, got[("a", dtm.datetime(2024, 1, 1, 0, 8))]))
    assert lone["cnt"] == 0 and lone["sum"] is None and lone["first"] is None


def test_tier_store_empty_batch_writes_nothing(spark, tmpdir):
    """An empty batch touches no date: refresh returns 0, creates no store
    and rewrites no file of an existing one."""
    from pathlib import Path

    from afspark.streaming.stream_tier import refresh_tier_store

    empty = spark.createDataFrame([], SCHEMA)
    fresh = f"{tmpdir}/fresh"
    assert refresh_tier_store(spark, fresh, empty, 60) == 0
    assert not Path(fresh).exists()

    store = f"{tmpdir}/tier1m"
    assert refresh_tier_store(spark, store, _grid_points(spark, 6), 60) == 2
    files = _store_files(store)
    assert files
    assert refresh_tier_store(spark, store, empty, 60) == 0
    assert _store_files(store) == files


def test_stream_to_tier_store_restart_is_exactly_once(spark, tmpdir):
    """The production entrypoint end to end: parquet files stream into the
    tier store; after a stop, new files and a restart on the same
    checkpoint, the store equals rollup_points over every file — nothing
    is dropped or counted twice."""
    import json
    from pathlib import Path

    from afspark.operators.rollup import rollup_points
    from afspark.streaming.stream_tier import read_tier_store, stream_to_tier_store

    src, store, ckpt = f"{tmpdir}/in", f"{tmpdir}/tier1m", f"{tmpdir}/ckpt"
    first = _grid_points(spark, 7, days=(1,))
    later = _grid_points(spark, 8, days=(1, 2), minutes=(5, 50))
    first.coalesce(1).write.parquet(src)

    def run():
        q = stream_to_tier_store(spark, src, SCHEMA, store, ckpt, tier_seconds=60)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run()
    assert _tier_rows(read_tier_store(spark, store)) == _tier_rows(rollup_points(first, 60))
    later.coalesce(1).write.mode("append").parquet(src)
    run()

    got = _tier_rows(read_tier_store(spark, store))
    assert got == _tier_rows(rollup_points(first.unionByName(later), 60))
    journal = json.loads((Path(store) / "_applied_batches.json").read_text())
    assert journal["lineage"] == ckpt
    assert set(journal["batches"].values()) == {"committed"}
    assert len(journal["batches"]) == 2


def _write_sample_files(src, series, cuts):
    """Write len(cuts)-1 sequential parquet files of (series_id, seq, value)
    rows, mtime-spaced so the file source processes them in order."""
    import os

    import pandas as pd

    os.makedirs(src, exist_ok=True)
    for i in range(len(cuts) - 1):
        rows = []
        for sid, x in series.items():
            lo, hi = cuts[i], min(cuts[i + 1] or len(x), len(x))
            rows += [(sid, s + 1, float(x[s])) for s in range(lo, hi)]
        p = f"{src}/part{i}.parquet"
        pd.DataFrame(rows, columns=["series_id", "seq", "value"]).to_parquet(p)
        os.utime(p, (1700000000 + i, 1700000000 + i))


def test_streaming_score_bit_exact_vs_batch(spark, tmpdir):
    """Windows straddling micro-batch boundaries: streaming Score ==
    score_local window-for-window, bit-exact, for overlapping windows."""
    import os
    import time as _time

    import numpy as np
    import pandas as pd

    from afspark.functions import kernels as K
    from afspark.streaming.stream_score import streaming_score

    rng = np.random.default_rng(5)
    series = {"a": rng.normal(size=3000), "b": rng.normal(size=2500)}
    winlen, noverlap, fs = 256, 128, 1000.0
    feats = [K.Energy(), K.SoundPressureLevel(), K.PermutationEntropy(3)]

    src = f"{tmpdir}/in"
    # 3 sequential files; cuts NOT aligned to window boundaries
    _write_sample_files(src, series, [0, 1000, 1900, None])

    q = run_to_memory(
        spark, src, "series_id string, seq long, value double",
        lambda s: streaming_score(s, feats, winlen, noverlap, fs),
        "score_stream_t", checkpoint=f"{tmpdir}/ckpt", one_file_per_batch=True,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {}
    for r in spark.sql("select * from score_stream_t").collect():
        got[(r.series_id, r.win_start, r.feature)] = r.value

    n_expected = 0
    for sid, x in series.items():
        for f in feats:
            starts, names, vals = K.score_local(f, x, fs, winlen, noverlap)
            for i, st in enumerate(starts):
                for j, nm in enumerate(names):
                    key = (sid, int(st), nm)
                    assert key in got, key
                    assert got[key] == vals[i, j], key  # bit-exact
                    n_expected += 1
    assert len(got) == n_expected


def test_streaming_samples_to_tier_store_end_to_end(spark, tmpdir):
    """Full streaming pipeline: sample stream -> stateful windowed Score
    -> foreachBatch incremental tier store == batch score + batch rollup."""
    import os

    import numpy as np
    import pandas as pd

    from afspark.functions import kernels as K
    from afspark.operators.rollup import rollup_points
    from afspark.streaming.stream_score import streaming_score
    from afspark.streaming.stream_tier import apply_batch_once, read_tier_store

    rng = np.random.default_rng(9)
    series = {"a": rng.normal(size=4000), "b": rng.normal(size=3000)}
    winlen, noverlap, fs, origin = 256, 0, 10.0, 1_700_000_000
    feats = [K.Energy(), K.ZeroCrossingRate()]

    src = f"{tmpdir}/in"
    _write_sample_files(src, series, [0, 1500, 2600, None])

    store = f"{tmpdir}/tier1m"
    stream = (
        spark.readStream.schema("series_id string, seq long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    scored = streaming_score(stream, feats, winlen, noverlap, fs)
    pts = scored.select(
        F.concat_ws("|", "series_id", "feature").alias("series_id"),
        F.timestamp_seconds(F.lit(origin) + F.col("win_start") / F.lit(fs)).alias("ts"),
        "value",
    )

    def sink(bdf, bid):
        apply_batch_once(spark, store, bdf, bid, 60, lineage="e2e")

    q = (
        pts.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # batch twin: score_local per series -> rollup_points
    rows = []
    for sid, x in series.items():
        for f in feats:
            starts, names, vals = K.score_local(f, x, fs, winlen, noverlap)
            for i, st in enumerate(starts):
                rows.append((f"{sid}|{names[0]}", origin + st / fs, float(vals[i, 0])))
    bpdf = pd.DataFrame(rows, columns=["series_id", "epoch", "value"])
    bdf = spark.createDataFrame(bpdf).select(
        "series_id", F.timestamp_seconds("epoch").alias("ts"), "value"
    )
    want = {
        (r.series_id, r.bucket_ts): (r.cnt, r.sum, r.min, r.max, r.first, r.last)
        for r in rollup_points(bdf, 60).collect()
    }
    got = {
        (r.series_id, r.bucket_ts): (r.cnt, r.sum, r.min, r.max, r.first, r.last)
        for r in read_tier_store(spark, store).collect()
    }
    assert set(got) == set(want) and len(got) > 0
    for k in want:
        g, w = got[k], want[k]
        assert g[0] == w[0] and g[2] == w[2] and g[3] == w[3], k
        assert g[1] == pytest.approx(w[1], rel=1e-12)
        assert g[4] == w[4] and g[5] == w[5], k  # first/last bit-exact


def test_streaming_score_rejects_batch_invalid_args(spark):
    """The stream must refuse exactly the argument domain the batch
    window_starts refuses."""
    from afspark.streaming.stream_score import streaming_score

    df = spark.createDataFrame([], "series_id string, seq long, value double")
    for winlen, noverlap in ((0, 0), (256, -1), (256, 256), (256, 300)):
        with pytest.raises(ValueError):
            streaming_score(df, [], winlen, noverlap)


def test_stream_sessions_match_batch(spark, tmpdir):
    """session_window streaming sessions == batch session_stats on
    second-resolution data, INCLUDING deltas exactly at the gap (stay)
    and gap+1 (split); append mode emits each closed session once."""
    import datetime as dtm

    from afspark.operators.sessions import session_stats
    from afspark.streaming.stream_sessions import stream_session_stats

    t0 = dtm.datetime(2024, 1, 1)
    gap = 60
    rows = []
    for sid, deltas in {
        "a": [0, 30, gap, 90, gap + 1, 5, 200],   # gap keeps, gap+1 splits
        "b": [0, gap + 1, gap + 1, gap],
    }.items():
        sec = 0
        for i, d in enumerate(deltas):
            sec += d
            rows.append((sid, t0 + dtm.timedelta(seconds=sec), float(i)))
    pts = spark.createDataFrame(rows, SCHEMA)
    src = f"{tmpdir}/in"
    pts.coalesce(1).write.mode("overwrite").parquet(src)

    q = run_to_memory(
        spark, src, SCHEMA,
        lambda s: stream_session_stats(s, gap, watermark="0 seconds"),
        "t_sess_stream",
    )
    try:
        q.processAllAvailable()
        # append mode emits only after the watermark passes a session's
        # close: drop a far-future flush row to advance it
        flush = spark.createDataFrame(
            [("zz", t0 + dtm.timedelta(days=30), 0.0)], SCHEMA
        )
        flush.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        q.processAllAvailable()
        got = {
            (r.series_id, r.session_start): (
                r.n, r.session_end, r.duration_s, r.value_sum
            )
            for r in spark.sql("select * from t_sess_stream").collect()
            if r.series_id != "zz"
        }
    finally:
        q.stop()

    want = {
        (r.series_id, r.session_start): (
            r.n, r.session_end, r.duration_s, r.value_sum
        )
        for r in session_stats(pts, gap).collect()
    }
    assert got == want
    assert len(want) == 4 + 3  # a: 4 sessions, b: 3 sessions


def test_stream_ewma_matches_batch_and_sequential(spark, tmpdir):
    """Streaming EWMA continues the recurrence across micro-batch cuts:
    bit-exact vs a sequential numpy loop (it IS the sequential
    recurrence), and == the batch chunk-decomposed operator at its
    documented rtol 1e-12."""
    import datetime as dtm

    import numpy as np

    from afspark.operators.tsanalytics import ewma
    from afspark.streaming.stream_ewma import streaming_ewma

    alpha = 0.11
    t0 = dtm.datetime(2024, 1, 1)
    rng = np.random.default_rng(21)
    rows = []
    for sid in ("a", "b"):
        for i in range(100):
            rows.append(
                (sid, t0 + dtm.timedelta(seconds=int(i * 37)), float(rng.normal()))
            )
    pts = spark.createDataFrame(rows, SCHEMA)
    cut = t0 + dtm.timedelta(seconds=50 * 37)
    src, ckpt = f"{tmpdir}/in", f"{tmpdir}/ckpt"
    pts.filter(F.col("ts") < cut).coalesce(1).write.mode("overwrite").parquet(src)

    q = run_to_memory(
        spark, src, SCHEMA, lambda s: streaming_ewma(s, alpha), "t_ewma_stream",
        checkpoint=ckpt,
    )
    try:
        q.processAllAvailable()
        pts.filter(F.col("ts") >= cut).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        got = {
            (r.series_id, r.ts): r.ewma
            for r in spark.sql("select * from t_ewma_stream").collect()
        }
        # a point before the carried last ts fails the query instead of
        # continuing the recurrence out of order
        late = spark.createDataFrame([("a", t0, 0.0)], SCHEMA)
        late.coalesce(1).write.mode("append").parquet(src)
        with pytest.raises(Exception, match="batch OoO merge path"):
            q.processAllAvailable()
    finally:
        q.stop()
    assert len(got) == len(rows)

    # bit-exact vs the sequential recurrence (pandas ewm with the
    # prepend-zero seed — the identical arithmetic the operators use)
    import pandas as pd

    for sid in ("a", "b"):
        seq = sorted((t, v) for s, t, v in rows if s == sid)
        vals = [v for _, v in seq]
        y = (
            pd.Series([0.0] + vals)
            .ewm(alpha=alpha, adjust=False)
            .mean()
            .to_numpy()[1:]
        )
        for (t, _), yi in zip(seq, y):
            assert got[(sid, t)] == yi, (sid, t)

    # == batch operator at its documented tolerance
    for r in ewma(pts, alpha, chunk_seconds=600).collect():
        assert got[(r.series_id, r.ts)] == pytest.approx(r.ewma, rel=1e-12)


def test_stream_counter_increase_matches_batch(spark, tmpdir):
    """Streaming counter increase == batch counter_increase across
    micro-batch cuts, including a reset landing exactly on the cut, the
    first-sample null, and a NULL value row (null increase around it)."""
    import datetime as dtm

    from afspark.operators.tsanalytics import counter_increase
    from afspark.streaming.stream_ewma import streaming_counter_increase

    t0 = dtm.datetime(2024, 1, 1)
    rows = [
        ("a", t0 + dtm.timedelta(seconds=s), v)
        for s, v in [
            (0, 5.0), (10, 7.0), (20, 3.0), (30, 10.0),   # batch 1 (reset at 20)
            (40, 1.0), (50, 4.0), (60, None), (70, 9.0),  # batch 2 (reset ON cut, null)
        ]
    ] + [("b", t0 + dtm.timedelta(seconds=s), float(s)) for s in range(0, 80, 10)]
    pts = spark.createDataFrame(rows, SCHEMA)
    cut = t0 + dtm.timedelta(seconds=40)
    src, ckpt = f"{tmpdir}/in", f"{tmpdir}/ckpt"
    pts.filter(F.col("ts") < cut).coalesce(1).write.mode("overwrite").parquet(src)
    q = run_to_memory(
        spark, src, SCHEMA, streaming_counter_increase, "t_counter_stream",
        checkpoint=ckpt,
    )
    try:
        q.processAllAvailable()
        pts.filter(F.col("ts") >= cut).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        got = {
            (r.series_id, r.ts): (r.value, r.increase)
            for r in spark.sql("select * from t_counter_stream").collect()
        }
    finally:
        q.stop()
    want = {
        (r.series_id, r.ts): (r.value, r.increase)
        for r in counter_increase(pts).collect()
    }
    assert got == want
    assert want[("a", t0 + dtm.timedelta(seconds=40))][1] == 1.0  # reset on cut
    assert want[("a", t0 + dtm.timedelta(seconds=70))][1] is None  # after null


def test_stream_holt_matches_batch(spark, tmpdir):
    """Streaming Holt == batch holt_linear bit-for-bit across micro-batch
    cuts: the O(1) (l, b) state continues the 2-dim recurrence exactly."""
    import datetime as dtm

    import numpy as np

    from afspark.operators.tsanalytics import holt_linear
    from afspark.streaming.stream_ewma import streaming_holt

    t0 = dtm.datetime(2024, 1, 1)
    rng = np.random.default_rng(13)
    rows = [
        (sid, t0 + dtm.timedelta(seconds=i * 7), float(round(v, 2)))
        for sid in ("a", "b")
        for i, v in enumerate(rng.normal(50, 10, 120))
    ]
    pts = spark.createDataFrame(rows, SCHEMA)
    cut = t0 + dtm.timedelta(seconds=40 * 7)
    src, ckpt = f"{tmpdir}/holt_in", f"{tmpdir}/holt_ckpt"
    pts.filter(F.col("ts") < cut).coalesce(1).write.mode("overwrite").parquet(src)
    q = run_to_memory(
        spark, src, SCHEMA, lambda s: streaming_holt(s, 0.3, 0.1), "t_holt_stream",
        checkpoint=ckpt,
    )
    try:
        q.processAllAvailable()
        pts.filter(F.col("ts") >= cut).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        got = {
            (r.series_id, r.ts): (r.level, r.trend)
            for r in spark.sql("select * from t_holt_stream").collect()
        }
    finally:
        q.stop()
    want = {
        (r.series_id, r.ts): (r.level, r.trend)
        for r in holt_linear(pts, 0.3, 0.1, chunk_seconds=None).collect()
    }
    assert got == want  # bit-exact: same sequential arithmetic


def test_stream_m4_matches_batch_across_cuts(spark, sf_dir, tmpdir):
    """Streaming struct-ordered witnesses == batch min_by/max_by M4,
    including ties split across micro-batches."""
    from afspark.operators.lttb import m4_downsample
    from afspark.streaming.stream_m4 import stream_m4

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = __import__("pyspark").sql.Window.partitionBy("user_id").orderBy(
        "ts", "event_id"
    )
    pts = ev.select(
        F.col("user_id").cast("string").alias("series_id"),
        F.row_number().over(w).cast("long").alias("seq"),
        "ts",
        F.floor(F.col("value") * 100 + 0.5).cast("double").alias("value"),
        F.col("event_id"),
    )
    src = f"{tmpdir}/m4in"
    pts.filter(F.col("event_id") % 2 == 0).drop("event_id").write.mode(
        "overwrite"
    ).parquet(src)
    q = run_to_memory(
        spark, src, "series_id string, seq long, ts timestamp, value double",
        lambda s: stream_m4(s, 3600, watermark="365 days"), "t_m4_stream",
        mode="complete",
    )
    try:
        q.processAllAvailable()
        pts.filter(F.col("event_id") % 2 == 1).drop("event_id").write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        got = {
            (r.series_id, r.bucket_epoch): tuple(r)[2:]
            for r in spark.sql("select * from t_m4_stream").collect()
        }
    finally:
        q.stop()
    want = {
        (r.series_id, r.bucket_epoch): tuple(r)[2:]
        for r in m4_downsample(pts.drop("event_id"), 3600).collect()
    }
    assert got == want

def test_stream_holt_winters_matches_batch(spark, tmpdir):
    """Streaming Holt-Winters == the batch holt_winters_fit sequential
    path bit-for-bit across micro-batch cuts: the O(m) state (level,
    trend, m phase slots) continues the recurrence exactly."""
    import datetime as dtm

    import numpy as np

    from afspark.operators.tsanalytics import holt_winters_fit
    from afspark.streaming.stream_ewma import streaming_holt_winters

    t0 = dtm.datetime(2024, 1, 1)
    rng = np.random.default_rng(17)
    rows = [
        (sid, t0 + dtm.timedelta(seconds=i * 97), float(round(v, 2)))
        for sid in ("a", "b")
        for i, v in enumerate(rng.normal(50, 10, 150))
    ]
    pts = spark.createDataFrame(rows, SCHEMA)
    cut = t0 + dtm.timedelta(seconds=60 * 97)
    src, ckpt = f"{tmpdir}/hw_in", f"{tmpdir}/hw_ckpt"
    pts.filter(F.col("ts") < cut).coalesce(1).write.mode("overwrite").parquet(src)
    q = run_to_memory(
        spark, src, SCHEMA,
        lambda s: streaming_holt_winters(s, 0.3, 0.1, 0.2, 3600, 6),
        "t_hw_stream", checkpoint=ckpt,
    )
    try:
        q.processAllAvailable()
        pts.filter(F.col("ts") >= cut).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        out = spark.sql("select * from t_hw_stream").collect()
    finally:
        q.stop()
    assert len(out) == len(rows)
    # final streamed state per series == batch sequential fit, bit-exact
    last = {}
    for r in sorted(out, key=lambda r: r.ts):
        last[r.series_id] = r
    fit = {
        r.series_id: r
        for r in holt_winters_fit(
            pts, 0.3, 0.1, 0.2, 3600, 6, chunk_seconds=None
        ).collect()
    }
    for sid in ("a", "b"):
        assert last[sid].level == fit[sid].level
        assert last[sid].trend == fit[sid].trend
        # the per-row 'seasonal' is the slot just written; the batch fit
        # carries all slots — the last write must equal that slot's final
        es = int(last[sid].ts.replace(tzinfo=dtm.timezone.utc).timestamp())
        j = (es % 3600) // 600
        assert last[sid].seasonal == fit[sid].seasonals[j]
        assert fit[sid].n == 150


def test_stream_sliding_distinct_matches_batch(spark, tmpdir):
    """Streaming sliding-window distinct (chained stateful aggs, append
    mode) == batch sliding_distinct on closed windows."""
    import datetime as dtm

    from afspark.operators.distinct import sliding_distinct
    from afspark.streaming.stream_sliding import stream_sliding_distinct

    t0 = dtm.datetime(2024, 1, 1)
    rows = []
    for i in range(300):
        rows.append(
            ((i * 13) % 23, t0 + dtm.timedelta(minutes=(i * 37) % 600))
        )
    schema = "user_id long, ts timestamp"
    pts = spark.createDataFrame(rows, schema)
    src = f"{tmpdir}/in_sd"
    # two micro-batches split by TIME: the watermark advances past a
    # window only after every contributing event has arrived (delivering
    # arbitrary out-of-order batches would be legitimately dropped as
    # late — the batch OoO merge is the escape hatch for that)
    cut = t0 + dtm.timedelta(minutes=300)
    pts.filter(F.col("ts") < cut).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)

    q = run_to_memory(
        spark, src, schema,
        lambda s: stream_sliding_distinct(s, 21600, 3600, watermark="0 seconds"),
        "t_sd_stream",
    )
    try:
        q.processAllAvailable()
        pts.filter(F.col("ts") >= cut).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        flush = spark.createDataFrame(
            [(999, t0 + dtm.timedelta(days=30))], schema
        )
        flush.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        q.processAllAvailable()
        got = {
            r.window_start: r.n_distinct
            for r in spark.sql("select * from t_sd_stream").collect()
        }
    finally:
        q.stop()

    want = {
        r["window_start"]: r["n_distinct"]
        for r in sliding_distinct(pts, 21600, 3600).collect()
    }
    assert got == want


def test_stream_recrawl_deltas_match_batch(spark, tmpdir):
    """Streaming recrawl Hamming deltas == batch recrawl_deltas across
    micro-batch cuts, incl. the first-crawl NULL and negative-simhash
    (full 64-bit) patterns."""
    import datetime as dtm

    import numpy as np

    from afspark.operators.recrawl import recrawl_deltas
    from afspark.streaming.stream_recrawl import streaming_recrawl_deltas

    t0 = dtm.datetime(2024, 1, 1)
    rng = np.random.default_rng(5)
    rows = []
    for u in ("u1", "u2", "u3"):
        for i in range(12):
            # full-range 64-bit fingerprints (negative longs included)
            rows.append(
                (u, t0 + dtm.timedelta(hours=i), int(rng.integers(-(2**63), 2**63)))
            )
    schema = "url string, warc_ts timestamp, simhash long"
    pages = spark.createDataFrame(rows, schema)
    cut = t0 + dtm.timedelta(hours=6)
    src, ckpt = f"{tmpdir}/rc_in", f"{tmpdir}/rc_ckpt"
    pages.filter(F.col("warc_ts") < cut).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)

    q = run_to_memory(
        spark, src, schema, streaming_recrawl_deltas, "t_recrawl_stream",
        checkpoint=ckpt,
    )
    try:
        q.processAllAvailable()
        pages.filter(F.col("warc_ts") >= cut).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        got = {
            (r.url, r.warc_ts): (r.prev_sim, r.hamming)
            for r in spark.sql("select * from t_recrawl_stream").collect()
        }
    finally:
        q.stop()
    assert len(got) == len(rows)
    for r in recrawl_deltas(pages).collect():
        assert got[(r.url, r.warc_ts)] == (r.prev_sim, r.hamming), (
            r.url, r.warc_ts,
        )
