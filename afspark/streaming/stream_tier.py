"""The date-partitioned tier store: layout, late-data merge, retention and
compaction.

One layout for every tier: ``{store}/bucket_date=D/`` parquet holding the
``TIER_SCHEMA`` columns, ``D = to_date(bucket_ts)`` in the engine's UTC
session.  ``jobs/rollup_job.py`` writes it (one resumable unit per 1m
date), ``apply_batch_once`` merges late and out-of-order points into it,
``jobs/maintenance_job.py`` retains (``apply_retention``) and compacts
(``compact_tier_store``) it, and the range readers prune it through
``clip_buckets``.

Late data: each micro-batch runs BATCH code (foreachBatch), merging the
batch into the store with refresh_tier_store — one shuffle that
re-aggregates the batch's points together with the committed rows of
every date the batch touches.  Full tier schema including first/last,
bounded state (the store is on disk, not in the stream), and arbitrarily
late data handled by the same associative algebra as
refresh_tier_incremental.  A store holds one tier and a batch changes
only that store: apply each late batch to EVERY tier store, with its
width (jobs/rollup_job.py), or the coarser stores go stale against
``rollup.audit_tier_consistency``.

Delivery semantics: foreachBatch may redeliver a batch after a failure;
the merge is NOT idempotent (counts would double), so batch ids are
journaled in the store (`_applied_batches.json`, atomic replace) with a
TWO-PHASE record: `intent` before the merge, `committed` after.
Committed redeliveries are skipped.  A redelivery that finds a dangling
`intent` (crash inside the merge-commit window) raises instead of
guessing — without transactional storage (Iceberg MERGE) it cannot be
known whether the partial merge landed, and a detectable stall beats
silent double-counting.  Remediation: ``rollup.audit_tier_consistency``
against the next coarser tier finds the dates; recompute them from the
raw points with ``rollup_points``, overwrite those ``bucket_date``
partitions, and clear the entry.  Batch ids are only meaningful
within one streaming-checkpoint lineage, so the journal is bound to the
checkpoint location and refuses a mismatched one (a checkpoint-less
restart would replay ids from 0 and silently drop new data).
"""

from __future__ import annotations

import contextlib
import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TIER_SCHEMA = (
    "series_id string, bucket_ts timestamp, cnt bigint, sum double, "
    "min double, max double, avg double, first double, last double, "
    "first_ts timestamp, last_ts timestamp"
)


def read_tier_store(spark: SparkSession, path: str) -> DataFrame:
    p = Path(path)
    if not any(p.glob("bucket_date=*")):
        return spark.createDataFrame([], TIER_SCHEMA + ", bucket_date date")
    return spark.read.schema(TIER_SCHEMA + ", bucket_date date").parquet(path)


def clip_buckets(df: DataFrame, t0_epoch: int, t1_epoch: int) -> DataFrame:
    """Tier rows with ``bucket_ts`` in [t0, t1).  On a frame with a
    ``bucket_date`` column (``read_tier_store``) the same bounds also give
    a partition predicate, so the scan lists only the covered dates.

    The dates are UTC, as ``F.to_date`` gives them in the engine's session
    (session.py pins spark.sql.session.timeZone=UTC)."""
    import datetime as _dt

    out = df.filter(
        (F.col("bucket_ts") >= F.timestamp_seconds(F.lit(int(t0_epoch))))
        & (F.col("bucket_ts") < F.timestamp_seconds(F.lit(int(t1_epoch))))
    )
    if "bucket_date" not in df.columns:
        return out
    d0, d1 = (
        _dt.datetime.fromtimestamp(int(t), tz=_dt.timezone.utc).date()
        for t in (t0_epoch, t1_epoch)
    )
    return out.filter((F.col("bucket_date") >= d0) & (F.col("bucket_date") <= d1))


def _dates(path: str) -> list[tuple[str, Path]]:
    return [(p.name.split("=", 1)[1], p) for p in sorted(Path(path).glob("bucket_date=*"))]


def apply_retention(path: str, keep_days: int, today: str) -> int:
    """Drop the ``bucket_date=`` partitions older than today - keep_days
    (keep_days < 0 keeps everything).  Directory deletes, no data rewrite,
    surviving partitions untouched.  ``today`` is explicit (no wall-clock
    read) so runs are deterministic and replayable.  Returns the number of
    partitions removed."""
    import datetime as _dt
    import shutil

    if keep_days < 0:
        return 0
    cutoff = (_dt.date.fromisoformat(today) - _dt.timedelta(days=keep_days)).isoformat()
    expired = [p for d, p in _dates(path) if d < cutoff]
    for p in expired:
        shutil.rmtree(p)
    return len(expired)


def compact_tier_store(
    spark: SparkSession,
    path: str,
    target_files: int = 1,
    sort_within=None,
) -> int:
    """Small-file compaction: rewrite every ``bucket_date`` partition that
    holds more than ``target_files`` parquet files into at most that many.
    Rows are preserved exactly; partitions at or under the target keep
    their files byte-identical.

    ``sort_within`` (column names / Column expressions) also CLUSTERS each
    rewritten partition: rows are sorted inside the task before the
    writer's maxRecordsPerFile cuts files, so each file covers a contiguous
    key slice and its parquet footer min/max prunes (``["series_id",
    "bucket_ts"]`` for single-series range reads, a ``zorder.zvalue`` key
    for either dimension).  Returns the number of partitions rewritten.
    """
    import datetime as _dt
    import math

    touched = [
        _dt.date.fromisoformat(d)
        for d, p in _dates(path)
        if len(list(p.glob("*.parquet"))) > target_files
    ]
    if not touched:
        return 0
    df = read_tier_store(spark, path).filter(F.col("bucket_date").isin(touched))
    # LOAD-BEARING shuffle: this job reads and dynamically overwrites the
    # SAME parquet path.  The repartition() materializes every input row
    # into shuffle files BEFORE commit-time partition deletion, so the
    # write never reads a file the overwrite already deleted.  A refactor
    # to coalesce()/no-shuffle would silently reintroduce that race —
    # keep a shuffle boundary (or checkpoint/persist the read) here.
    clustered = df.repartition(len(touched), "bucket_date")
    if sort_within:
        # the partition column leads so a task holding several dates still
        # emits each one contiguously
        clustered = clustered.sortWithinPartitions("bucket_date", *sort_within)
    # the repartition puts each date wholly in one task (one file); the
    # deterministic way to split it into ~target_files files is the
    # writer's maxRecordsPerFile, sized from the largest touched date
    biggest = df.groupBy("bucket_date").count().agg(F.max("count")).first()[0] or 1
    (
        clustered.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", math.ceil(biggest / target_files))
        .partitionBy("bucket_date")
        .parquet(path)
    )
    return len(touched)


def _merge_tier_rows(
    committed: DataFrame,
    new_points: DataFrame,
    tier_seconds: int,
    keys: list[str],
    n_dates: int,
) -> DataFrame:
    """Committed tier rows (with ``bucket_date``) + raw points -> the merged
    rows of every touched date, in one shuffle.

    Each point becomes a one-point tier row: ``cnt`` 1 for a non-null value
    else 0, ``sum/min/max/first/last`` = value, ``first_ts/last_ts`` = ts —
    what ``rollup_points`` gives for that point alone.  ``rollup_tier`` over
    (bucket_date, keys, bucket_ts) then merges them with the committed rows.
    An untouched bucket is one committed row, and re-aggregating one row
    returns it bit for bit.
    """
    from ..operators.rollup import bucket_ts, rollup_tier

    v, ts = F.col("value"), F.col("ts")
    bucket = bucket_ts(ts, tier_seconds)
    batch_rows = new_points.select(
        *keys,
        bucket.alias("bucket_ts"),
        v.isNotNull().cast("long").alias("cnt"),
        v.alias("sum"),
        v.alias("min"),
        v.alias("max"),
        v.alias("first"),
        v.alias("last"),
        ts.alias("first_ts"),
        ts.alias("last_ts"),
        F.to_date(bucket).alias("bucket_date"),
    )
    merged = committed.select(*batch_rows.columns).unionByName(batch_rows)
    # LOAD-BEARING shuffle (as in compact_tier_store): the store
    # writer reads and dynamically overwrites the same path; this
    # repartition is the merge's only Exchange and materializes every
    # committed row into shuffle files before the overwrite deletes their
    # source partitions.  Do not refactor to coalesce()/no-shuffle.  The
    # aggregate reuses the bucket_date clustering (no second Exchange),
    # which also keeps each date in one task, so one file per date.
    return rollup_tier(
        merged.repartition(n_dates, "bucket_date"),
        tier_seconds,  # re-floor of a floored bucket_ts: identity
        ["bucket_date", *keys],
    )


def refresh_tier_store(
    spark: SparkSession,
    path: str,
    new_points: DataFrame,
    tier_seconds: int,
    keys: list[str] = ["series_id"],
) -> int:
    """Merge a batch of raw points into the date-partitioned tier store.

    Touched dates are derived from the batch (tiny collect of distinct
    bucket dates); the committed read is partition-pruned to those dates;
    ``_merge_tier_rows`` re-aggregates those dates' committed rows with the
    batch in one shuffle, and the result replaces exactly those partitions
    via dynamic overwrite.  Untouched date partitions are never read or
    written.

    The writer rewrites whole date partitions anyway, so unlike
    ``refresh_tier_incremental`` it needs no touched-bucket locate
    (broadcast semi/anti-join) and no separate delta aggregate.
    Returns the number of touched date partitions.
    """
    from ..operators.rollup import bucket_ts

    new_points = new_points.persist()
    try:
        dates = [
            r.d
            for r in new_points.select(
                F.to_date(bucket_ts(F.col("ts"), tier_seconds)).alias("d")
            )
            .distinct()
            .collect()
        ]
        if not dates:
            return 0
        committed = read_tier_store(spark, path).filter(
            F.col("bucket_date").isin(dates)
        )
        merged = _merge_tier_rows(committed, new_points, tier_seconds, keys, len(dates))
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            # LOAD-BEARING shuffle (see _merge_tier_rows): the job reads
            # and dynamically overwrites the same path.
            merged.write.mode("overwrite").partitionBy("bucket_date").parquet(path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        return len(dates)
    finally:
        new_points.unpersist()


def _journal_path(path: str) -> Path:
    return Path(path) / "_applied_batches.json"


def _read_journal(path: str) -> dict:
    p = _journal_path(path)
    if not p.exists():
        return {"lineage": None, "batches": {}}
    data = json.loads(p.read_text())
    if isinstance(data, list):  # pre-two-phase layout: all were committed
        return {"lineage": None, "batches": {str(b): "committed" for b in data}}
    return data


def _write_journal(path: str, journal: dict) -> None:
    import os

    p = _journal_path(path)
    p.parent.mkdir(parents=True, exist_ok=True)
    tmp = p.with_suffix(".json.tmp")
    tmp.write_text(json.dumps(journal, sort_keys=True))
    os.replace(tmp, p)  # atomic: the journal is never observed half-written


@contextlib.contextmanager
def _journal_lock(path: str):
    """Exclusive advisory lock serializing the journal's read-modify-write.

    Hardens the single-writer contract on POSIX filesystems: a second
    concurrent writer (a misconfigured duplicate stream, an ad hoc batch
    job pointed at the same store) fails fast with a clear error instead
    of racing the journal read-modify-write.  Held across the whole
    intent -> merge -> commit span so interleaved writers can't see a
    half-applied journal.  Advisory only: object stores / filesystems
    without flock keep the lineage tripwire as the remaining guard
    (import-gated, never blocks the happy path)."""
    p = Path(path)
    p.mkdir(parents=True, exist_ok=True)
    try:
        import fcntl
    except ImportError:  # non-POSIX: lineage tripwire only
        yield
        return
    with open(p / "_journal.lock", "w") as fh:
        try:
            fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError as e:
            raise RuntimeError(
                f"another writer holds the journal lock for {path}: exactly "
                "one stream/batch writer may target a tier store at a time "
                "(see the single-writer contract in apply_batch_once)"
            ) from e
        try:
            yield
        finally:
            fcntl.flock(fh, fcntl.LOCK_UN)


def apply_batch_once(
    spark: SparkSession,
    path: str,
    batch_df: DataFrame,
    batch_id: int,
    tier_seconds: int,
    keys: list[str] = ["series_id"],
    lineage: str | None = None,
) -> bool:
    """foreachBatch body: merge the batch unless its id was already
    committed.  Two-phase journal (see module docstring): a dangling
    intent from a crash raises rather than double-applying; a lineage
    (checkpoint location) mismatch raises rather than colliding batch
    ids from a different stream.  Returns True if applied.

    SINGLE-WRITER contract: exactly ONE stream may target a given store
    path at a time (Structured Streaming's checkpoint lock guarantees
    this for one query; do not point a second query or an ad hoc batch
    job at the same path concurrently).  The whole intent -> merge ->
    commit span runs under an exclusive flock (``_journal_lock``), so on
    a POSIX store a second concurrent writer fails fast instead of
    racing the journal's read-modify-write; where flock is unavailable
    the lineage check remains as a tripwire."""
    with _journal_lock(path):
        journal = _read_journal(path)
        if lineage is not None:
            if journal["lineage"] not in (None, lineage):
                raise RuntimeError(
                    f"tier store {path} was written by checkpoint lineage "
                    f"{journal['lineage']!r}; refusing batch ids from {lineage!r} "
                    "— batch ids are only comparable within one checkpoint"
                )
            journal["lineage"] = lineage
        state = journal["batches"].get(str(batch_id))
        if state == "committed":
            return False
        if state == "intent":
            raise RuntimeError(
                f"batch {batch_id} has a dangling intent in {path}: a previous "
                "attempt crashed inside the merge-commit window and it is unknown "
                "whether its partial merge landed. Find the affected dates with "
                "rollup.audit_tier_consistency, recompute them from the raw points "
                "with rollup_points, overwrite those bucket_date partitions, then "
                "clear the entry from _applied_batches.json"
            )
        journal["batches"][str(batch_id)] = "intent"
        _write_journal(path, journal)
        refresh_tier_store(spark, path, batch_df, tier_seconds, keys)
        journal["batches"][str(batch_id)] = "committed"
        _write_journal(path, journal)
        return True


def stream_to_tier_store(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    store_path: str,
    checkpoint_dir: str,
    tier_seconds: int = 3600,
):
    """File-source stream -> incremental tier store via foreachBatch.

    ``checkpoint_dir`` is REQUIRED: without a checkpoint the source
    restarts numbering batches from 0, and previously-journaled ids would
    silently swallow never-before-seen data."""
    if not checkpoint_dir:
        raise ValueError("checkpoint_dir is required (batch-id lineage)")
    stream = spark.readStream.schema(schema).parquet(source_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        apply_batch_once(
            spark, store_path, batch_df, batch_id, tier_seconds,
            lineage=checkpoint_dir,
        )

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
