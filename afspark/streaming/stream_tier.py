"""Streaming-maintained tier store: foreachBatch + incremental refresh.

stream_rollup_1m (stream_rollup.py) is the pure watermarked-aggregation
twin, but it cannot carry order-dependent aggregates (first/last) and its
complete-mode state grows with the tier.  This module is the production
shape instead: each micro-batch runs BATCH code (foreachBatch), merging
the batch into a persistent, date-partitioned tier store with
refresh_tier_store — one shuffle that re-aggregates the batch's points
together with the committed rows of every date the batch touches.  Full
tier schema including first/last, bounded state (the store is on disk,
not in the stream), and arbitrarily late data handled by the same
associative algebra as refresh_tier_incremental and the batch OoO path.

Delivery semantics: foreachBatch may redeliver a batch after a failure;
the merge is NOT idempotent (counts would double), so batch ids are
journaled in the store (`_applied_batches.json`, atomic replace) with a
TWO-PHASE record: `intent` before the merge, `committed` after.
Committed redeliveries are skipped.  A redelivery that finds a dangling
`intent` (crash inside the merge-commit window) raises instead of
guessing — without transactional storage (Iceberg MERGE) it cannot be
known whether the partial merge landed, and a detectable stall beats
silent double-counting; remediation is to rebuild the touched dates via
the batch/OoO path and clear the entry.  Batch ids are only meaningful
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
    # LOAD-BEARING shuffle (see chunkstore.compact_chunks): the store
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
                "whether its partial merge landed. Rebuild the touched dates from "
                "the batch/OoO path, then clear the entry from _applied_batches.json"
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
