"""Compressed chunk store: Gorilla/delta-of-delta chunks as BinaryType rows.

north_rule layout: rolled-up points are stored per (series_id, chunk_start)
as two binary blobs (timestamps + values) plus the row count — the classic
TSDB chunk shape.  Written as parquet partitioned by
``(chunk_date, bucket)`` where bucket = hash(series_id) % n_buckets, so

* a time-range query prunes ``chunk_date`` partitions at the scan, and
* out-of-order repair is surgical: a late batch dynamic-overwrites only
  the (date, bucket) partitions its chunks live in — repair write volume
  is proportional to touched buckets (~1/n_buckets of a day per touched
  series), not to whole days (operators/ooo.py).  At 100TB raise
  n_buckets so one bucket-day is a few GB; Iceberg's MERGE INTO /
  RewriteFiles would replace this with file-grain commits.

``n_buckets`` is recorded in ``_afspark_meta.json`` at the store root
(underscore-prefixed -> invisible to Spark's file index) so readers and
the repair path never guess the layout.

Encode/decode are Arrow-batched pandas UDF passes (one Python call per
group/partition, numpy inside) — no per-row Python.

Timestamp domain: the pandas-UDF boundary converts through nanosecond
precision, so store timestamps must lie in pandas' ns range
(1677-09-21 .. 2262-04-11); the raw codec itself round-trips all int64.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.codec import (
    decode_timestamps,
    decode_values,
    encode_timestamps,
    encode_values,
)

CHUNK_SCHEMA = (
    "series_id string, chunk_start long, n long, ts_blob binary, val_blob binary"
)


def encode_chunks(
    points: DataFrame,
    chunk_seconds: int = 3600,
    series_col: str = "series_id",
    ts_col: str = "ts",
    value_col: str = "value",
    n_partitions: int | None = None,
) -> DataFrame:
    """points -> one row per (series, chunk) with encoded blobs.

    Timestamps are stored as epoch MICROseconds (lossless for parquet/Spark
    timestamps); values as Gorilla-encoded float64 (bit-lossless).
    """
    pts = points.select(
        F.col(series_col).cast("string").alias("series_id"),
        F.col(ts_col).alias("ts"),
        F.col(value_col).cast("double").alias("value"),
    ).withColumn(
        "chunk_start",
        (F.floor(F.unix_timestamp("ts") / chunk_seconds) * chunk_seconds).cast("long"),
    )

    # One shuffle keyed by the chunk key, then a single Arrow pass per
    # partition with IN-PROCESS grouping.  (groupBy().applyInPandas pays
    # one Python/Arrow round-trip per chunk — with many tiny chunks that
    # overhead dominated the encode by ~10x.)  A chunk's rows can span
    # Arrow batches within the partition, so the tail group of each batch
    # is carried into the next one.
    #
    # Partition count from session conf (defaultParallelism floored at
    # spark.sql.shuffle.partitions — the deployment's scale knob).  A
    # blanket x4 factor here cost +45% wall at sf0.1 (128 near-empty
    # shuffle partitions for a one-core-second encode — A/B'd interleaved
    # at matched host probes).  The previous
    # ``points.rdd.getNumPartitions()`` input-tracking term is GONE:
    # under AQE that call executes any upstream shuffle stages as a real
    # job just to read the partition count, so inputs that arrive through
    # an exchange paid their whole upstream plan twice.
    from ..operators._grouped import default_grouped_partitions

    n_parts = n_partitions or default_grouped_partitions(points.sparkSession)
    pre = pts.repartition(n_parts, "series_id", "chunk_start").sortWithinPartitions(
        "series_id", "chunk_start", "ts"
    )

    def encode_groups(pdf: pd.DataFrame) -> pd.DataFrame:
        rows: dict[str, list] = {
            "series_id": [], "chunk_start": [], "n": [], "ts_blob": [], "val_blob": []
        }
        for (sid, cs), g in pdf.groupby(["series_id", "chunk_start"], sort=False):
            ts_us = g["ts"].astype("datetime64[us]").astype("int64").to_numpy()
            vals = g["value"].to_numpy(dtype=np.float64)
            rows["series_id"].append(sid)
            rows["chunk_start"].append(int(cs))
            rows["n"].append(len(vals))
            rows["ts_blob"].append(encode_timestamps(ts_us))
            rows["val_blob"].append(encode_values(vals))
        return pd.DataFrame(rows)

    def encode_iter(batches):
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if len(pdf) == 0:
                continue
            last_sid = pdf["series_id"].iloc[-1]
            last_cs = pdf["chunk_start"].iloc[-1]
            tail = (pdf["series_id"] == last_sid) & (pdf["chunk_start"] == last_cs)
            carry = pdf[tail]
            head = pdf[~tail]
            if len(head):
                yield encode_groups(head)
        if carry is not None and len(carry):
            yield encode_groups(carry)

    return pre.mapInPandas(encode_iter, CHUNK_SCHEMA)


def decode_chunks(chunks: DataFrame) -> DataFrame:
    """chunks -> points(series_id, ts, value); inverse of encode_chunks."""

    def decode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            frames = []
            for r in pdf.itertuples(index=False):
                n = int(r.n)
                ts = decode_timestamps(bytes(r.ts_blob), n).astype("datetime64[us]")
                vals = decode_values(bytes(r.val_blob), n)
                frames.append(
                    pd.DataFrame(
                        {"series_id": r.series_id, "ts": ts, "value": vals}
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return chunks.mapInPandas(decode, "series_id string, ts timestamp, value double")


N_BUCKETS_DEFAULT = 16


def bucket_expr(series_col, n_buckets: int):
    """Stable series -> partition bucket (hash-mod, layout contract)."""
    return F.pmod(F.xxhash64(series_col), F.lit(n_buckets)).cast("int")


def write_store_meta(path: str, n_buckets: int, chunk_seconds: int) -> None:
    import json
    from pathlib import Path

    Path(path).mkdir(parents=True, exist_ok=True)
    (Path(path) / "_afspark_meta.json").write_text(
        json.dumps({"n_buckets": n_buckets, "chunk_seconds": chunk_seconds})
    )


def read_store_meta(path: str) -> dict:
    import json
    from pathlib import Path

    p = Path(path) / "_afspark_meta.json"
    if not p.exists():  # pre-bucketed legacy layout
        return {"n_buckets": None, "chunk_seconds": None}
    return json.loads(p.read_text())


def write_chunk_store(
    points: DataFrame,
    path: str,
    chunk_seconds: int = 3600,
    mode: str = "overwrite",
    n_buckets: int = N_BUCKETS_DEFAULT,
) -> None:
    """Encode and persist, partitioned by (chunk_date, series bucket)."""
    chunks = encode_chunks(points, chunk_seconds)
    (
        chunks.withColumn(
            "chunk_date", F.to_date(F.timestamp_seconds(F.col("chunk_start")))
        )
        .withColumn("bucket", bucket_expr(F.col("series_id"), n_buckets))
        .write.mode(mode)
        .partitionBy("chunk_date", "bucket")
        .parquet(path)
    )
    write_store_meta(path, n_buckets, chunk_seconds)


def read_chunk_store(spark: SparkSession, path: str) -> DataFrame:
    # explicit schema: a fully-expired store (all chunk_date partitions
    # aged out) must read back as EMPTY, not fail schema inference
    return spark.read.schema(CHUNK_SCHEMA + ", chunk_date date, bucket int").parquet(
        path
    )


def read_points(spark: SparkSession, path: str) -> DataFrame:
    return decode_chunks(read_chunk_store(spark, path))


def read_points_range(
    spark: SparkSession, path: str, start_date: str, end_date: str
) -> DataFrame:
    """Time-range read with partition pruning on chunk_date.

    The filter hits the partition column, so Spark lists only the
    matching chunk_date directories — the decode pass never sees other
    chunks (tested via inputFiles()).
    """
    chunks = spark.read.parquet(path).filter(
        (F.col("chunk_date") >= start_date) & (F.col("chunk_date") <= end_date)
    )
    return decode_chunks(chunks)


def apply_retention(
    spark: SparkSession,
    policies: dict[str, tuple[str, int]],
    today: str,
) -> dict[str, int]:
    """Enforce a per-tier retention policy across a set of tier/chunk
    stores: ``policies`` maps a label to (store_path, keep_days).

    The TimescaleDB-style policy table made explicit: raw points keep
    e.g. 7 days, the 1m tier 90, the 1h tier 365, coarser tiers forever
    (keep_days < 0 disables expiry).  Each store drops whole
    ``chunk_date=`` partitions older than today - keep_days — directory
    deletes, no data rewrite (expire_chunks).  Returns partitions removed
    per label.  ``today`` is explicit (no wall-clock read) so runs are
    deterministic and replayable.
    """
    import datetime as _dt

    t = _dt.date.fromisoformat(today)
    removed: dict[str, int] = {}
    for label, (path, keep_days) in policies.items():
        if keep_days < 0:
            removed[label] = 0
            continue
        cutoff = (t - _dt.timedelta(days=keep_days)).isoformat()
        removed[label] = expire_chunks(spark, path, cutoff)
    return removed


def compact_chunks(
    spark: SparkSession,
    path: str,
    target_files: int = 1,
    sort_within=None,
) -> int:
    """Small-file compaction: rewrite (chunk_date, bucket) partitions that
    hold more than ``target_files`` parquet files into ``target_files``.

    ``sort_within`` (optional list of column names / Column expressions)
    additionally CLUSTERS each rewritten partition: rows are sorted inside
    the task before the writer's maxRecordsPerFile cuts files, so every
    output file covers a contiguous key slice and its parquet footer
    min/max becomes a real pruning index.  ``["series_id", "chunk_start"]``
    optimizes single-series range reads (tight series envelopes, then
    time); ``[zorder.zvalue(...)]`` trades a little of each dimension for
    pruning on EITHER (see sources/zorder.py).  Compaction is the natural
    place to cluster — it is the one pass that already rewrites the rows.

    Streaming 1m-tier commits and OoO repairs append small files; at scale
    a store partition accumulating hundreds of them collapses scan
    throughput (task-per-file scheduling + parquet footer overhead).
    Compaction is pure file-level maintenance — rows are preserved
    exactly; merging PARTIAL chunks for the same (series_id, chunk_start)
    is the OoO merge's job (ooo.merge_out_of_order re-encodes), not ours.

    Scale shape: the partition listing comes from store metadata (here the
    directory tree; Iceberg's manifests on a real deployment), the rewrite
    reads ONLY the touched partitions (predicate on partition columns ->
    pruned listing), repartitions by the partition key so each task owns
    whole output partitions, and commits via dynamic-partition overwrite —
    untouched partitions stay byte-identical (tested).

    Returns the number of partition directories rewritten.
    """
    from pathlib import Path

    root = Path(path)
    touched: list[tuple[str, str]] = []
    for datedir in sorted(root.glob("chunk_date=*")):
        for bdir in sorted(datedir.glob("bucket=*")):
            if len(list(bdir.glob("*.parquet"))) > target_files:
                touched.append(
                    (datedir.name.split("=", 1)[1], bdir.name.split("=", 1)[1])
                )
    if not touched:
        return 0
    keys = [f"{d}/{b}" for d, b in touched]
    key_col = F.concat_ws(
        "/", F.col("chunk_date").cast("string"), F.col("bucket").cast("string")
    )
    df = read_chunk_store(spark, path).filter(key_col.isin(keys))
    # LOAD-BEARING shuffle: this job reads and dynamically overwrites the
    # SAME parquet path.  The repartition() materializes every input row
    # into shuffle files BEFORE commit-time partition deletion, so the
    # write never reads a file the overwrite already deleted.  A refactor
    # to coalesce()/no-shuffle would silently reintroduce that race —
    # keep a shuffle boundary (or checkpoint/persist the read) here.
    clustered = df.repartition(max(1, len(touched)), "chunk_date", "bucket")
    if sort_within:
        # partition columns lead the sort so a task holding several
        # (chunk_date, bucket) partitions still emits each one contiguous
        clustered = clustered.sortWithinPartitions(
            "chunk_date", "bucket", *sort_within
        )
    writer = clustered.write.mode("overwrite").partitionBy("chunk_date", "bucket")
    if target_files > 1:
        # repartitioning on the partition key puts each (chunk_date,
        # bucket) wholly in one task (=> one file); the DETERMINISTIC way
        # to split a large partition into ~target_files files is the
        # writer's maxRecordsPerFile, sized from the largest touched
        # partition (salt-based task splitting only splits when the hash
        # happens to separate the salts — not a guarantee)
        import math

        biggest = (
            df.groupBy("chunk_date", "bucket").count().agg(F.max("count")).first()[0]
        ) or 1
        writer = writer.option(
            "maxRecordsPerFile", max(1, math.ceil(biggest / target_files))
        )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        writer.parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return len(touched)


def expire_chunks(spark: SparkSession, path: str, older_than_date: str) -> int:
    """Retention enforcement: drop date partitions older than the cutoff.

    Returns the number of partition directories removed.  Implemented as
    directory-level deletes of expired date partitions — the parquet
    analog of Iceberg's expire-snapshots/delete-partition; no data
    rewrite, surviving partitions untouched.  Handles both store layouts:
    chunk stores (``chunk_date=``) and streaming tier stores
    (``bucket_date=``, stream_tier.py).
    """
    import shutil
    from pathlib import Path

    root = Path(path)
    removed = 0
    for pattern in ("chunk_date=*", "bucket_date=*"):
        for p in sorted(root.glob(pattern)):
            date = p.name.split("=", 1)[1]
            if date < older_than_date:
                shutil.rmtree(p)
                removed += 1
    return removed
