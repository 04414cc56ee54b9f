"""Per-partition lineage + metrics checkpoint; kill-resume without recompute.

north_rule: every rollup stage records (stage, partition_key) completion
with row counts, timings and an input fingerprint in a checkpoint table;
a killed job resumes from the last committed state and never reprocesses
a completed partition.

On plain parquet the checkpoint table is an append-only log directory
(one small parquet file per completion — the commit unit); with Iceberg
the same rows would carry the snapshot id of the data commit.  The data
itself is written unit-at-a-time (a directory per unit, or the hive
partitions a unit owns), so a data write and its log row form an
idempotent pair: a crash between them just re-runs that one unit.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LOG_SCHEMA = (
    "stage string, partition_key string, rows long, wall_ms long, "
    "input_fingerprint string, committed_at timestamp, run_id string"
)


class CheckpointLog:
    """Append-only parquet log of completed (stage, partition) units."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def completed(self, stage: str) -> set[str]:
        try:
            df = self.spark.read.schema(LOG_SCHEMA).parquet(self.path)
        except Exception:  # noqa: BLE001 — empty/missing log
            return set()
        rows = (
            df.filter(F.col("stage") == stage)
            .select("partition_key")
            .distinct()
            .collect()
        )
        return {r.partition_key for r in rows}

    def record(
        self,
        stage: str,
        partition_key: str,
        rows: int,
        wall_ms: int,
        input_fingerprint: str = "",
        run_id: str = "",
    ) -> None:
        pdf = self.spark.createDataFrame(
            [
                (
                    stage,
                    partition_key,
                    rows,
                    wall_ms,
                    input_fingerprint,
                    None,
                    run_id or str(uuid.uuid4()),
                )
            ],
            LOG_SCHEMA,
        ).withColumn("committed_at", F.current_timestamp())
        pdf.coalesce(1).write.mode("append").parquet(self.path)

    def metrics(self) -> DataFrame:
        return self.spark.read.schema(LOG_SCHEMA).parquet(self.path)


def run_resumable(
    spark: SparkSession,
    stage: str,
    partition_keys: list[str],
    process_fn,
    out_path: str,
    log: CheckpointLog,
    fingerprint_fn=None,
    partition_by: list[str] | None = None,
) -> dict:
    """Process partitions idempotently; skip ones already in the log.

    ``process_fn(partition_key) -> DataFrame`` produces that partition's
    output.  Without ``partition_by`` it is written to
    ``{out_path}/part_key={key}``.  With ``partition_by`` it is written
    into ``out_path`` itself, hive-partitioned by those columns, by
    DYNAMIC overwrite: the unit replaces exactly the partitions its rows
    fall in, so units that own disjoint partition values share one store
    and a re-run unit rewrites only its own partitions.  The row count
    comes from an Observation on the write (no readback job; an empty
    unit commits 0 rows).  Returns run stats
    {"processed": [...], "skipped": [...]}.
    """
    from pyspark.sql import Observation

    done = log.completed(stage)
    processed, skipped = [], []
    run_id = str(uuid.uuid4())
    for key in partition_keys:
        if key in done:
            skipped.append(key)
            continue
        t0 = time.time()
        obs = Observation()
        writer = process_fn(key).observe(obs, F.count(F.lit(1)).alias("rows")).write
        if partition_by:
            (
                writer.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(*partition_by)
                .parquet(out_path)
            )
        else:
            writer.mode("overwrite").parquet(f"{out_path}/part_key={key}")
        n = obs.get["rows"]
        fp = fingerprint_fn(key) if fingerprint_fn else ""
        log.record(stage, key, n, int((time.time() - t0) * 1000), fp, run_id)
        processed.append(key)
    return {"processed": processed, "skipped": skipped, "run_id": run_id}
