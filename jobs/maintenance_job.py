"""Production store-maintenance job — the scheduled companion to
jobs/rollup_job.py.

A running deployment accretes three kinds of debt that no query fixes:
small files (the rollup job's per-task output files and every late
batch's rewritten dates), expired data (tiers past their retention
window), and dead metadata (superseded manifests + orphaned snapshot
dirs in the snapshot store).  This job runs the three maintenance passes
the engine already ships, in the order a deployment wants them:

1. **retention** — drop whole ``bucket_date=`` partitions of each tier
   store past --retention-days (directory deletes, no rewrite;
   stream_tier.apply_retention) so the compaction pass never rewrites
   bytes that are about to die.  Keep-days differ per tier, so run the
   job once per tier store;
2. **compaction** — rewrite the date partitions holding more than
   --target-files parquet files (stream_tier.compact_tier_store),
   optionally CLUSTERING rows while at it (--cluster series:
   [series_id, bucket_ts] sort for single-series range reads; --cluster
   zorder: Morton key over (series-hash, hour of bucket_ts) for
   either-dimension footer pruning — see sources/zorder.py);
3. **snapshot expiry** — keep the newest --keep-snapshots manifests of
   each snapshot store, delete unreferenced data files, sweep orphaned
   snapshot dirs older than the in-flight grace window.

Each pass prints one JSON line (machine-parseable job log).  All passes
are idempotent: re-running against an already-maintained store is a
no-op, so a cron/Airflow retry is always safe.  The single-writer
assumption of the underlying stores applies — schedule this job so it
does not race the rollup/streaming writer on the same store (the same
rule real Iceberg maintenance follows).

Run on a cluster:

    PYFILES=$(python -c "from afspark.session import package_zip; print(package_zip())")
    spark-submit --py-files "$PYFILES" jobs/maintenance_job.py \\
        --store /data/tiers/tier=1m --retention-days 35 --today 2024-02-05 \\
        --target-files 4 --cluster series \\
        --snapshot-store /data/snapstore --keep-snapshots 3
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def cluster_sort(mode: str):
    if mode == "none":
        return None
    if mode == "series":
        return ["series_id", "bucket_ts"]
    if mode == "zorder":
        from afspark.sources.zorder import zvalue

        # 8 bits of series-hash x hour of bucket_ts (0..23, no wrap inside
        # the daily partition): either-dimension footer pruning inside a
        # bucket_date partition
        return [
            zvalue(
                F.pmod(F.xxhash64("series_id"), F.lit(256)),
                F.floor(F.pmod(F.unix_timestamp("bucket_ts"), F.lit(86400)) / 3600),
                bits=8,
            )
        ]
    raise SystemExit(f"unknown --cluster mode: {mode}")


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--store", action="append", default=[],
                   help="tier store path (repeatable)")
    p.add_argument("--retention-days", type=int, default=-1,
                   help="drop date partitions older than today - N days "
                        "(-1 = no retention pass)")
    p.add_argument("--today", default=None,
                   help="retention anchor date YYYY-MM-DD (required when "
                        "--retention-days >= 0; explicit so runs are "
                        "deterministic and replayable)")
    p.add_argument("--target-files", type=int, default=0,
                   help="compact partitions to at most N files (0 = no "
                        "compaction pass)")
    p.add_argument("--cluster", choices=["none", "series", "zorder"],
                   default="none",
                   help="cluster rows while compacting (see module doc)")
    p.add_argument("--snapshot-store", action="append", default=[],
                   help="manifest-pinned snapshot store root (repeatable)")
    p.add_argument("--keep-snapshots", type=int, default=3)
    p.add_argument("--orphan-grace-seconds", type=float, default=3600.0)
    args = p.parse_args(argv)

    if not args.store and not args.snapshot_store:
        p.error("nothing to do: pass --store and/or --snapshot-store")
    if args.retention_days >= 0 and not args.today:
        p.error("--retention-days requires --today (deterministic anchor)")
    if args.cluster != "none" and args.target_files <= 0:
        p.error("--cluster requires --target-files > 0 (clustering happens "
                "inside the compaction rewrite)")

    spark = None
    if args.store and args.target_files > 0:
        from afspark.session import get_session

        spark = get_session(app_name="afspark-maintenance")

    from afspark.streaming.stream_tier import apply_retention, compact_tier_store

    for store in args.store:
        if args.retention_days >= 0:
            removed = apply_retention(store, args.retention_days, args.today)
            print(json.dumps({"pass": "retention", "store": store,
                              "partitions_removed": removed}), flush=True)
        if args.target_files > 0:
            rewritten = compact_tier_store(
                spark, store, target_files=args.target_files,
                sort_within=cluster_sort(args.cluster),
            )
            print(json.dumps({"pass": "compaction", "store": store,
                              "partitions_rewritten": rewritten,
                              "cluster": args.cluster}), flush=True)

    from afspark.sources.manifest import expire_snapshots

    for snap in args.snapshot_store:
        stats = expire_snapshots(
            snap, keep_last=args.keep_snapshots,
            orphan_grace_seconds=args.orphan_grace_seconds,
        )
        print(json.dumps({"pass": "snapshot_expiry", "store": snap, **stats}),
              flush=True)


if __name__ == "__main__":
    main()
