"""Production rollup job — the north_rule deployment contract, runnable.

Pages -> windowed kernel scores -> all retention tiers, written as the
date-partitioned tier store (``{out}/tier=<name>/bucket_date=D/``, the
layout of streaming/stream_tier.py that apply_batch_once merges late
data into and jobs/maintenance_job.py retains and compacts), RESUMABLE:
the 1m stage is split into one unit per UTC bucket date, each unit's
completion is recorded with rows/timing in the CheckpointLog
(streaming/checkpoint.py), and a killed or re-run job skips every
committed unit — only the unit in flight at the kill is redone (unit D
dynamic-overwrites only ``bucket_date=D``, so the data write + log row
form an idempotent pair).

Run it the way the north_rule says (any Spark cluster):

    PYFILES=$(python -c "from afspark.session import package_zip; print(package_zip())")
    spark-submit --py-files "$PYFILES" jobs/rollup_job.py \\
        --pages /data/pages.parquet --out /data/tiers \\
        --checkpoint /data/tiers_ckpt

or locally against the synthetic generator: ``--synth 20000``.

Unit correctness: a window is stamped origin + win_start/fs, and unit D
owns the windows stamped in D — exactly the 1m buckets with
to_date(bucket_ts) == D, since a day edge is a minute edge.  The unit
reads the pages overlapping the sample range those windows can touch (a
winlen-1 halo past the last start; an offset-range filter, partition-
prunable on an offset/date-laid-out page store), scores them and keeps
the 1m rows of D, so boundary-straddling windows are computed exactly
once (equivalence with the fused single-pass pipeline is pytest-asserted,
tests/test_rollup_job.py).  Coarser tiers re-aggregate the committed
finer tier, one unit each — they are ~60-3600x smaller.

Late data after the job: merge each late batch into EVERY tier store,
``apply_batch_once(spark, f"{out}/tier={name}", batch, batch_id,
TIERS[name])`` per tier.  The coarse stages are single ``all`` units that
a rerun skips, so a batch merged into ``tier=1m`` alone leaves
``tier=1h..30d`` stale.  Merged into all of them, each coarse tier stays
the re-aggregation of the next finer one (the tier algebra is
associative), which ``rollup.audit_tier_consistency`` checks.
"""

from __future__ import annotations

import argparse
import datetime as dt
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from afspark.functions import kernels as K  # noqa: E402
from afspark.operators.rollup import (  # noqa: E402
    TIERS,
    rollup_points,
    rollup_tier,
    scores_to_points,
)
from afspark.operators.score import score_pages  # noqa: E402
from afspark.streaming.checkpoint import CheckpointLog, run_resumable  # noqa: E402
from afspark.streaming.stream_tier import read_tier_store  # noqa: E402

DEFAULT_FEATURES = "energy,spl,zcr"
UTC = dt.timezone.utc


def build_features(names: str) -> list:
    feats = []
    for name in names.split(","):
        cls = K.FEATURES.get(name.strip())
        if cls is None:
            raise SystemExit(
                f"unknown feature {name!r}; available: {sorted(K.FEATURES)}"
            )
        feats.append(cls())
    return feats


def unit_dates(
    offs: DataFrame, winlen: int, fs: float, origin_epoch: int
) -> list[dt.date]:
    """UTC dates of the first through the last window stamp.  Window
    starts are per-series sample POSITIONS, so the last one follows the
    LONGEST series, not the corpus total."""
    n_samples = offs.agg(
        F.max(F.col("sample_offset") + F.octet_length("text")).alias("n")
    ).first()["n"] or 0
    s_max = max(1, int(n_samples) - winlen + 1)  # last 1-based window start
    first, last = (
        dt.datetime.fromtimestamp(origin_epoch + s / fs, tz=UTC).date()
        for s in (1, s_max)
    )
    return [first + dt.timedelta(days=i) for i in range((last - first).days + 1)]


def score_unit(
    offs: DataFrame,
    date: dt.date,
    features: list,
    winlen: int,
    noverlap: int,
    fs: float,
    origin_epoch: int,
) -> DataFrame:
    """1m-tier rows (with ``bucket_date``) of the windows stamped on ``date``."""
    d0 = dt.datetime(date.year, date.month, date.day, tzinfo=UTC).timestamp()
    # 1-based window starts stamped in [d0, d0 + 1 day), widened by one
    # sample each side against float rounding in the stamp
    lo = max(1, math.floor((d0 - origin_epoch) * fs) - 1)
    hi = math.ceil((d0 + 86_400 - origin_epoch) * fs) + 1
    ln = F.octet_length("text")
    # pages overlapping the sample range any owned window can touch
    need = offs.filter(
        (F.col("sample_offset") + ln >= lo)
        & (F.col("sample_offset") + 1 <= hi + winlen - 1)
    )
    scored = score_pages(need, features, winlen, noverlap, fs=fs)
    return (
        rollup_points(scores_to_points(scored, fs, origin_epoch), TIERS["1m"])
        .withColumn("bucket_date", F.to_date("bucket_ts"))
        .filter(F.col("bucket_date") == F.lit(date))
    )


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--pages", help="parquet of (url, warc_ts, html, text, lang)")
    src.add_argument("--synth", type=int, help="synthesize N CC-style pages")
    ap.add_argument("--out", required=True, help="tier store root directory")
    ap.add_argument("--checkpoint", required=True, help="lineage+metrics log dir")
    ap.add_argument("--features", default=DEFAULT_FEATURES)
    ap.add_argument("--winlen", type=int, default=1024)
    ap.add_argument("--noverlap", type=int, default=512)
    ap.add_argument("--fs", type=float, default=1000.0)
    ap.add_argument("--origin-epoch", type=int, default=1_699_999_980)
    args = ap.parse_args(argv)

    from afspark.session import get_session
    from afspark.sources.pages import generate_pages, with_series_offsets

    spark: SparkSession = get_session(app_name="afspark-rollup-job")
    pages = (
        generate_pages(spark, args.synth)
        if args.synth is not None
        else spark.read.parquet(args.pages)
    )
    offs = with_series_offsets(pages).persist()
    features = build_features(args.features)
    dates = unit_dates(offs, args.winlen, args.fs, args.origin_epoch)
    log = CheckpointLog(spark, args.checkpoint)

    stats = run_resumable(
        spark,
        stage="score_1m",
        partition_keys=[d.isoformat() for d in dates],
        process_fn=lambda key: score_unit(
            offs,
            dt.date.fromisoformat(key),
            features,
            args.winlen,
            args.noverlap,
            args.fs,
            args.origin_epoch,
        ),
        out_path=f"{args.out}/tier=1m",
        log=log,
        partition_by=["bucket_date"],
    )
    print(f"score_1m: {len(stats['processed'])} units processed, "
          f"{len(stats['skipped'])} skipped (resume)")

    # coarser tiers re-aggregate the COMMITTED finer tier (read back, so a
    # resumed job never recomputes scores), one resumable unit each
    prev_name = "1m"
    for name in ("1h", "1d", "30d"):
        prev = read_tier_store(spark, f"{args.out}/tier={prev_name}")
        s = run_resumable(
            spark,
            stage=f"rollup_{name}",
            partition_keys=["all"],
            process_fn=lambda _k, p=prev, sec=TIERS[name]: rollup_tier(
                p, sec
            ).withColumn("bucket_date", F.to_date("bucket_ts")),
            out_path=f"{args.out}/tier={name}",
            log=log,
            partition_by=["bucket_date"],
        )
        print(f"rollup_{name}: processed={s['processed']} skipped={s['skipped']}")
        prev_name = name

    # per-partition lineage + metrics, as the north_rule requires
    log.metrics().orderBy("committed_at").show(50, truncate=False)
    offs.unpersist()


if __name__ == "__main__":
    main()
