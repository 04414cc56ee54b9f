"""Production corpus-build job — the webtext deployment twin of
jobs/rollup_job.py: documents -> quality gate -> exact dedup ->
benchmark decontamination -> temperature mixture sample, RESUMABLE.

Run it the way the north_rule says (any Spark cluster):

    PYFILES=$(python -c "from afspark.session import package_zip; print(package_zip())")
    spark-submit --py-files "$PYFILES" jobs/corpus_job.py \\
        --docs /data/documents.parquet --benchmark /data/eval.parquet \\
        --out /data/corpus --checkpoint /data/corpus_ckpt \\
        --units 256 --token-budget 1000000000

Resume-unit design: units are TEXT-HASH shards (md5 of the document
text, mod --units), not row ranges — every copy of a duplicated text
lands in the same shard, so exact dedup inside a shard is globally
complete with no cross-unit coordination, and a killed job redoes only
the shard in flight (the write + CheckpointLog row form an idempotent
pair, exactly rollup_job's contract).

Scan discipline: a text-hash predicate cannot prune a parquet scan, so
a stage-0 pre-pass writes the corpus ONCE, hive-partitioned by shard id
(`sharded-{tag}/shard=K/`).  Each kept unit then reads only its own
shard directory (partition-pruned), making a full run exactly two
corpus reads (one to shard, one shard-sliced) instead of --units full
scans, and a resume re-reads only the uncommitted shard slices.  The
sharded store's identity is (--docs, --units, --files-per-shard) —
re-runs with a different quality gate reuse it, while pointing --docs
at a different corpus (or re-tuning the layout) re-shards instead of
silently reusing stale data.

Resume-key safety: CheckpointLog matches completion rows by (stage,
partition_key) STRING, so a key must never mean different data across
runs.  Every parameter that changes a unit's content (--units,
--min-quality, --ngram, --benchmark; --alpha/--token-budget for the
mixture stages) is folded into a config tag that scopes both the stage
names and the store directories — rerunning with different parameters
starts a cleanly separated store instead of silently mixing shard
layouts (the half-committed --units 8 resume-as---units 4 corruption).

Quality gating and decontamination are per-doc (stateless), so they
ride inside the same shard pass; the benchmark gram set is
eval-suite-sized, built ONCE (persisted) and broadcast into every unit.
The mixture stage needs the GLOBAL per-source token mass — computed
once, persisted (sources-sized) — then the rate-based sample is a
stateless map over the kept-store (operators/text.py mixture_sample:
no shuffle, no prefix-sum skew) and the manifest aggregates the
WRITTEN sample store rather than re-running the sample pipeline.

At 100 TB: shard count scales with the corpus (--units ~ corpus_bytes /
executor-comfortable-bytes); no stage ever materializes an unbounded
per-key state.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from afspark.operators.dedup import exact_dedup  # noqa: E402
from afspark.operators.text import (  # noqa: E402
    BPE_PIECES_RE,
    benchmark_grams,
    decontaminate,
    mixture_sample,
    quality_features,
    source_mixture_weights,
)
from afspark.streaming.checkpoint import CheckpointLog, run_resumable  # noqa: E402


def _text_shard(text_col: str, n_units: int):
    """Shard id from the TEXT hash: all copies of a text share a shard,
    so per-shard exact dedup is globally complete."""
    return F.pmod(
        F.conv(F.substring(F.md5(F.col(text_col)), 1, 8), 16, 10).cast("long"),
        F.lit(n_units),
    )


def _tag(*parts) -> str:
    """8-hex config fingerprint scoping stage names + store dirs."""
    return hashlib.md5("|".join(str(p) for p in parts).encode()).hexdigest()[:8]


def _input_fingerprint(path: str | None) -> str:
    """Content fingerprint of an input dataset: relative data-file
    listing + sizes + mtimes, hashed.

    Folded into the stage tags so an input regenerated IN PLACE (a
    nightly-refreshed parquet at the same --docs/--benchmark path)
    re-runs its stages instead of silently resuming from a sharded
    store built on the stale bytes — the path string alone cannot see
    the refresh.  Driver-side listing only, the same metadata walk the
    scan itself performs; underscore/dot files (_SUCCESS etc.) are
    ignored so a no-op rewrite of markers does not churn the tag.
    """
    if not path:
        return ""
    entries = []
    if os.path.isdir(path):
        for dp, _dn, fn in os.walk(path):
            for f in sorted(fn):
                if f.startswith(("_", ".")):
                    continue
                st = os.stat(os.path.join(dp, f))
                rel = os.path.relpath(os.path.join(dp, f), path)
                entries.append(f"{rel}:{st.st_size}:{st.st_mtime_ns}")
    else:
        st = os.stat(path)
        entries.append(f"{os.path.basename(path)}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("\n".join(sorted(entries)).encode()).hexdigest()[:8]


def build_kept_unit(
    shard_docs: DataFrame,
    min_quality: float,
    ngram: int,
    benchmark: DataFrame | None = None,
    bench_grams: DataFrame | None = None,
) -> DataFrame:
    """One shard's kept documents: gate -> dedup -> decontaminate.

    ``shard_docs`` is the already-sliced shard (the job reads one
    `shard=K` partition dir; tests may filter with :func:`_text_shard`).
    Pass ``bench_grams`` (a persisted :func:`benchmark_grams` frame) to
    share one gram build across every unit of a run.
    """
    gate = (
        quality_features(shard_docs)
        .filter(F.col("quality") >= min_quality)
        .select("doc_id")
    )
    kept = exact_dedup(shard_docs.join(gate, "doc_id"))
    if benchmark is not None or bench_grams is not None:
        flags = decontaminate(kept, benchmark, n=ngram, bench_grams=bench_grams)
        kept = kept.join(
            flags.filter(F.col("n_contaminated") == 0).select("doc_id"), "doc_id"
        )
    return kept


def mixture_rates(kept: DataFrame, alpha: float, token_budget: int) -> DataFrame:
    """Per-source weights with the engine's 6dp-quantized sampling rate
    (sources-sized — persist it; both the sample and the manifest join it)."""
    w = source_mixture_weights(kept, alpha=alpha, token_budget=token_budget)
    return w.withColumn("rate", F.floor(F.col("rate") * 1e6 + F.lit(0.5)) / 1e6)


def mixture_sample_rows(kept: DataFrame, rates: DataFrame) -> DataFrame:
    """Per-doc sample rows (doc_id, source, nt, n_copies) — nt rides
    along so the manifest can aggregate the WRITTEN sample store."""
    pieces = F.regexp_extract_all(F.col("text"), F.lit(BPE_PIECES_RE), 0)
    return mixture_sample(
        kept.select("doc_id", "source", F.size(pieces).alias("nt")), rates
    ).select("doc_id", "source", "nt", "n_copies")


def manifest_from_sample(sample: DataFrame, rates: DataFrame) -> DataFrame:
    """Per-source manifest from (already-materialized) sample rows."""
    return (
        sample.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_copies").cast("long").alias("n_rows_emitted"),
            F.sum(F.col("n_copies") * F.col("nt")).cast("long").alias(
                "tokens_emitted"
            ),
        )
        .join(rates.select("source", "n_docs", "n_tokens", "rate"), "source")
    )


def mixture_stage(
    kept: DataFrame, alpha: float, token_budget: int
) -> tuple[DataFrame, DataFrame]:
    """(per-source manifest, per-doc sample) from the committed
    kept-store — the single-call composition of the helpers above.  The
    job itself persists the rates and derives the manifest from the
    written sample store instead (one kept-scan fewer)."""
    rates = mixture_rates(kept, alpha, token_budget)
    sample = mixture_sample_rows(kept, rates)
    return manifest_from_sample(sample, rates), sample


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--docs", required=True, help="parquet of documents")
    ap.add_argument("--benchmark", help="parquet of (bench_id, text) eval examples")
    ap.add_argument("--out", required=True, help="corpus store root directory")
    ap.add_argument("--checkpoint", required=True, help="lineage+metrics log dir")
    ap.add_argument("--units", type=int, default=64, help="text-hash shard count")
    ap.add_argument(
        "--files-per-shard", type=int, default=1,
        help="parquet files per shard dir in the stage-0 store "
             "(~ corpus_bytes / units / 128MB at scale)",
    )
    ap.add_argument("--min-quality", type=float, default=0.6)
    ap.add_argument("--ngram", type=int, default=13, help="decontamination gram")
    ap.add_argument("--alpha", type=float, default=0.5, help="mixture temperature")
    ap.add_argument("--token-budget", type=int, default=None)
    args = ap.parse_args(argv)
    if args.units < 1:
        raise SystemExit("--units must be >= 1")

    from afspark.session import get_session

    spark: SparkSession = get_session(app_name="afspark-corpus-job")
    docs = spark.read.parquet(args.docs)
    bench = spark.read.parquet(args.benchmark) if args.benchmark else None
    log = CheckpointLog(spark, args.checkpoint)

    # stage 0: ONE full corpus scan, written hash-partitioned by shard id.
    # The stage identity covers everything that determines the store's
    # CONTENT AND LAYOUT — the input path (--docs pointed at a new corpus
    # must re-shard, never silently reuse stale data), --units, and
    # --files-per-shard (re-tuning the file count must re-cluster).  The
    # repartition clusters the write on a two-level (shard, subfile) key
    # so each output task owns exactly one file of one shard dir:
    # O(units * files_per_shard) files total, instead of the
    # O(input_tasks * units) small-file explosion a raw partitionBy
    # write produces from a wide scan.  The shuffle it costs is the same
    # data movement that makes every later per-unit read contiguous.
    fps = max(1, args.files_per_shard)
    # the tag covers the input PATH *and its content fingerprint*: a
    # dataset regenerated in place must re-shard, not resume stale
    data_tag = _tag(args.docs, _input_fingerprint(args.docs), args.units, fps)

    def _sharded(_k):
        with_shard = docs.withColumn("shard", _text_shard("text", args.units))
        sub = F.pmod(F.xxhash64("doc_id"), F.lit(fps))
        return with_shard.repartition(args.units * fps, F.col("shard"), sub)

    shard_root = f"{args.out}/sharded-{data_tag}"
    s0 = run_resumable(
        spark,
        stage=f"shard-{data_tag}",
        partition_keys=["all"],
        process_fn=_sharded,
        out_path=shard_root,
        log=log,
        partition_by=["shard"],
    )
    sharded = spark.read.parquet(shard_root)
    print(f"shard: processed={s0['processed']} skipped={s0['skipped']}")

    cfg = _tag(
        data_tag,
        args.min_quality,
        args.ngram,
        args.benchmark or "",
        _input_fingerprint(args.benchmark),
    )
    kept_stage = f"kept-{cfg}"
    keys = [f"u{u:06d}" for u in range(args.units)]

    grams = None
    if bench is not None and any(k not in log.completed(kept_stage) for k in keys):
        # eval-suite-sized; build + materialize ONCE, broadcast per unit
        # — but only when at least one unit actually runs (a fully
        # committed resume must not pay the benchmark explode/distinct)
        grams = benchmark_grams(bench, n=args.ngram).persist()
        grams.count()

    stats = run_resumable(
        spark,
        stage=kept_stage,
        partition_keys=keys,
        process_fn=lambda key: build_kept_unit(
            sharded.filter(F.col("shard") == int(key[1:])).drop("shard"),
            args.min_quality,
            args.ngram,
            bench_grams=grams,
        ),
        out_path=f"{args.out}/kept-{cfg}",
        log=log,
    )
    print(f"kept[{cfg}]: {len(stats['processed'])} units processed, "
          f"{len(stats['skipped'])} skipped (resume)")
    if grams is not None:
        grams.unpersist()

    if args.token_budget is not None:
        mix = _tag(cfg, args.alpha, args.token_budget)
        kept = spark.read.parquet(f"{args.out}/kept-{cfg}")
        rates = mixture_rates(kept, args.alpha, args.token_budget).persist()
        s1 = run_resumable(
            spark,
            stage=f"sample-{mix}",
            partition_keys=["all"],
            process_fn=lambda _k: mixture_sample_rows(kept, rates),
            out_path=f"{args.out}/sample-{mix}",
            log=log,
        )
        print(f"sample[{mix}]: processed={s1['processed']} skipped={s1['skipped']}")
        # manifest aggregates the WRITTEN sample rows — no second run of
        # the weights+sample pipeline over the kept-store
        sample = spark.read.parquet(f"{args.out}/sample-{mix}")
        s2 = run_resumable(
            spark,
            stage=f"manifest-{mix}",
            partition_keys=["all"],
            process_fn=lambda _k: manifest_from_sample(sample, rates),
            out_path=f"{args.out}/manifest-{mix}",
            log=log,
        )
        print(f"manifest[{mix}]: processed={s2['processed']} skipped={s2['skipped']}")
        rates.unpersist()

    log.metrics().orderBy("committed_at").show(50, truncate=False)


if __name__ == "__main__":
    main()
