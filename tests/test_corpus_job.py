"""The spark-submit corpus-build job (jobs/corpus_job.py): text-hash
shard units equal the single-pass pipeline, resume skips committed
shards, parameter changes scope to fresh stores instead of mixing, and
the mixture stage reproduces the certified operators."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from afspark.operators.dedup import exact_dedup
from afspark.operators.text import benchmark_grams, decontaminate, quality_features
from afspark.streaming.checkpoint import CheckpointLog, run_resumable
from jobs.corpus_job import (
    _text_shard,
    build_kept_unit,
    main,
    mixture_stage,
)

N_UNITS = 4
MIN_Q = 0.6


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet").persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def bench(spark, docs):
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    return docs.filter(F.col("doc_id") % 9 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.concat_ws(" ", F.slice(F.split(norm, " "), 3, 13)).alias("text"),
    )


def test_shard_units_equal_single_pass(spark, docs, bench):
    """Union of per-shard kept sets == gate->dedup->decontaminate run in
    one pass: text-hash sharding makes per-shard dedup globally
    complete, and duplicated texts land in exactly one shard.  Units use
    the job's shared-gram path (benchmark grams built once)."""
    # plant exact duplicates ACROSS the doc_id space: same text, new ids
    dup = docs.limit(12).withColumn("doc_id", F.col("doc_id") + 700_000)
    corpus = docs.unionByName(dup)

    grams = benchmark_grams(bench, n=13).persist()
    parts = [
        build_kept_unit(
            corpus.filter(_text_shard("text", N_UNITS) == u),
            MIN_Q,
            13,
            bench_grams=grams,
        )
        for u in range(N_UNITS)
    ]
    got = parts[0]
    for p in parts[1:]:
        got = got.unionByName(p)

    gate = (
        quality_features(corpus).filter(F.col("quality") >= MIN_Q).select("doc_id")
    )
    kept = exact_dedup(corpus.join(gate, "doc_id"))
    flags = decontaminate(kept, bench, n=13)
    want = kept.join(
        flags.filter(F.col("n_contaminated") == 0).select("doc_id"), "doc_id"
    )

    g = {r.doc_id for r in got.select("doc_id").collect()}
    w = {r.doc_id for r in want.select("doc_id").collect()}
    grams.unpersist()
    assert g == w
    # every planted duplicate was deduped away (min-id keeper survives)
    assert not {d for d in g if d >= 700_000}
    # shards partition the kept set: no doc appears in two shards
    assert got.count() == len(g)


def test_precomputed_grams_equal_inline_benchmark(spark, docs, bench):
    """decontaminate(bench_grams=...) is the same operator as
    decontaminate(benchmark=...) — the corpus job's build-once path
    cannot drift from the certified inline path."""
    base = docs.limit(40)
    inline = decontaminate(base, bench, n=13).toPandas().set_index("doc_id")
    grams = benchmark_grams(bench, n=13)
    pre = (
        decontaminate(base, None, n=13, bench_grams=grams)
        .toPandas()
        .set_index("doc_id")
    )
    assert inline.sort_index().equals(pre.sort_index())
    with pytest.raises(ValueError, match="benchmark or bench_grams"):
        decontaminate(base, None, n=13)
    # an md5 gram set fed to an xxhash64 doc pass would silently flag
    # nothing — the fp dtype mismatch must be rejected loudly
    md5_grams = benchmark_grams(bench, n=13, hash_mode="md5")
    with pytest.raises(ValueError, match="hash_mode"):
        decontaminate(base, None, n=13, bench_grams=md5_grams)
    # same for a gram-LENGTH mismatch (10-gram hashes never equal
    # 13-gram hashes): carried via the fp column's schema metadata
    short_grams = benchmark_grams(bench, n=10)
    with pytest.raises(ValueError, match="n=10"):
        decontaminate(base, None, n=13, bench_grams=short_grams)


def test_shard_assignment_is_text_pure(spark):
    """Copies of one text always share a shard (the dedup-completeness
    invariant), regardless of id or row order."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(["aa bb", "aa bb", "cc dd", "aa bb"])],
        "doc_id long, text string",
    ).withColumn("u", _text_shard("text", 5))
    by_text = {
        r.text: r.us
        for r in df.groupBy("text").agg(
            F.collect_set("u").alias("us")
        ).collect()
    }
    assert all(len(us) == 1 for us in by_text.values())


def test_resume_skips_committed_shards(spark, docs, bench, tmp_path):
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    log = CheckpointLog(spark, ckpt)
    keys = [f"u{u:06d}" for u in range(N_UNITS)]

    def run():
        return run_resumable(
            spark,
            stage="kept",
            partition_keys=keys,
            process_fn=lambda key: build_kept_unit(
                docs.filter(_text_shard("text", N_UNITS) == int(key[1:])),
                MIN_Q,
                13,
                benchmark=bench,
            ),
            out_path=f"{out}/kept",
            log=log,
        )

    first = run()
    assert len(first["processed"]) == N_UNITS and not first["skipped"]
    again = run()
    assert not again["processed"] and len(again["skipped"]) == N_UNITS

    kept = spark.read.parquet(f"{out}/kept")
    manifest, sample = mixture_stage(kept, alpha=0.5, token_budget=20_000)
    m = manifest.toPandas()
    s = sample.toPandas()
    # manifest totals are consistent with the sample rows
    assert int(m["n_rows_emitted"].sum()) == int(s["n_copies"].sum())
    assert set(m["source"]) == set(s["source"].unique())
    assert (m["tokens_emitted"] > 0).all()


def test_cli_resume_and_param_scoping(spark, sf_dir, tmp_path, capsys):
    """main() end to end: a re-run with identical args skips every
    committed unit; a re-run with a different gate lands in a FRESH
    kept-{cfg} store (old one untouched) while reusing the shard store."""
    docs_path = f"{sf_dir}/documents.parquet"
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    argv = [
        "--docs", docs_path, "--out", out, "--checkpoint", ckpt,
        "--units", "2", "--min-quality", "0.6", "--token-budget", "5000",
    ]
    main(argv)
    first = capsys.readouterr().out
    assert "2 units processed, 0 skipped" in first
    assert "sample" in first and "manifest" in first
    kept_dirs = [d for d in os.listdir(out) if d.startswith("kept-")]
    assert len(kept_dirs) == 1

    main(argv)  # identical args: everything resumes as skipped
    second = capsys.readouterr().out
    assert "0 units processed, 2 skipped" in second
    assert "processed=[] skipped=['all']" in second  # shard + mixture stages

    # different gate: new kept store, shard store reused, old store intact
    before = set(os.listdir(f"{out}/{kept_dirs[0]}"))
    main([a if a != "0.6" else "0.3" for a in argv])
    third = capsys.readouterr().out
    assert "2 units processed, 0 skipped" in third
    assert "shard: processed=[] skipped=['all']" in third  # reused layout
    assert len([d for d in os.listdir(out) if d.startswith("kept-")]) == 2
    assert set(os.listdir(f"{out}/{kept_dirs[0]}")) == before

    # sample store carries nt so the manifest aggregates written rows
    sample_dirs = [d for d in os.listdir(out) if d.startswith("sample-")]
    cols = set(spark.read.parquet(f"{out}/{sample_dirs[0]}").columns)
    assert {"doc_id", "source", "nt", "n_copies"} <= cols

    # the stage-0 write is clustered: --files-per-shard (default 1)
    # parquet files per shard dir, not one per input task per shard
    shard_dirs = [d for d in os.listdir(out) if d.startswith("sharded-")]
    assert len(shard_dirs) == 1  # same --docs/--units/--files-per-shard
    shard_store = f"{out}/{shard_dirs[0]}"
    for d in sorted(os.listdir(shard_store)):
        if not d.startswith("shard="):
            continue
        files = [f for f in os.listdir(f"{shard_store}/{d}")
                 if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)


def test_input_regenerated_in_place_reruns_stages(spark, sf_dir, tmp_path, capsys):
    """A --docs parquet REWRITTEN at the same path (nightly refresh)
    must re-shard and re-process — the stage tags fingerprint the input
    CONTENT (file listing + sizes + mtimes), not just the path string,
    so the resume log cannot silently serve a corpus built from the
    stale sharded store."""
    docs_path = str(tmp_path / "docs_inplace")
    spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200).write.mode(
        "overwrite"
    ).parquet(docs_path)
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    argv = ["--docs", docs_path, "--out", out, "--checkpoint", ckpt, "--units", "2"]
    main(argv)
    first = capsys.readouterr().out
    assert "2 units processed, 0 skipped" in first

    # identical input: full resume
    main(argv)
    assert "0 units processed, 2 skipped" in capsys.readouterr().out

    # regenerate IN PLACE (different rows, same path)
    spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300).write.mode(
        "overwrite"
    ).parquet(docs_path)
    main(argv)
    third = capsys.readouterr().out
    assert "2 units processed, 0 skipped" in third  # re-ran, not skipped
    assert "shard: processed=['all']" in third  # re-sharded too
