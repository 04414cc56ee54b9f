"""Deterministic Common-Crawl-style ``pages`` table + samples derivation.

Input shape fixed by BASELINE.json input_hint:
    pages(url string, warc_ts timestamp, html binary, text string, lang string)

Generation is fully distributed (spark.range -> mapInPandas) and
deterministic in the row id alone (splitmix64 mixing), so any partitioning
produces the same table — no driver-side data, no external files.  A
configurable hot-domain fraction exercises the skew path.

text -> samples mapping (SURVEY.md §7.2): series_id = url domain; per
series, pages are ordered by (warc_ts, url) and their ASCII text bytes are
concatenated; sample value = (byte - 127.5)/127.5.  The page ``text`` is
never rewritten, so the per-row invariant (byte-identical text per url)
holds by construction; tests/test_pages.py reconstructs text from samples
to prove it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

BASE_TS = np.datetime64("2024-01-01T00:00:00")
SPAN_DAYS = 35  # covers the 30d retention tier

# 128-word ASCII vocabulary; values chosen only for byte diversity.
_VOCAB = np.array(
    [
        "".join(
            chr(33 + ((w * 13 + i * 7) % 94)) for i in range(3 + (w % 9))
        )
        for w in range(128)
    ],
    dtype=object,
)

_LANGS = np.array(["en", "de", "zh"], dtype=object)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public domain algorithm)."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    x ^= x >> np.uint64(30)
    x = (x * np.uint64(0xBF58476D1CE4E5B9)).astype(np.uint64)
    x ^= x >> np.uint64(27)
    x = (x * np.uint64(0x94D049BB133111EB)).astype(np.uint64)
    x ^= x >> np.uint64(31)
    return x


def generate_pages(
    spark: SparkSession,
    n_pages: int,
    n_domains: int = 50,
    hot_domain_frac: float = 0.3,
    words_min: int = 40,
    words_max: int = 200,
    seed: int = 42,
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic pages table; ``hot_domain_frac`` of rows hit domain 0."""
    span_s = SPAN_DAYS * 86_400
    sc_partitions = num_partitions or spark.sparkContext.defaultParallelism

    def gen(batches):
        with np.errstate(over="ignore"):
            for pdf in batches:
                ids = pdf["id"].to_numpy().astype(np.uint64)
                h0 = _splitmix64(ids + np.uint64(seed))
                h1 = _splitmix64(h0)
                h2 = _splitmix64(h1)
                hot = (h0 % np.uint64(1000)) < np.uint64(int(hot_domain_frac * 1000))
                dom_idx = np.where(hot, 0, 1 + (h1 % np.uint64(n_domains - 1)).astype(np.int64))
                nwords = (
                    words_min + (h2 % np.uint64(words_max - words_min)).astype(np.int64)
                )
                ts_off = (h0 ^ h2) % np.uint64(span_s)
                texts = []
                for i in range(len(ids)):
                    k = int(nwords[i])
                    widx = _splitmix64(
                        ids[i] * np.uint64(1_000_003) + np.arange(k, dtype=np.uint64)
                    ) % np.uint64(len(_VOCAB))
                    texts.append(" ".join(_VOCAB[widx.astype(np.int64)]))
                domains = np.array([f"d{int(d):03d}.example.com" for d in dom_idx], dtype=object)
                urls = np.array(
                    [f"https://{d}/p/{int(i)}" for d, i in zip(domains, ids)], dtype=object
                )
                yield pd.DataFrame(
                    {
                        "url": urls,
                        "warc_ts": BASE_TS + ts_off.astype("timedelta64[s]"),
                        "html": [f"<html>{t}</html>".encode() for t in texts],
                        "text": texts,
                        "lang": _LANGS[(ids % np.uint64(3)).astype(np.int64)],
                    }
                )

    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    return (
        spark.range(0, n_pages, numPartitions=sc_partitions)
        .mapInPandas(gen, schema)
    )


def url_domain(url_col):
    """Domain component of the url — the series key (north_rule bucket key)."""
    return F.parse_url(url_col, F.lit("HOST"))


def write_pages_table(pages: DataFrame, path: str, n_buckets: int = 16) -> None:
    """Persist pages with the north_rule layout: PARTITIONED BY
    (days(warc_ts), bucket(N, url_domain)).

    On plain parquet the Iceberg transforms become physical partition
    columns ``day`` and ``bucket`` (pmod(xxhash64(domain), N)); a time- or
    domain-scoped query prunes directories at the scan, and the bucket
    column co-locates each series' pages for the downstream
    (series, chunk) shuffle.
    """
    (
        pages.withColumn("day", F.to_date("warc_ts"))
        .withColumn(
            "bucket", F.pmod(F.xxhash64(url_domain(F.col("url"))), F.lit(n_buckets))
        )
        .write.mode("overwrite")
        .partitionBy("day", "bucket")
        .parquet(path)
    )


def read_pages_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).drop("day", "bucket")


def with_series_offsets(pages: DataFrame, broadcast_base: bool = True) -> DataFrame:
    """Add series_id + the 0-based sample offset of each page within its
    series ((warc_ts, url)-ordered concatenation of text bytes).

    Skew-safe two-level running sum: a single per-series window would put
    a hot domain's entire history in ONE task (the classic window-function
    skew — it capped bench scaling at ~1x).  Instead the running sum is
    computed within (series, utc-day) buckets — parallel across
    series x days — and each bucket adds a base offset from a tiny
    per-bucket aggregate (series-partitioned, but only ~days rows per
    series).  Day buckets respect the (warc_ts, url) global order.

    ``broadcast_base``: the per-(series, day) base table has
    |domains| x |days| rows — broadcastable for realistic crawl snapshots
    (10^5-10^6 domains); pass False at extreme series cardinality (10^8+)
    to use a plain shuffle join on the same keys instead.
    """
    p = pages.withColumn("series_id", url_domain(F.col("url"))).withColumn(
        "_day", F.to_date("warc_ts")
    )
    in_bucket = (
        W.partitionBy("series_id", "_day")
        .orderBy("warc_ts", "url")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    p = p.withColumn(
        "_in_off",
        F.coalesce(F.sum(F.octet_length("text")).over(in_bucket), F.lit(0)).cast("long"),
    )
    bucket_sums = p.groupBy("series_id", "_day").agg(
        F.sum(F.octet_length("text")).alias("_blen")
    )
    prev_buckets = (
        W.partitionBy("series_id").orderBy("_day").rowsBetween(W.unboundedPreceding, -1)
    )
    bucket_base = bucket_sums.withColumn(
        "_base", F.coalesce(F.sum("_blen").over(prev_buckets), F.lit(0)).cast("long")
    ).select("series_id", "_day", "_base")
    base = F.broadcast(bucket_base) if broadcast_base else bucket_base
    return (
        p.join(base, ["series_id", "_day"])
        .withColumn("sample_offset", (F.col("_base") + F.col("_in_off")).cast("long"))
        .drop("_day", "_in_off", "_base")
    )


def derive_samples(pages: DataFrame) -> DataFrame:
    """samples(series_id, seq, ts, value) — Arrow path (scale path).

    One window pass for offsets, then a per-page byte explode built
    DIRECTLY as Arrow record batches (``mapInArrow``): the text bytes
    are read zero-copy out of the input StringArray's data buffer (no
    per-page encode + join), and the repeated series_id column is
    assembled as an offsets-over-data StringArray instead of a pandas
    object column (pandas->Arrow string conversion alone cost more than
    the whole explode kernel — measured 26 ms vs 29 ms per 600k-row
    task).  Output groups are sliced so no batch's string payload can
    approach Arrow's 2 GiB offset limit.
    """
    src = with_series_offsets(pages).select(
        "series_id", "sample_offset", "warc_ts", "text"
    )

    def explode_bytes(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            sid_arr = batch.column(0)
            offs = batch.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
            ts_type = batch.column(2).type
            ts_us = batch.column(2).cast(pa.int64()).to_numpy(zero_copy_only=False)
            txt = batch.column(3)
            # zero-copy view of the concatenated text payload (buffer 1 =
            # int32 offsets — sliced arrays start at txt.offset)
            voff = np.frombuffer(txt.buffers()[1], dtype=np.int32)[
                txt.offset : txt.offset + len(txt) + 1
            ].astype(np.int64)
            data = np.frombuffer(txt.buffers()[2], dtype=np.uint8)
            lens = np.diff(voff)
            sbytes = [s.encode("utf-8") for s in sid_arr.to_pylist()]
            slens = np.array([len(b) for b in sbytes], dtype=np.int64)
            # split into output groups bounded in rows AND series-id bytes
            # (Arrow string offsets are int32)
            out_bytes = np.cumsum(lens * slens)
            out_rows = np.cumsum(lens)
            n = batch.num_rows
            lo = 0
            while lo < n:
                b0 = out_bytes[lo - 1] if lo else 0
                r0 = out_rows[lo - 1] if lo else 0
                hi = int(
                    min(
                        np.searchsorted(out_bytes, b0 + (1 << 30)),
                        np.searchsorted(out_rows, r0 + (64 << 20)),
                        n - 1,
                    )
                ) + 1
                g = slice(lo, hi)
                glens = lens[g]
                total = int(glens.sum())
                lo = hi
                if total == 0:
                    continue
                vals = (
                    data[voff[g.start] : voff[g.stop]].astype(np.float64) - 127.5
                ) / 127.5
                starts = np.concatenate(([0], np.cumsum(glens[:-1])))
                seq = np.arange(total, dtype=np.int64) + np.repeat(
                    offs[g] + 1 - starts, glens
                )
                rep_slens = np.repeat(slens[g], glens)
                s_offsets = np.zeros(total + 1, dtype=np.int32)
                np.cumsum(rep_slens, out=s_offsets[1:])
                s_data = b"".join(
                    b * int(l) for b, l in zip(sbytes[g], glens)
                )
                sarr = pa.StringArray.from_buffers(
                    total, pa.py_buffer(s_offsets.tobytes()), pa.py_buffer(s_data)
                )
                tsarr = pa.array(np.repeat(ts_us[g], glens)).cast(ts_type)
                yield pa.RecordBatch.from_arrays(
                    [sarr, pa.array(seq), tsarr, pa.array(vals)],
                    ["series_id", "seq", "ts", "value"],
                )

    return src.mapInArrow(
        explode_bytes, "series_id string, seq long, ts timestamp, value double"
    )


def derive_samples_sql(pages: DataFrame) -> DataFrame:
    """samples via pure Catalyst (explode + ascii) — oracle-parity twin.

    Only valid for ASCII text (char == byte), which the generator
    guarantees; kept for DuckDB cross-checks and plan comparisons.
    """
    src = with_series_offsets(pages)
    return (
        src.select(
            "series_id",
            "sample_offset",
            F.col("warc_ts").alias("ts"),
            F.posexplode(F.split(F.col("text"), "(?!^)")).alias("pos", "ch"),
        )
        .filter(F.col("ch") != "")  # split() keeps a trailing empty element
        .select(
            "series_id",
            (F.col("sample_offset") + F.col("pos") + 1).alias("seq"),
            "ts",
            ((F.ascii("ch") - 127.5) / 127.5).alias("value"),
        )
    )
