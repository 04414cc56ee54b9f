"""Read-path probe: seeded dashboard reads over a tier store, checked
against a pandas copy of the same tier rows.

The mix rotates ``read_tier_range`` (routes, lists and partition-prunes
the store on every call), ``serve_range`` (M4 pixels) and
``stitched_range_read`` (the latter two over tier DataFrames opened once,
as a dashboard server holds them), with ranges from 1 h to 30 d.
"""

from __future__ import annotations

import dataclasses
import random
import time

import pandas as pd
from pyspark.sql import functions as F

from afspark.operators.rollup import (
    TIERS,
    read_tier_range,
    serve_range,
    stitch_spans,
    stitched_range_read,
)
from afspark.streaming.stream_tier import read_tier_store

from .trace import span_fn

RANGES_S = (3_600, 6 * 3_600, 86_400, 7 * 86_400, 30 * 86_400)
TARGET_POINTS = 100  # read_tier_range routing target
MAX_PIXELS = 200  # serve_range's per-series M4 pixel budget
RETENTION_S = {"1m": 86_400, "1h": 400 * 86_400}
KINDS = ("range", "m4", "stitch")
SPAN_OF = {"range": "read.exec", "m4": "read.m4", "stitch": "read.stitch"}

TIER_COLS = ["series_id", "bucket_ts", "cnt", "sum", "min", "max", "avg", "first", "last"]
M4_COLS = ["series_id", "bucket_epoch", "n"] + [
    f"{p}_{tag}" for tag in ("first", "last", "min", "max") for p in ("t", "v")
]
OUT_COLS = {"range": TIER_COLS, "m4": M4_COLS, "stitch": TIER_COLS + ["tier"]}


@dataclasses.dataclass(frozen=True)
class Read:
    kind: str
    series: str
    t0: int
    t1: int
    now: int  # stitched reads: retention is measured back from here


def read_mix(seed: int, n: int, series: list[str], t_lo: int, t_hi: int) -> list[Read]:
    """Kinds in rotation, one series per panel.  Range and M4 reads end
    anywhere in [t_lo, t_hi]; stitched reads end in the last hour before
    ``t_hi`` ("now"), as a live panel does."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        kind = KINDS[i % len(KINDS)]
        span = rng.choice(RANGES_S)
        t1 = rng.randrange(t_hi - 3_600 if kind == "stitch" else t_lo, t_hi + 1)
        out.append(Read(kind, rng.choice(series), t1 - span, t1, t_hi))
    return out


def run_read(spark, stores: dict[str, str], tiers: dict, rd: Read, tr=None) -> list:
    span = span_fn(tr)
    secs = {t: TIERS[t] for t in stores}
    panel = {t: df.filter(F.col("series_id") == rd.series) for t, df in tiers.items()}
    with span("read.route"):
        if rd.kind == "range":
            _, df = read_tier_range(spark, stores, rd.t0, rd.t1, target_points=TARGET_POINTS)
            df = df.filter(F.col("series_id") == rd.series)
        elif rd.kind == "m4":
            _, _, df = serve_range(panel, secs, rd.t0, rd.t1, MAX_PIXELS)
        else:
            df = stitched_range_read(panel, secs, RETENTION_S, rd.now, rd.t0, rd.t1)
    with span(SPAN_OF[rd.kind]):
        return df.collect()


# --- reference ----------------------------------------------------------------


def route(stored: list[str], t0: int, t1: int, target: int) -> str:
    """Coarsest stored tier giving at least ``target`` buckets, else the
    finest."""
    for name in sorted(stored, key=TIERS.get, reverse=True):
        if (t1 - t0) // TIERS[name] >= target:
            return name
    return min(stored, key=TIERS.get)


def _clip(df, series, lo, hi):
    return df[(df["series_id"] == series) & (df["bucket_epoch"] >= lo) & (df["bucket_epoch"] < hi)]


def _rows(df, cols) -> list[tuple]:
    return sorted(df[cols].itertuples(index=False, name=None))


def _m4(df: pd.DataFrame, sec: int, px: int) -> pd.DataFrame:
    """Per pixel: first/last point by bucket, min/max point by (avg,
    bucket)."""
    d = df.assign(seq=df["bucket_epoch"] // sec, pix=df["bucket_epoch"] // px * px)
    out = []
    for (sid, pix), g in d.groupby(["series_id", "pix"]):
        by_seq = g.sort_values("seq")
        by_val = g.sort_values(["avg", "seq"])
        row = {"series_id": sid, "bucket_epoch": int(pix), "n": len(g)}
        for tag, r in (
            ("first", by_seq.iloc[0]),
            ("last", by_seq.iloc[-1]),
            ("min", by_val.iloc[0]),
            ("max", by_val.iloc[-1]),
        ):
            row[f"t_{tag}"] = int(r["bucket_epoch"])
            row[f"v_{tag}"] = r["avg"]
        out.append(row)
    return pd.DataFrame(out, columns=M4_COLS)


def expected(ref: dict, rd: Read) -> list[tuple]:
    stored = list(ref)
    if rd.kind == "range":
        name = route(stored, rd.t0, rd.t1, TARGET_POINTS)
        return _rows(_clip(ref[name], rd.series, rd.t0, rd.t1), TIER_COLS)
    if rd.kind == "m4":
        name = route(stored, rd.t0, rd.t1, MAX_PIXELS)
        sec = TIERS[name]
        px_raw = -(-max(0, rd.t1 - rd.t0) // MAX_PIXELS)  # serve_range's pixel width
        px = max(sec, -(-px_raw // sec) * sec)
        return _rows(_m4(_clip(ref[name], rd.series, rd.t0, rd.t1), sec, px), M4_COLS)
    secs = {t: TIERS[t] for t in stored}
    out = []
    for name, lo, hi in stitch_spans(
        sorted(secs, key=secs.get), secs, RETENTION_S, rd.now, rd.t0, rd.t1
    ):
        out += [r + (name,) for r in _rows(_clip(ref[name], rd.series, lo, hi), TIER_COLS)]
    return sorted(out)


def load_reference(spark, stores: dict[str, str]) -> dict:
    ref = {}
    for t, p in stores.items():
        df = read_tier_store(spark, p).toPandas()
        df["bucket_epoch"] = df["bucket_ts"].map(lambda ts: int(pd.Timestamp(ts).timestamp()))
        ref[t] = df
    return ref


def rows_examined(ref: dict, rd: Read) -> int:
    """Rows in the date partitions a read scans: a range read prunes to
    its dates in its routed tier; M4 and stitched reads filter bucket_ts
    only, so every date of the tiers they serve from is listed."""
    if rd.kind == "range":
        df = ref[route(list(ref), rd.t0, rd.t1, TARGET_POINTS)]
        d0, d1 = (time.strftime("%Y-%m-%d", time.gmtime(t)) for t in (rd.t0, rd.t1))
        dates = df["bucket_date"].astype(str)
        return int(((dates >= d0) & (dates <= d1)).sum())
    if rd.kind == "m4":
        return len(ref[route(list(ref), rd.t0, rd.t1, MAX_PIXELS)])
    secs = {t: TIERS[t] for t in ref}
    names = {n for n, _, _ in stitch_spans(
        sorted(secs, key=secs.get), secs, RETENTION_S, rd.now, rd.t0, rd.t1
    )}
    return sum(len(ref[n]) for n in names)


def read_layer(ctx, tr, stores, series, t_lo, t_hi, n_reads: int = 24) -> tuple[int, list[str]]:
    """Traced, checked reads over ``stores``; returns (reads run,
    failure messages)."""
    ref = load_reference(ctx.spark, stores)
    tiers = {t: read_tier_store(ctx.spark, p) for t, p in stores.items()}
    bad = []
    for rd in read_mix(ctx.seed, n_reads, series, t_lo, t_hi):
        rows = run_read(ctx.spark, stores, tiers, rd, tr)
        got = sorted(tuple(r[c] for c in OUT_COLS[rd.kind]) for r in rows)
        want = expected(ref, rd)
        if got != want:
            bad.append(f"{rd}: {len(got)} rows, expected {len(want)}")
        tr.count("read.rows_examined", rows_examined(ref, rd))
        tr.count("read.rows_returned", len(rows))
    return n_reads, bad
