"""grouped_map_in_pandas must be semantically identical to
groupBy().applyInPandas — same groups, same sorted-segment input —
including when Arrow batches split MID-GROUP (the tail-carry path)."""

import pytest
from pyspark.sql import functions as F

from afspark.operators._grouped import grouped_map_in_pandas

SCHEMA = "k string, n long, first_v double, last_v double, sum_v double"


def _mk_df(spark, n_series=13, rows_per=17):
    rows = []
    for s in range(n_series):
        for i in range(rows_per):
            rows.append((f"s{s:02d}", i, float(s * 1000 + i)))
    return spark.createDataFrame(rows, "k string, o long, v double")


def _make_summary():
    # defined as a closure so cloudpickle ships it BY VALUE — test
    # modules are not importable on Spark workers
    import numpy as np
    import pandas as pd

    def summary(pdf: pd.DataFrame) -> pd.DataFrame:
        # order-sensitive on purpose: first/last expose any ordering or
        # boundary-split bug, n exposes lost/duplicated carry rows
        pdf = pdf.reset_index(drop=True)
        return pd.DataFrame(
            {
                "k": [pdf["k"].iloc[0]],
                "n": [np.int64(len(pdf))],
                "first_v": [pdf["v"].iloc[0]],
                "last_v": [pdf["v"].iloc[-1]],
                "sum_v": [pdf["v"].sum()],
            }
        )

    return summary


@pytest.mark.parametrize("batch", [3, 7, 1000])
def test_matches_apply_in_pandas_across_batch_sizes(spark, batch):
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch))
    try:
        summary = _make_summary()
        df = _mk_df(spark)
        got = {
            r["k"]: r
            for r in grouped_map_in_pandas(
                df, ["k"], ["o"], summary, SCHEMA
            ).collect()
        }

        def ref_fn(pdf):
            return summary(pdf.sort_values("o", kind="mergesort"))

        want = {
            r["k"]: r
            for r in df.groupBy("k").applyInPandas(ref_fn, SCHEMA).collect()
        }
        assert set(got) == set(want)
        for k in want:
            for c in ("n", "first_v", "last_v", "sum_v"):
                assert got[k][c] == want[k][c], (k, c)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_none_and_empty_segments_emit_nothing(spark):
    df = _mk_df(spark, n_series=5, rows_per=3)
    summary = _make_summary()

    def only_even(pdf):
        if int(pdf["k"].iloc[0][1:]) % 2:
            return None
        return summary(pdf)

    out = grouped_map_in_pandas(df, ["k"], ["o"], only_even, SCHEMA).collect()
    assert sorted(r["k"] for r in out) == ["s00", "s02", "s04"]


def test_explicit_partition_count_and_no_per_group_arrow(spark):
    df = _mk_df(spark)
    out = grouped_map_in_pandas(
        df, ["k"], ["o"], _make_summary(), SCHEMA, n_partitions=9
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "FlatMapGroupsInPandas" not in plan


def _score_samples(spark):
    from afspark.functions import kernels as K
    from afspark.operators.score import score
    from afspark.sources.pages import derive_samples, generate_pages

    samples = derive_samples(generate_pages(spark, 8))
    return score(samples, [K.Energy(), K.ZeroCrossingRate()], 96, 32,
                 fs=1000.0, target_chunk_samples=200)


def _score_pages(spark):
    from afspark.functions import kernels as K
    from afspark.operators.score import score_pages
    from afspark.sources.pages import generate_pages, with_series_offsets

    offs = with_series_offsets(generate_pages(spark, 60))
    return score_pages(offs, [K.Energy(), K.ZeroCrossingRate()], 512, 256,
                       fs=1000.0, target_chunk_samples=1000)


def _points(spark):
    # 13 series x 90 points a minute apart: 15-minute chunks hold 15 rows,
    # so every chunk (and every series) spans several 7-row batches
    import datetime as dtm

    t0 = dtm.datetime(2024, 1, 1)
    rows = [
        (f"s{s:02d}", t0 + dtm.timedelta(minutes=i), float((s * 37 + i * 11) % 97))
        for s in range(13)
        for i in range(90)
    ]
    return spark.createDataFrame(rows, "series_id string, ts timestamp, value double")


def _encode_chunks(spark):
    from afspark.sources.chunkstore import encode_chunks

    return encode_chunks(_points(spark), chunk_seconds=900)


def _lttb(spark):
    from afspark.operators.lttb import lttb

    return lttb(_points(spark), 20)


@pytest.mark.parametrize(
    "build", [_score_samples, _score_pages, _encode_chunks, _lttb],
    ids=["score", "score_pages", "encode_chunks", "lttb"],
)
def test_operators_on_the_grouped_pass_independent_of_batch_size(spark, build):
    """Each operator folded onto grouped_batch_in_pandas returns the same
    rows whether its groups fit one Arrow batch or straddle many."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = sorted(build(spark).collect())
    assert default
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        small = sorted(build(spark).collect())
    finally:
        spark.conf.set(key, old)
    assert small == default
