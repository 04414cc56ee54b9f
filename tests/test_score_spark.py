"""Distributed Score == local numpy Score, bit-for-bit.

Spark twin of the reference's DistributedWAVFile == in-memory equivalence
tests (/root/reference/test/runtests.jl:37-45,117-133): windows spanning
chunk/split boundaries must come out identical to the single-array run.
Bit-for-bit is asserted with == on float64 (same numpy kernel code, same
per-window inputs).
"""

import numpy as np
import pandas as pd
import pytest

from afspark.functions import kernels as K
from afspark.operators.score import score, score_wide
from afspark.operators.windows import (
    energy_agg,
    myriad_agg,
    num_windows,
    sliding_agg,
    spl_agg,
    tumbling_agg,
    zcr_windowed,
)

FS = 9600.0


def make_samples(spark, signals: dict[str, np.ndarray], partitions=7):
    pdfs = [
        pd.DataFrame(
            {
                "series_id": sid,
                "seq": np.arange(1, len(x) + 1, dtype=np.int64),
                "value": x.astype(np.float64),
            }
        )
        for sid, x in signals.items()
    ]
    df = spark.createDataFrame(pd.concat(pdfs, ignore_index=True))
    return df.repartition(partitions)  # scatter rows to force real shuffles


@pytest.fixture(scope="module")
def signals():
    rng = np.random.default_rng(42)
    n = 30_000
    t = np.arange(n) / FS
    return {
        "sine": np.sin(2 * np.pi * 1200 * t),
        "noise": rng.normal(size=n),
        "impulsive": np.where(rng.random(n) < 0.001, 50.0, 0.0) + 0.1 * rng.normal(size=n),
    }


def local_expected(signals, features, winlen, noverlap, fs=FS):
    rows = []
    for sid, x in signals.items():
        for f in features:
            starts, names, vals = K.score_local(f, x, fs=fs, winlen=winlen, noverlap=noverlap)
            for i, s in enumerate(starts):
                for j, name in enumerate(names):
                    rows.append((sid, int(s), name, vals[i, j]))
    return sorted(rows)


def collect_scores(df):
    return sorted(
        (r.series_id, r.win_start, r.feature, r.value) for r in df.collect()
    )


@pytest.mark.parametrize("winlen,noverlap", [(960, 0), (960, 480), (1001, 100), (1000, 500)])
def test_score_bit_exact_vs_local(spark, signals, winlen, noverlap):
    features = [K.Energy(), K.SoundPressureLevel(), K.ZeroCrossingRate(), K.Myriad(2.5)]
    df = make_samples(spark, signals)
    got = collect_scores(score(df, features, winlen, noverlap, fs=FS))
    want = local_expected(signals, features, winlen, noverlap)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[:3] == w[:3]
        assert (g[3] == w[3]) or (np.isnan(g[3]) and np.isnan(w[3])), (g, w)


def test_score_chunk_boundaries_bit_exact(spark, signals):
    """Tiny chunks => every window crosses assembly boundaries; still exact."""
    features = [K.Energy(), K.PermutationEntropy(4), K.SpectralCentroid()]
    winlen, noverlap = 960, 480
    df = make_samples(spark, signals)
    got = collect_scores(
        score(df, features, winlen, noverlap, fs=FS, target_chunk_samples=1000)
    )
    want = local_expected(signals, features, winlen, noverlap)
    assert got == want or all(
        g[:3] == w[:3] and (g[3] == w[3] or (np.isnan(g[3]) and np.isnan(w[3])))
        for g, w in zip(got, want)
    )
    assert len(got) == len(want)


def test_score_multi_arity_features(spark, signals):
    """Entropy (3 outputs) and PSD (n//2+1 outputs) survive the long format."""
    winlen = 2000
    feats = [K.Entropy(256, 128), K.PSD(64, 32, FS)]
    df = make_samples(spark, {"sine": signals["sine"]})
    got = collect_scores(score(df, feats, winlen, 0, fs=FS))
    want = local_expected({"sine": signals["sine"]}, feats, winlen, 0)
    assert got == want
    nwin = num_windows(30_000, winlen, 0)
    assert len(got) == nwin * (3 + 33)


def test_score_wide_pivot(spark, signals):
    df = make_samples(spark, {"sine": signals["sine"]})
    long = score(df, [K.Energy(), K.ZeroCrossingRate()], 3000, 0, fs=FS)
    wide = score_wide(long)
    rows = {r.win_start: r for r in wide.collect()}
    assert set(wide.columns) == {"series_id", "win_start", "Energy", "ZCR"}
    assert len(rows) == num_windows(30_000, 3000, 0)


def assert_no_python_node(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InPandas" not in plan and "ArrowEvalPython" not in plan, plan


def test_catalyst_twins_match_kernels(spark, signals):
    """Pure-JVM tumbling/sliding aggregates == numpy kernels (tolerance),
    with no Python worker hop in the executed plan."""
    df = make_samples(spark, signals)
    winlen, noverlap = 1000, 0
    agg = tumbling_agg(
        df,
        winlen,
        {
            "energy": energy_agg(df.value),
            "spl": spl_agg(df.value),
            "myriad": myriad_agg(df.value, 2.5),
        },
    )
    assert_no_python_node(agg)
    got = {(r.series_id, r.win_start): r for r in agg.collect()}
    for sid, x in signals.items():
        starts, _, ve = K.score_local(K.Energy(), x, winlen=winlen)
        _, _, vs = K.score_local(K.SoundPressureLevel(), x, winlen=winlen)
        _, _, vm = K.score_local(K.Myriad(2.5), x, winlen=winlen)
        for i, s in enumerate(starts):
            r = got[(sid, int(s))]
            assert r.energy == pytest.approx(ve[i, 0], rel=1e-12)
            assert r.spl == pytest.approx(vs[i, 0], rel=1e-12)
            assert r.myriad == pytest.approx(vm[i, 0], rel=1e-12)


def test_sliding_agg_overlap_matches_kernels(spark, signals):
    df = make_samples(spark, signals)
    winlen, noverlap = 960, 480
    agg = sliding_agg(df, winlen, noverlap, {"energy": energy_agg(df.value)})
    assert_no_python_node(agg)
    got = {(r.series_id, r.win_start): r.energy for r in agg.collect()}
    for sid, x in signals.items():
        starts, _, ve = K.score_local(K.Energy(), x, winlen=winlen, noverlap=noverlap)
        assert len([k for k in got if k[0] == sid]) == len(starts)
        for i, s in enumerate(starts):
            assert got[(sid, int(s))] == pytest.approx(ve[i, 0], rel=1e-12)


def test_zcr_windowed_matches_kernel(spark, signals):
    """Lag-based ZCR twin == kernel exactly (ZCR is a count ratio), with
    no Python node, tumbling and overlapping."""
    df = make_samples(spark, signals)
    for winlen, noverlap in [(960, 480), (1000, 0), (1000, 500)]:
        agg = zcr_windowed(df, winlen, noverlap)
        assert_no_python_node(agg)
        got = {(r.series_id, r.win_start): r.zcr for r in agg.collect()}
        for sid, x in signals.items():
            starts, _, v = K.score_local(
                K.ZeroCrossingRate(), x, winlen=winlen, noverlap=noverlap
            )
            assert len([k for k in got if k[0] == sid]) == len(starts)
            for i, s in enumerate(starts):
                assert got[(sid, int(s))] == v[i, 0], (sid, winlen, noverlap, s)


def test_score_pages_equals_samples_path(spark):
    """Page-direct windowing == samples-table windowing, bit-for-bit."""
    from afspark.operators.score import score_pages
    from afspark.sources.pages import derive_samples, generate_pages, with_series_offsets

    pages = generate_pages(spark, 150)
    feats = [K.Energy(), K.PermutationEntropy(4), K.SpectralCentroid()]
    via_samples = collect_scores(
        score(derive_samples(pages), feats, 960, 480, fs=FS)
    )
    via_pages = collect_scores(
        score_pages(with_series_offsets(pages), feats, 960, 480, fs=FS)
    )
    assert via_pages == via_samples
    assert len(via_pages) > 100
    # tiny chunks force every page to straddle chunk boundaries
    via_pages_tiny = collect_scores(
        score_pages(with_series_offsets(pages), feats, 960, 480, fs=FS,
                    target_chunk_samples=1000)
    )
    assert via_pages_tiny == via_samples


def test_preprocess_hook_bit_exact(spark, signals):
    """Reference :868,882: preprocess applied per window before scoring."""
    pre = lambda w: K.pressure(w, -6.0, 0.0)  # noqa: E731
    feats = [K.Energy(), K.SoundPressureLevel()]
    df = make_samples(spark, {"sine": signals["sine"]})
    got = collect_scores(score(df, feats, 960, 480, fs=FS, preprocess=pre))
    rows = []
    for f in feats:
        starts, names, vals = K.score_local(
            f, signals["sine"], fs=FS, winlen=960, noverlap=480, preprocess=pre
        )
        for i, s in enumerate(starts):
            for j, name in enumerate(names):
                rows.append(("sine", int(s), name, vals[i, j]))
    assert got == sorted(rows)
    # and preprocess actually changes the result
    base = collect_scores(score(df, feats, 960, 480, fs=FS))
    assert got != base
