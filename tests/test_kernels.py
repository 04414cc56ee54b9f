"""Golden-vector + analytic-oracle tests for the numpy kernel twins.

Constants ported from /root/reference/test/runtests.jl (cited per test).
These freeze the reference semantics locally; the Spark operator is then
tested for bit-identity against *these* kernels (tests/test_score_spark.py).
"""

import math

import numpy as np
import pytest

from afspark.functions import kernels as K
from afspark.functions.alphastable import (
    fit_symmetric_alpha_stable,
    myriad_constant,
    rand_symmetric_alpha_stable,
)
from afspark.functions.dsp import envelope
from afspark.functions.findpeaks import find_peaks

FS = 100_000
N = 100_000
A = 1.0
T = np.arange(N) / FS

WINLENS = [1_000, 10_000, 1_001, 10_001]
NOVERLAPS = [0, 100, 500]


def sine(freq, amp=A, n=N, fs=FS):
    return amp * np.sin(2 * np.pi * freq * np.arange(n) / fs)


def chirp(f0, f1, duration, fs):
    """Linear chirp, real part of the analytic sweep (test fixture twin)."""
    t = np.arange(int(duration * fs)) / fs
    phase = 2 * np.pi * (f0 * t + (f1 - f0) / (2 * duration) * t * t)
    return np.cos(phase)


# --- Energy (runtests.jl:22-48) --------------------------------------------

def test_energy_sine_analytic():
    x = sine(10_000)
    s, names, v = K.score_local(K.Energy(), x)
    assert names == ["Energy"]
    assert s.tolist() == [1]
    assert v[0, 0] == pytest.approx(A**2 / 2, abs=1e-3)


@pytest.mark.parametrize("winlen", WINLENS)
@pytest.mark.parametrize("noverlap", NOVERLAPS)
def test_energy_windowed_grid(winlen, noverlap):
    x = sine(10_000)
    starts, _, v = K.score_local(K.Energy(), x, fs=FS, winlen=winlen, noverlap=noverlap)
    step = winlen - noverlap
    nwin = (N - winlen) // step + 1
    assert len(starts) == nwin
    assert starts[0] == 1 and (len(starts) < 2 or starts[1] == 1 + step)
    assert np.allclose(v[:, 0], A**2 / 2, atol=1e-3)


def test_winlen_too_large_raises():
    # runtests.jl:429
    with pytest.raises(ValueError):
        K.score_local(K.Energy(), np.random.default_rng(0).normal(size=1000), winlen=1001)


# --- Myriad (runtests.jl:50-79) --------------------------------------------

def test_myriad_matches_constant():
    rng = np.random.default_rng(42)
    x = rand_symmetric_alpha_stable(rng, 1.9999, 1.0, N)
    alpha, scale = fit_symmetric_alpha_stable(x)
    sqk = myriad_constant(alpha, scale)
    _, _, v = K.score_local(K.Myriad(sqk), x)
    assert v[0, 0] / N == pytest.approx(math.log(sqk), abs=0.1)
    for winlen in [1_000, 10_001]:
        _, _, vw = K.score_local(K.Myriad(sqk), x, winlen=winlen, noverlap=100)
        assert np.allclose(vw[:, 0] / winlen, math.log(sqk), atol=0.1)


def test_alpha_stable_fit_recovery():
    # runtests.jl:218-229: alpha=1.6 scale=2.0, atol 0.1
    rng = np.random.default_rng(7)
    x = rand_symmetric_alpha_stable(rng, 1.6, 2.0, N)
    _, names, v = K.score_local(K.SymmetricAlphaStableStats(), x)
    assert names == ["α", "scale"]
    assert v[0, 0] == pytest.approx(1.6, abs=0.1)
    assert v[0, 1] == pytest.approx(2.0, abs=0.1)


def test_alpha_stable_fit_gaussian_endpoint():
    rng = np.random.default_rng(3)
    # N(0, 2) == alpha-stable(alpha=2, scale=1)
    x = rng.normal(scale=math.sqrt(2.0), size=N)
    alpha, scale = fit_symmetric_alpha_stable(x)
    assert alpha == pytest.approx(2.0, abs=0.05)
    assert scale == pytest.approx(1.0, abs=0.05)


# --- SPL (runtests.jl:138-165) ---------------------------------------------

def test_spl_sine():
    x = K.pressure(sine(10_000), 0.0, 0.0)
    _, names, v = K.score_local(K.SoundPressureLevel(), x)
    assert names == ["SPL"]
    assert v[0, 0] == pytest.approx(20 * math.log10(1 / math.sqrt(2)), abs=1e-6)
    for winlen in WINLENS:
        for noverlap in NOVERLAPS:
            _, _, vw = K.score_local(
                K.SoundPressureLevel(), x, fs=FS, winlen=winlen, noverlap=noverlap
            )
            assert np.allclose(vw[:, 0], 20 * math.log10(1 / math.sqrt(2)), atol=0.01)


# --- ImpulseStats (runtests.jl:167-215) -------------------------------------

TRUE_IDX = np.array([201, 2254, 5322, 8888])  # 1-based, as in the reference


def test_impulse_stats_planted():
    rng = np.random.default_rng(11)
    x = np.zeros(N)
    x[TRUE_IDX - 1] = 10.0
    x += 0.1 * rng.normal(size=N)
    ti = np.diff(TRUE_IDX)
    _, _, v = K.score_local(K.ImpulseStats(10, 1e-3), x, fs=FS)
    assert v[0, 0] == len(TRUE_IDX)
    assert v[0, 1] == pytest.approx(ti.mean() / FS)
    assert v[0, 2] == pytest.approx(ti.var(ddof=1) / FS)


def test_impulse_stats_template():
    rng = np.random.default_rng(12)
    m = 100
    lpad, rpad = K.get_pad_len(m)
    template = rng.normal(size=m)
    x = np.zeros(N)
    for idx in TRUE_IDX - 1:
        x[idx - lpad : idx + rpad + 1] = template
    x += 0.1 * rng.normal(size=N)
    ti = np.diff(TRUE_IDX)
    for height in [None, 0.85]:
        f = K.ImpulseStats(5, 1e-3, False, tuple(template), height)
        _, _, v = K.score_local(f, x, fs=FS)
        assert v[0, 0] == len(TRUE_IDX)
        assert v[0, 1] == pytest.approx(ti.mean() / FS)
        assert v[0, 2] == pytest.approx(ti.var(ddof=1) / FS)


def test_impulse_stats_nan():
    # runtests.jl:207-213 exact: [3, 3.5, 0.5]
    x = np.array([1, 2, 100, 2, 1, 50, 1, -1, 3, 150, 3, 1, np.nan, 5])
    f = K.ImpulseStats(0.1, 0.1, False, (1.0, 2.0, 1.0))
    _, _, v = K.score_local(f, x, fs=1.0)
    assert v[0, 0] == 3
    assert v[0, 1] == 3.5
    assert v[0, 2] == 0.5


# --- Entropy (runtests.jl:234-246) ------------------------------------------

def test_entropy_pure_tone():
    x = sine(3125)
    _, names, v = K.score_local(K.Entropy(256, 128), x, fs=FS)
    assert names == ["Temporal Entropy", "Spectral Entropy", "Entropy Index"]
    assert v[0, 0] == pytest.approx(1.0, abs=1e-2)
    assert v[0, 1] == pytest.approx(0.0, abs=2e-1)
    assert v[0, 2] == pytest.approx(0.0, abs=2e-1)


# --- ZCR (runtests.jl:248-262) ----------------------------------------------

def test_zcr_exact():
    x = np.array([100.0, 1.0, -2.0, 2.0, -100.0, 0.0, 10.0])
    _, _, v = K.score_local(K.ZeroCrossingRate(), x)
    assert v[0, 0] == 4 / (len(x) - 1)
    x = np.array([1.0, -1.0, 1.0, -1.0, 1.0])
    _, _, v = K.score_local(K.ZeroCrossingRate(), x)
    assert v[0, 0] == 1.0


# --- SpectralCentroid / Flatness (runtests.jl:264-292) -----------------------

def test_spectral_centroid_tone():
    x = sine(6250)
    _, _, v = K.score_local(K.SpectralCentroid(), x, fs=FS)
    assert v[0, 0] == pytest.approx(6250, abs=1e-4)


def test_spectral_flatness_tone_vs_noise():
    x = sine(6250)
    _, _, v = K.score_local(K.SpectralFlatness(), x)
    assert v[0, 0] == pytest.approx(0.0, abs=1e-4)
    noise = np.random.default_rng(5).normal(size=N)
    _, _, vn = K.score_local(K.SpectralFlatness(), noise)
    assert vn[0, 0] > v[0, 0]


def test_spectral_flatness_all_zero_window_nan_no_warning():
    """Flatness of silence is 0/0 = NaN by design, and the kernel must
    not leak RuntimeWarnings (real warnings would drown in the property
    suite otherwise)."""
    import warnings

    zeros = np.zeros(64)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        _, _, v = K.score_local(K.SpectralFlatness(), zeros)
        vb = K.SpectralFlatness().compute_batch(np.zeros((3, 64)))
    assert np.isnan(v[0, 0])
    assert np.isnan(vb).all() and vb.shape == (3, 1)


def test_spectral_centroid_all_zero_window_nan_no_warning():
    """Centroid of silence is 0/0 = NaN by design; warning-clean like
    flatness (the property suite showed it leaking RuntimeWarnings)."""
    import warnings

    zeros = np.zeros(64)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        _, _, v = K.score_local(K.SpectralCentroid(), zeros)
        vb = K.SpectralCentroid().compute_batch(np.zeros((3, 64)))
    assert np.isnan(v[0, 0])
    assert np.isnan(vb).all() and vb.shape == (3, 1)


# --- PermutationEntropy goldens (runtests.jl:294-337) ------------------------

PE_X = np.array([4, 7, 9, 10, 6, 11, 3], dtype=float)


@pytest.mark.parametrize(
    "tau,norm,weighted,expected",
    [
        (1, False, False, 1.5219),
        (1, True, False, 0.5887),
        (2, False, False, 1.5850),
        (2, True, False, 0.6131),
        (1, False, True, 1.4140),
        (1, True, True, 0.5470),
        (2, False, True, 1.5233),
        (2, True, True, 0.5893),
    ],
)
def test_permutation_entropy_goldens(tau, norm, weighted, expected):
    f = K.PermutationEntropy(3, tau, norm, weighted)
    _, _, v = K.score_local(f, PE_X)
    assert v[0, 0] == pytest.approx(expected, abs=1e-4)


def test_pe_defaults_match():
    v1 = K.score_local(K.PermutationEntropy(3), PE_X)[2]
    v2 = K.score_local(K.PermutationEntropy(3, 1, True, False), PE_X)[2]
    assert v1[0, 0] == v2[0, 0]


# --- ordinal-pattern codes: lookup table, rank form, pane-shared grid -----------

def _pattern_fixture(rng, shape, kind):
    """Byte-valued samples (many ties), Gaussian, or bytes with NaNs."""
    if kind == "gauss":
        return rng.normal(size=shape)
    x = rng.integers(0, 6, size=shape).astype(float)
    if kind == "nan":
        x[rng.random(shape) < 0.05] = np.nan
    return x


@pytest.mark.parametrize("m", [2, 3, 4, 5])
@pytest.mark.parametrize("tau", [1, 2])
def test_pattern_codes_equal_rank_form(m, tau):
    rng = np.random.default_rng(100 * m + tau)
    for kind in ("bytes", "gauss", "nan"):
        X = _pattern_fixture(rng, (7, 97), kind)
        for arr in (X, X[:, ::-1], X[3]):  # contiguous, strided, 1-D
            got = K._pattern_codes(arr, m, tau)
            assert np.array_equal(got, K._rank_codes(arr, m, tau)), kind
        if kind != "nan":
            # the rank form is the stable argsort's base-m digit code
            n = X.shape[1] - tau * (m - 1)
            tuples = np.stack([X[:, k * tau : k * tau + n] for k in range(m)], -1)
            perm = np.argsort(tuples, axis=-1, kind="stable")
            want = (perm * m ** np.arange(m)).sum(axis=-1)
            assert np.array_equal(K._rank_codes(X, m, tau), want)


def test_compute_grid_equals_compute_batch_fuzz():
    """Seeded fuzz: the pane-shared grid path returns exactly what
    ``compute_batch`` returns on the gathered windows, for every pattern
    kernel, at every step from 1 to winlen (NaN-aware equality)."""
    rng = np.random.default_rng(20_261_020)
    kinds = ("bytes", "gauss", "nan")
    for case in range(150):
        m = int(rng.integers(2, 7))
        tau = int(rng.integers(1, 3))
        winlen = int(rng.integers(tau * (m - 1) + 1, 48 if m == 6 else 160))
        step = int(rng.integers(1, winlen + 1))
        nwin = int(rng.integers(1, 12))
        i0 = int(rng.integers(1, 9))
        x = _pattern_fixture(
            rng, i0 + (nwin - 1) * step + winlen + int(rng.integers(0, 6)),
            kinds[case % 3],
        )
        W = K.grid_windows(x, i0, step, nwin, winlen)
        for f in (
            K.PermutationEntropy(m, tau),
            K.PermutationEntropy(m, tau, False),
            K.PermutationEntropy(m, tau, True, True),  # weighted: base form
            K.StatisticalComplexity(m, tau),
        ):
            with np.errstate(divide="ignore", invalid="ignore"):
                got = f.compute_grid(x, i0, step, nwin, winlen)
                want = f.compute_batch(W)
            assert np.array_equal(got, want, equal_nan=True), (case, f, step)


def test_dense_evaluator_takes_compute_grid(monkeypatch):
    """The score operator's chunk evaluator runs PE through
    ``compute_grid``: with PE's ``compute_batch`` disabled it still returns
    the ``score_local`` values."""
    from afspark.operators.score import _make_dense_evaluator
    from afspark.operators.windows import make_chunk_spec

    rng = np.random.default_rng(5)
    x = (rng.integers(0, 256, 12_000) - 127.5) / 127.5
    feats = [K.PermutationEntropy(4), K.Energy()]
    spec = make_chunk_spec(1024, 512, 4096)
    want = [K.score_local(f, x, winlen=1024, noverlap=512)[2] for f in feats]

    def refuse(self, W, fs=1.0):
        raise AssertionError("PE ran compute_batch")

    monkeypatch.setattr(K.PermutationEntropy, "compute_batch", refuse)
    evaluate = _make_dense_evaluator(feats, spec, 1.0, None)
    vals = x[: spec.chunk_span + spec.halo]  # chunk 0 plus its halo
    sid, win_start, feature, value = evaluate("s", 0, 1, vals)
    nwin = spec.chunk_span // spec.step
    assert win_start[:nwin].tolist() == (1 + 512 * np.arange(nwin)).tolist()
    assert set(feature[:nwin]) == {"Permutation Entropy"}
    assert np.array_equal(value[:nwin], want[0][:nwin, 0])
    assert np.array_equal(value[nwin:], want[1][:nwin, 0])


# --- StatisticalComplexity goldens (runtests.jl:379-400) ----------------------

def test_statistical_complexity_goldens():
    _, _, v1 = K.score_local(K.StatisticalComplexity(3, 1), PE_X)
    _, _, v2 = K.score_local(K.StatisticalComplexity(3, 2), PE_X)
    assert v1[0, 0] == pytest.approx(0.2899, abs=1e-4)
    assert v2[0, 0] == pytest.approx(0.2915, abs=1e-4)


# --- PSD (runtests.jl:339-349) -----------------------------------------------

def test_psd_argmax_at_tone():
    fs = 96_000
    x = np.cos(2 * np.pi * 3000 * np.arange(int(0.1 * fs)) / fs)
    f = K.PSD(64, 32, fs)
    _, names, v = K.score_local(f, x, fs=fs)
    assert names[int(np.argmax(v[0]))] == "PSD-3000.0Hz"


# --- ACI (runtests.jl:351-377) ------------------------------------------------

def test_aci_chirp_vs_cw():
    fs = 96_000
    rng = np.random.default_rng(21)
    s1 = chirp(1000, 48_000, 5.0, fs) + rng.normal(size=5 * fs)
    s2 = np.cos(2 * np.pi * 1000 * np.arange(5 * fs) / fs) + rng.normal(size=5 * fs)
    for kwargs in [
        dict(amplitude=True, threshold_db=None),
        dict(amplitude=False, threshold_db=None),
        dict(amplitude=False, threshold_db=-10.0),
    ]:
        f = K.AcousticComplexityIndex(1048, 0, 30, **kwargs)
        v1 = K.score_local(f, s1, fs=fs)[2][0, 0]
        v2 = K.score_local(f, s2, fs=fs)[2][0, 0]
        assert v1 > v2
    f = K.AcousticComplexityIndex(1048, 0, 10_000, False, -10.0)  # jbin > ncols
    assert K.score_local(f, s1, fs=fs)[2][0, 0] > K.score_local(f, s2, fs=fs)[2][0, 0]


# --- ADI (runtests.jl:402-424) --------------------------------------------------

def test_adi_multiband_vs_single():
    fs = 2000
    s1 = sum(chirp(f0, f0 + 100, 5.0, fs) for f0 in [100, 200, 300, 400])
    s2 = chirp(100, 200, 5.0, fs)
    for thr in [-30.0, -50.0]:
        f = K.AcousticDiversityIndex(128, 64, 50.0, (50.0, 1000.0), thr)
        v1 = K.score_local(f, s1, fs=fs)[2][0, 0]
        v2 = K.score_local(f, s2, fs=fs)[2][0, 0]
        assert v1 > v2
    f = K.AcousticDiversityIndex(128, 64, 50.0, (50.0, 1000.0))
    assert K.score_local(f, np.zeros(100_000), fs=fs)[2][0, 0] == 0.0


# --- FrequencyContours (runtests.jl:81-136) -------------------------------------

def test_frequency_contours_double_vs_single_chirp():
    duration = N / FS
    x1 = chirp(10_000, 50_000, duration, FS) + chirp(1_000, 20_000, duration, FS)
    x2 = chirp(10_000, 50_000, duration, FS)
    f = K.FrequencyContours(512, 256, 1.0, 1000.0, 99.0, 1000.0, 0.05)
    v1 = K.score_local(f, x1, fs=FS)[2][0, 0]
    v2 = K.score_local(f, x2, fs=FS)[2][0, 0]
    assert v1 > v2
    for winlen in [10_000, 10_001]:
        for noverlap in [0, 100, 500]:
            w1 = K.score_local(f, x1, fs=FS, winlen=winlen, noverlap=noverlap)[2]
            w2 = K.score_local(f, x2, fs=FS, winlen=winlen, noverlap=noverlap)[2]
            assert np.all(w2[:, 0] < w1[:, 0])


# --- utils (runtests.jl:434-496) -------------------------------------------------

def test_normalize_envelope_edge_cases():
    assert np.array_equal(K.normalize_envelope(np.zeros(10_000)), np.zeros(10_000))
    x = np.ones(10_000)
    assert np.allclose(K.normalize_envelope(x), np.zeros(10_000), atol=1e-6 * len(x))


def test_spectrum_flatten_goldens():
    x = np.array([1, 2, 3, 4, 5, 6, 7], dtype=float)
    expected = x - np.array([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 6.0])
    assert np.array_equal(K.spectrum_flatten(x, 3), expected)
    m = np.arange(1, 22, dtype=float).reshape(3, 7)
    row_med = np.array(
        [[1, 2, 3, 4, 5, 6, 6], [8, 9, 10, 11, 12, 13, 13], [15, 16, 17, 18, 19, 20, 20]],
        dtype=float,
    )
    col_med = np.array(
        [[1, 2, 3, 4, 5, 6, 7], [8, 9, 10, 11, 12, 13, 14], [8, 9, 10, 11, 12, 13, 14]],
        dtype=float,
    )
    assert np.array_equal(K.spectrum_flatten_mat(m, 3, dims=2), m - row_med)
    assert np.array_equal(K.spectrum_flatten_mat(m, 3, dims=1), m - col_med)


def test_pressure_voltparams():
    nbits, vref = 16, 1.0
    x = np.cos(2 * np.pi * 64 * np.arange(512) / 512)
    xvolt = vref * x
    xbit = xvolt * (2 ** (nbits - 1))
    p1 = K.pressure(xvolt, 0.0, 0.0)
    p2 = K.pressure(xbit, 0.0, 0.0, voltparams=(nbits, vref))
    assert np.array_equal(p1, p2)


def test_get_pad_len_parity():
    for m in range(2, 11, 2):
        assert K.get_pad_len(m) == ((m - 1) // 2, m // 2)
    for m in range(1, 11, 2):
        assert K.get_pad_len(m) == (m // 2, m // 2)


def test_ordinal_patterns_goldens():
    p = np.arange(1, 8, dtype=float)
    assert K.ordinal_patterns(p, 3, 1).tolist() == [1.0]
    assert K.ordinal_patterns(p, 3, 2).tolist() == [1.0]
    p = np.array([1, 2, 1, 2, 1, 2, 1], dtype=float)
    assert np.allclose(K.ordinal_patterns(p, 3, 1), [0.6, 0.4])
    assert K.ordinal_patterns(p, 3, 2).tolist() == [1.0]


def test_norm_cross_corr_planted():
    rng = np.random.default_rng(9)
    n, m = 1000, 10
    x = rng.normal(size=n)
    index = 500
    lpad, rpad = K.get_pad_len(m)
    template = x[index - lpad : index + rpad + 1]
    s = K.norm_cross_corr(x, template)
    assert s[index] == pytest.approx(1.0)
    mask = np.ones(n, dtype=bool)
    mask[index] = False
    assert np.all(s[mask] < 1.0)


def test_find_peaks_plateau_and_distance():
    x = np.array([0, 1, 1, 0, 2, 0, 3, 0], dtype=float)
    assert find_peaks(x).tolist() == [1, 4, 6]
    assert find_peaks(x, distance=3).tolist() == [1, 6]  # 4 suppressed by 6
    assert find_peaks(x, distance=6).tolist() == [6]
    assert find_peaks(x, height=1.5).tolist() == [4, 6]


def test_window_starts_formula():
    # hop arithmetic parity with the reference grid (runtests.jl:28-29)
    for xlen in [100_000]:
        for winlen in WINLENS:
            for noverlap in NOVERLAPS:
                step = winlen - noverlap
                s = K.window_starts(xlen, winlen, noverlap)
                assert s[0] == 1
                assert np.all(np.diff(s) == step)
                assert s[-1] + winlen - 1 <= xlen
                assert s[-1] + step + winlen - 1 > xlen


def test_contour_restart_branch_labels_one():
    """Reference :305 labels RESTARTED contours (first peaks after a
    peak-free prefix) with literal column 1, so they cannot chain into
    the following column unless it is column index 2.  Hand-traced:
    peak-free cols 0-1, then a peak at row 2 in cols 2 and 3 -> two
    length-1 contours, NOT one chained length-2 contour."""
    p = np.zeros((5, 4))
    p[2, 2] = 1.0
    p[2, 3] = 1.0
    freqs = np.array([0.0, 10.0, 20.0, 30.0, 40.0])

    def col_peaks(col):
        return np.nonzero(col > 0.5)[0]

    ctrs = K.link_frequency_contours(p, freqs, col_peaks, fd=15.0)
    assert ctrs == [[(2, 1)], [(2, 3)]]


def test_contour_restart_chains_only_into_column_two():
    """The reference quirk in the other direction: a restart at column
    index 2 (0-based col 2 == Julia loop i=2)... peaks in cols 1 and 2
    DO chain because the restart label 1 equals i-1 == 1 at i=2."""
    p = np.zeros((5, 4))
    p[2, 1] = 1.0
    p[2, 2] = 1.0
    freqs = np.array([0.0, 10.0, 20.0, 30.0, 40.0])

    def col_peaks(col):
        return np.nonzero(col > 0.5)[0]

    ctrs = K.link_frequency_contours(p, freqs, col_peaks, fd=15.0)
    assert ctrs == [[(2, 1), (2, 2)]]


def test_mcculloch_full_tables_at_grid_nodes():
    """Bilinear interpolator reproduces published table values exactly at
    the grid nodes (McCulloch 1986 Tables I-III)."""
    from afspark.functions import alphastable as ast

    # Table I corners/interior
    assert ast._bilinear(ast._NU_ALPHA, ast._NU_BETA, ast._PSI1, 2.439, 0.0) == 2.0
    assert ast._bilinear(ast._NU_ALPHA, ast._NU_BETA, ast._PSI1, 25.0, 0.0) == 0.593
    assert ast._bilinear(ast._NU_ALPHA, ast._NU_BETA, ast._PSI1, 5.0, 1.0) == 0.973
    assert ast._bilinear(ast._NU_ALPHA, ast._NU_BETA, ast._PSI1, 3.5, 0.5) == 1.337
    # Table II
    assert ast._bilinear(ast._NU_ALPHA, ast._NU_BETA, ast._PSI2, 4.0, 0.2) == 0.271
    # Table III (ascending alpha grid)
    ag = ast._ALPHA_GRID[::-1]
    assert ast._bilinear(ag, ast._BETA_GRID, ast._PSI3[::-1], 2.0, 0.0) == 1.908
    assert ast._bilinear(ag, ast._BETA_GRID, ast._PSI3[::-1], 0.5, 1.0) == 9.144
    assert ast._bilinear(ag, ast._BETA_GRID, ast._PSI3[::-1], 1.0, 0.5) == 2.311


def test_mcculloch_full_fit_recovers_skewed_params():
    """Full (alpha, beta) recovery on skewed CMS draws — the reference's
    fit(AlphaStable, x) path; the beta=0-only fit cannot see the skew."""
    from afspark.functions.alphastable import (
        fit_alpha_stable_full,
        rand_alpha_stable,
    )

    rng = np.random.default_rng(7)
    x = rand_alpha_stable(rng, alpha=1.5, beta=0.6, scale=2.0, size=200_000)
    alpha, beta, scale, _loc = fit_alpha_stable_full(x)
    assert alpha == pytest.approx(1.5, abs=0.1)
    assert beta == pytest.approx(0.6, abs=0.2)
    assert scale == pytest.approx(2.0, abs=0.2)
    # negative skew mirrors
    xn = rand_alpha_stable(rng, alpha=1.5, beta=-0.6, scale=2.0, size=200_000)
    _, beta_n, _, _ = fit_alpha_stable_full(xn)
    assert beta_n == pytest.approx(-0.6, abs=0.2)


def test_mcculloch_full_fit_gaussian_endpoint():
    from afspark.functions.alphastable import fit_alpha_stable_full

    rng = np.random.default_rng(11)
    x = rng.normal(0.0, 3.0, 100_000)
    alpha, beta, scale, loc = fit_alpha_stable_full(x)
    assert alpha == pytest.approx(2.0, abs=0.05)
    assert beta == 0.0
    # for alpha=2 (Gaussian sigma), stable scale c = sigma/sqrt(2)
    assert scale == pytest.approx(3.0 / math.sqrt(2.0), abs=0.1)
    assert loc == pytest.approx(0.0, abs=0.1)


def test_myriad_fitted_constant_uses_full_fit_on_skewed_data():
    """Myriad() with no constant fits AlphaStable (reference utils.jl:34):
    on skewed data the full fit's alpha differs from the symmetric
    assumption, and the fitted myriad constant follows the full fit."""
    from afspark.functions.alphastable import (
        fit_alpha_stable,
        fit_alpha_stable_full,
        fit_symmetric_alpha_stable,
        rand_alpha_stable,
    )

    rng = np.random.default_rng(3)
    x = rand_alpha_stable(rng, alpha=1.3, beta=0.8, scale=1.0, size=100_000)
    a_full, _, c_full, _ = fit_alpha_stable_full(x)
    a_sym, _c_sym = fit_symmetric_alpha_stable(x)
    assert a_full != a_sym  # the skew is visible to the full fit only
    assert fit_alpha_stable(x) == (a_full, c_full)
    got = K.Myriad().compute(x[:4096])
    want = np.sum(np.log(myriad_constant(*fit_alpha_stable(x[:4096])) + x[:4096] ** 2))
    assert got[0] == want


def test_envelope_energy_preserving_convention():
    """SignalAnalysis.jl's analytic() is documented energy-preserving
    (rms(analytic(x)) == rms(x)), i.e. the standard Hilbert analytic
    signal divided by sqrt(2); the reference envelope = abs(analytic(x)).
    Pin it: a unit tone's envelope is 1/sqrt(2), and energy is preserved
    (sum(env^2) == sum(x^2) for a zero-mean signal up to the Nyquist-bin
    residual)."""
    n = 4096
    t = np.arange(n) / 1000.0
    x = np.cos(2 * np.pi * 50.0 * t)
    env = envelope(x)
    mid = env[200:-200]  # away from FFT edge effects
    assert np.allclose(mid, 1.0 / np.sqrt(2.0), atol=2e-2)
    rng = np.random.default_rng(5)
    y = rng.normal(size=n)
    y -= y.mean()
    # exact only when the DC and Nyquist bins vanish; mean removal
    # zeroes DC, the Nyquist bin leaves a ~1e-5 relative residual
    assert np.sum(envelope(y) ** 2) == pytest.approx(np.sum(y * y), rel=1e-3)


def test_alpha_stable_fit_cauchy_adjacent():
    """alpha ~ 1 coverage (VERDICT r3 item 7): Cauchy-adjacent draws
    (alpha in [0.95, 1.05], incl. exactly 1.0 via the sampler's tan(u)
    branch) must recover through the McCulloch TABLE interpolation —
    the alpha=1 row of the grids, not the fixture sampler — within the
    reference's atol 0.1; the fitted-Myriad path must agree with the
    constant computed from the recovered (alpha, scale)."""
    from afspark.functions.alphastable import (
        fit_alpha_stable_full,
        myriad_constant,
        rand_symmetric_alpha_stable,
    )

    rng = np.random.default_rng(17)
    for alpha_true in (0.95, 1.0, 1.05):
        x = rand_symmetric_alpha_stable(rng, alpha_true, 1.5, N)
        _, names, v = K.score_local(K.SymmetricAlphaStableStats(), x)
        a_hat, c_hat = v[0, 0], v[0, 1]
        assert a_hat == pytest.approx(alpha_true, abs=0.1), alpha_true
        assert c_hat == pytest.approx(1.5, abs=0.15), alpha_true
        # full-table path agrees near beta=0
        a_full, beta, c_full, _ = fit_alpha_stable_full(x)
        assert a_full == pytest.approx(alpha_true, abs=0.1)
        assert abs(beta) < 0.2
        assert c_full == pytest.approx(1.5, abs=0.15)
        # fitted Myriad = sum(log(k + x^2)) with k from the SAME full fit
        _, _, vm = K.score_local(K.Myriad(), x)
        sqk = myriad_constant(float(a_full), float(c_full))
        assert vm[0, 0] == pytest.approx(float(np.sum(np.log(sqk + x * x))))


def test_cms_sampler_alpha_one_skewed_branch():
    """The alpha==1 CMS branch (logarithmic form): skewed Cauchy draws
    recover (alpha ~ 1, beta, scale) through the full McCulloch fit, and
    beta=0 degenerates to the symmetric sampler's tan(u) law."""
    from afspark.functions.alphastable import (
        fit_alpha_stable_full,
        rand_alpha_stable,
    )

    rng = np.random.default_rng(23)
    x = rand_alpha_stable(rng, alpha=1.0, beta=0.5, scale=2.0, size=300_000)
    alpha, beta, scale, _ = fit_alpha_stable_full(x)
    assert alpha == pytest.approx(1.0, abs=0.1)
    assert beta == pytest.approx(0.5, abs=0.2)
    assert scale == pytest.approx(2.0, abs=0.2)
    # beta=0 at alpha=1 is standard Cauchy: IQR of scale*tan(u) is 2*scale
    x0 = rand_alpha_stable(rng, alpha=1.0, beta=0.0, scale=1.0, size=300_000)
    q75, q25 = np.percentile(x0, [75, 25])
    assert (q75 - q25) == pytest.approx(2.0, abs=0.05)


def test_alpha1_sampler_scale_location_correction():
    """S1 scaling at alpha=1 is affine, not multiplicative (Weron 1996):
    sigma*X + (2/pi)*beta*sigma*ln(sigma) — same rng seed makes the
    identity exact elementwise."""
    import numpy as np

    from afspark.functions.alphastable import rand_alpha_stable

    beta, sigma = 0.5, 10.0
    a = rand_alpha_stable(np.random.default_rng(42), 1.0, beta, sigma, 5000)
    b = rand_alpha_stable(np.random.default_rng(42), 1.0, beta, 1.0, 5000)
    want = sigma * b + (2.0 / np.pi) * beta * sigma * np.log(sigma)
    assert np.allclose(a, want, rtol=0, atol=1e-12)
