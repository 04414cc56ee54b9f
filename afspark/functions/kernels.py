"""The 15 windowed feature kernels + utility functions of the reference.

Pure numpy re-implementations of the semantics documented in SURVEY.md §2.4
and §2.5 (reference: /root/reference/src/AcousticFeatures.jl:196-852 and
/root/reference/src/utils.jl).  No Spark imports here — the same code runs
inside Arrow-batched pandas UDFs (operators/score.py) and in local golden
tests, which is what makes the distributed path bit-identical to the local
path.

Each feature is a frozen config object with:
  * ``names()``  — output feature labels (fixed arity),
  * ``compute(x, fs)`` — one window -> float64 vector of that arity,
  * ``compute_batch(W, fs)`` — (nwin, winlen) -> (nwin, arity); vectorized
    where the math allows, otherwise a loop over ``compute``,
  * ``compute_grid(x, i0, step, nwin, winlen, fs)`` — the windows
    ``x[i0 + k*step : i0 + k*step + winlen]``, k < nwin -> (nwin, arity),
    bit-identical to ``compute_batch`` over those windows (its base form);
    PermutationEntropy and StatisticalComplexity override it to code each
    sample once and share pattern counts across overlapping windows.  The
    score operators call it through ``score_grid``.
"""

from __future__ import annotations

import functools
import math
from dataclasses import dataclass, field
from typing import Sequence

import numpy as np

from .alphastable import (
    fit_alpha_stable,
    fit_symmetric_alpha_stable,
    myriad_constant,
)
from .dsp import (
    EPS,
    db2amp,
    db2pow,
    envelope,
    hann_window,
    pow2db,
    spectrogram_power,
    welch_power,
)
from .findpeaks import find_peaks

# Julia StatsBase mad(normalize=true) constant: 1/quantile(Normal(), 3/4).
MAD_NORMALIZE = 1.4826022185056018


# ---------------------------------------------------------------------------
# utils (reference src/utils.jl)
# ---------------------------------------------------------------------------

def get_pad_len(winlen: int) -> tuple[int, int]:
    """(left, right) pad lengths — utils.jl:77-85 semantics."""
    if winlen % 2 == 0:
        return (winlen - 1) // 2, winlen // 2
    return winlen // 2, winlen // 2


def spectrum_flatten(x: np.ndarray, nnorm: int) -> np.ndarray:
    """Rolling-median flatten + clamp >= 0 — utils.jl:6-18 semantics.

    1-D: centered rolling median of width nnorm over a zero-padded copy;
    if nnorm >= len(x), subtract the global median instead.
    """
    x = np.asarray(x, dtype=np.float64)
    if x.ndim == 2:
        raise ValueError("use spectrum_flatten_mat for matrices")
    if nnorm >= len(x):
        out = x - np.median(x)
    else:
        lpad, rpad = get_pad_len(nnorm)
        xpad = np.concatenate([np.zeros(lpad), x, np.zeros(rpad)])
        windows = np.lib.stride_tricks.sliding_window_view(xpad, nnorm)
        out = x - np.median(windows, axis=1)
    out[out < 0] = 0.0
    return out


def spectrum_flatten_mat(x: np.ndarray, nnorm: int, dims: int = 2) -> np.ndarray:
    """Row-wise (dims=2, default) or column-wise (dims=1) flatten."""
    x = np.asarray(x, dtype=np.float64)
    if dims == 2:
        return np.stack([spectrum_flatten(row, nnorm) for row in x], axis=0)
    return np.stack([spectrum_flatten(col, nnorm) for col in x.T], axis=1)


def normalize_envelope(x: np.ndarray) -> np.ndarray:
    """env / (sum(env) + eps) — utils.jl:61-64."""
    env = envelope(x)
    return env / (env.sum() + EPS)


def normalize_spectrum(s: np.ndarray) -> np.ndarray:
    """Per-frequency time-sums normalized to 1 — utils.jl:69-72."""
    sf = s.sum(axis=1)
    return sf / sf.sum()


def pressure(
    x: float | np.ndarray,
    sensitivity: float,
    gain: float,
    voltparams: tuple[int, float] | None = None,
):
    """Volts/bits -> micropascal — utils.jl:41-49."""
    nu = 10.0 ** (sensitivity / 20.0)
    g = 10.0 ** (gain / 20.0)
    x = np.asarray(x, dtype=np.float64)
    if voltparams is not None:
        nbits, vref = voltparams
        x = x * (vref / (2 ** (nbits - 1)))
    return x / (nu * g)


def ordinal_patterns(
    x: np.ndarray, m: int, tau: int = 1, weighted: bool = False
) -> np.ndarray:
    """Ordinal pattern probabilities — utils.jl:90-110 semantics.

    Stable argsort (ties keep first-index order), weights = sample variance
    of the tuple when ``weighted``; probabilities returned in order of first
    appearance (matters only for the unit test; entropy is order-free).
    """
    x = np.asarray(x, dtype=np.float64)
    n = len(x) - tau * m + tau
    if n <= 0:
        return np.empty(0)
    # (n, m) matrix of m-tuples with stride tau
    idx = np.arange(n)[:, None] + tau * np.arange(m)[None, :]
    tuples = x[idx]
    patterns = np.argsort(tuples, axis=1, kind="stable")
    uniq, first_idx, inverse = np.unique(
        patterns, axis=0, return_index=True, return_inverse=True
    )
    weights = tuples.var(axis=1, ddof=1) if weighted else np.ones(n)
    counts = np.bincount(inverse, weights=weights, minlength=len(uniq))
    order = np.argsort(first_idx, kind="stable")  # first-appearance order
    counts = counts[order]
    return counts / counts.sum()


def norm_cross_corr(x: np.ndarray, template: np.ndarray) -> np.ndarray:
    """Sliding Pearson correlation vs template, centered zero padding.

    utils.jl:112-121 semantics; output has the same length as ``x``.
    """
    x = np.asarray(x, dtype=np.float64)
    t = np.asarray(template, dtype=np.float64)
    m = len(t)
    lpad, rpad = get_pad_len(m)
    xpad = np.concatenate([np.zeros(lpad), x, np.zeros(rpad)])
    windows = np.lib.stride_tricks.sliding_window_view(xpad, m)  # (len(x), m)
    wc = windows - windows.mean(axis=1, keepdims=True)
    tc = t - t.mean()
    num = wc @ tc
    den = np.sqrt((wc * wc).sum(axis=1) * (tc * tc).sum())
    with np.errstate(invalid="ignore", divide="ignore"):
        return num / den


# ---------------------------------------------------------------------------
# feature configs (reference src/AcousticFeatures.jl:51-162)
# ---------------------------------------------------------------------------

class Feature:
    """Base feature config — analog of AbstractAcousticFeature (:44)."""

    key: str = ""

    def names(self) -> list[str]:
        raise NotImplementedError

    def arity(self) -> int:
        return len(self.names())

    def compute(self, x: np.ndarray, fs: float = 1.0) -> np.ndarray:
        raise NotImplementedError

    def compute_batch(self, W: np.ndarray, fs: float = 1.0) -> np.ndarray:
        """(nwin, winlen) -> (nwin, arity); default loops ``compute``."""
        return np.stack([self.compute(w, fs) for w in W], axis=0)

    def compute_grid(
        self, x: np.ndarray, i0: int, step: int, nwin: int, winlen: int,
        fs: float = 1.0,
    ) -> np.ndarray:
        """The windows ``x[i0 + k*step : i0 + k*step + winlen]``, k < nwin
        -> (nwin, arity).  Base form: ``compute_batch`` over those windows
        gathered into one (nwin, winlen) array; kernels that can share work
        across overlapping windows override it, bit-identically."""
        return self.compute_batch(grid_windows(x, i0, step, nwin, winlen), fs)


def grid_windows(
    x: np.ndarray, i0: int, step: int, nwin: int, winlen: int
) -> np.ndarray:
    """(nwin, winlen) copy of the windows of ``x`` starting at
    ``i0 + k*step``, k < nwin."""
    starts = i0 + step * np.arange(nwin, dtype=np.int64)
    return np.lib.stride_tricks.sliding_window_view(x, winlen)[starts]


def score_grid(
    features: Sequence[Feature], x: np.ndarray, i0: int, step: int, nwin: int,
    winlen: int, fs: float = 1.0,
) -> list[np.ndarray]:
    """Each feature's ``compute_grid`` over one window grid of ``x``.

    The features that keep the base form share one gathered window array
    (the base form is ``compute_batch`` over it) instead of each gathering
    its own."""
    W = None
    out = []
    for f in features:
        if type(f).compute_grid is not Feature.compute_grid:
            out.append(f.compute_grid(x, i0, step, nwin, winlen, fs))
            continue
        if W is None:
            W = grid_windows(x, i0, step, nwin, winlen)
        out.append(f.compute_batch(W, fs))
    return out


@dataclass(frozen=True)
class Energy(Feature):
    """mean(x^2) — reference :196."""

    key: str = "energy"

    def names(self):
        return ["Energy"]

    def compute(self, x, fs=1.0):
        return np.array([np.mean(x * x)])

    def compute_batch(self, W, fs=1.0):
        return np.mean(W * W, axis=1)[:, None]


@dataclass(frozen=True)
class Myriad(Feature):
    """sum(log(sqKscale + x^2)) — reference :229-233.

    sq_kscale None -> per-window alpha-stable fit (utils.jl:33-36).
    """

    sq_kscale: float | None = None
    key: str = "myriad"

    def names(self):
        return ["Myriad"]

    def compute(self, x, fs=1.0):
        k = self.sq_kscale
        if k is None:
            k = myriad_constant(*fit_alpha_stable(x))
        return np.array([np.sum(np.log(k + x * x))])

    def compute_batch(self, W, fs=1.0):
        if self.sq_kscale is None:
            return super().compute_batch(W, fs)
        return np.sum(np.log(self.sq_kscale + W * W), axis=1)[:, None]


@dataclass(frozen=True)
class SoundPressureLevel(Feature):
    """20*log10(rms/ref) — reference :362-365."""

    ref: float = 1.0
    key: str = "spl"

    def names(self):
        return ["SPL"]

    def compute(self, x, fs=1.0):
        rms = np.sqrt(np.mean(x * x))
        with np.errstate(divide="ignore"):  # all-zero window -> -inf, by design
            return np.array([20.0 * np.log10(rms / self.ref)])

    def compute_batch(self, W, fs=1.0):
        rms = np.sqrt(np.mean(W * W, axis=1))
        with np.errstate(divide="ignore"):
            return (20.0 * np.log10(rms / self.ref))[:, None]


@dataclass(frozen=True)
class ZeroCrossingRate(Feature):
    """count(diff(x > 0) != 0)/(n-1) — reference :529-531."""

    key: str = "zcr"

    def names(self):
        return ["ZCR"]

    def compute(self, x, fs=1.0):
        b = x > 0
        return np.array([np.count_nonzero(b[1:] != b[:-1]) / (len(x) - 1)])

    def compute_batch(self, W, fs=1.0):
        b = W > 0
        cnt = np.count_nonzero(b[:, 1:] != b[:, :-1], axis=1)
        return (cnt / (W.shape[1] - 1))[:, None]


@dataclass(frozen=True)
class SpectralCentroid(Feature):
    """sum(|rfft|*f)/sum(|rfft|) — reference :563-567."""

    key: str = "spectral_centroid"

    def names(self):
        return ["Spectral Centroid"]

    def compute(self, x, fs=1.0):
        m = np.abs(np.fft.rfft(x))
        f = np.fft.rfftfreq(len(x), d=1.0 / fs)
        # all-zero window: 0/0 = NaN by design (centroid of silence is
        # undefined, matching the reference's 0/0); silence the invalid
        # warning so real ones stay visible
        with np.errstate(invalid="ignore"):
            return np.array([np.sum(m * f) / np.sum(m)])

    def compute_batch(self, W, fs=1.0):
        m = np.abs(np.fft.rfft(W, axis=1))
        f = np.fft.rfftfreq(W.shape[1], d=1.0 / fs)
        with np.errstate(invalid="ignore"):
            return (np.sum(m * f, axis=1) / np.sum(m, axis=1))[:, None]


@dataclass(frozen=True)
class SpectralFlatness(Feature):
    """geomean(|rfft|^2)/mean(|rfft|^2) — reference :599-602."""

    key: str = "spectral_flatness"

    def names(self):
        return ["Spectral Flatness"]

    def compute(self, x, fs=1.0):
        m2 = np.abs(np.fft.rfft(x)) ** 2
        # all-zero window: log(0)=-inf -> geomean 0, mean 0 -> 0/0 = NaN
        # by design (flatness of silence is undefined); silence both the
        # divide (log) and invalid (0/0) warnings so real ones stay visible
        with np.errstate(divide="ignore", invalid="ignore"):
            g = np.exp(np.mean(np.log(m2)))
            return np.array([g / np.mean(m2)])

    def compute_batch(self, W, fs=1.0):
        m2 = np.abs(np.fft.rfft(W, axis=1)) ** 2
        with np.errstate(divide="ignore", invalid="ignore"):
            g = np.exp(np.mean(np.log(m2), axis=1))
            return (g / np.mean(m2, axis=1))[:, None]


def _rank_codes(X: np.ndarray, m: int, tau: int) -> np.ndarray:
    """Base-m ordinal-pattern code of every m-tuple along the last axis.

    The code is computed WITHOUT materializing per-tuple argsorts: with
    stable ties, position j's rank is #{i : x_i < x_j or (x_i == x_j and
    i < j)}, so one ``<=`` comparison per unordered position pair — over
    strided views of X directly, no (..., n, m) tuple gather — yields
    every rank, and ``code = Σ_j j * m**rank_j`` reproduces the stable
    argsort's base-m digit code EXACTLY (the k-th smallest element's
    position j has rank_j == k, i.e. P[k] == j).  Bit-identical to the
    np.argsort form for all inputs including ties (asserted in tests).
    """
    n = X.shape[-1] - tau * m + tau
    vs = [X[..., k * tau : k * tau + n] for k in range(m)]
    ranks = [np.zeros(X.shape[:-1] + (n,), dtype=np.uint8) for _ in range(m)]
    for i in range(m):
        for j in range(i + 1, m):
            b = vs[i] <= vs[j]
            ranks[j] += b
            b = np.logical_not(b, out=b)
            ranks[i] += b
    pw = (m ** np.arange(m)).astype(np.int64)
    codes = np.zeros(X.shape[:-1] + (n,), dtype=np.int64)
    for j in range(1, m):  # the j=0 digit contributes 0 to the sum
        codes += j * pw[ranks[j]]
    return codes


# Largest m whose comparison-bit table is small: m(m-1)/2 bits index
# 2**(m(m-1)/2) entries — 1,024 at m=5, 32,768 at m=6.  Larger m keeps
# the rank form.
_CODE_TABLE_MAX_M = 5


@functools.lru_cache(maxsize=None)
def _code_table(m: int) -> np.ndarray:
    """Base-m pattern code of every comparison-bit word of
    :func:`_pattern_codes`: the rank form's arithmetic, run once per
    word instead of once per tuple."""
    pairs = [(i, j) for i in range(m) for j in range(i + 1, m)]
    words = np.arange(1 << len(pairs))
    ranks = np.zeros((m, len(words)), dtype=np.intp)
    for p, (i, j) in enumerate(pairs):
        b = (words >> (len(pairs) - 1 - p)) & 1  # the first pair is the top bit
        ranks[j] += b
        ranks[i] += 1 - b
    return (np.arange(m)[:, None] * m**ranks).sum(axis=0)


def _comparison_bits(x: np.ndarray, m: int, tau: int) -> np.ndarray:
    """One bit per position pair (i < j) of every m-tuple along the last
    axis, set when ``x_i <= x_j``; the first pair lands in the top bit.

    Pair (i, j) of the tuple at t compares the samples at t + i*tau and
    t + j*tau: the comparison at t + i*tau with gap j - i.  So each of the
    m-1 gaps is compared once along the whole axis, and every pair reads
    its bits from a shifted view of its gap's array.
    """
    L = x.shape[-1]
    n = L - tau * (m - 1)
    le = [None] + [
        (x[..., : L - d * tau] <= x[..., d * tau :]).view(np.uint8) for d in range(1, m)
    ]
    bits = np.zeros(x.shape[:-1] + (n,), dtype=np.uint8 if m <= 4 else np.uint16)
    for i in range(m):
        for j in range(i + 1, m):
            bits <<= 1
            bits |= le[j - i][..., i * tau : i * tau + n]
    return bits


def _pattern_codes(X: np.ndarray, m: int, tau: int) -> np.ndarray:
    """Base-m ordinal-pattern code of every m-tuple along the last axis —
    the same codes as :func:`_rank_codes`, from less work.

    The m(m-1)/2 pairwise ``<=`` bits of a tuple determine its ranks, so
    they pack into one uint8 (m <= 4) or uint16 (m = 5) word that a
    2**(m(m-1)/2)-entry table maps to the rank form's code.  Every word
    has an entry, including the inconsistent ones NaN comparisons make,
    so the codes match for every input.  At m >= 6 the table would need
    32,768+ entries, and the rank form runs instead.

    C-contiguous rows are compared as one flat buffer (1-D passes run
    about twice as fast as strided 2-D ones); the tuples that straddle
    two rows are then dropped.
    """
    L = X.shape[-1]
    n = L - tau * (m - 1)
    if m > _CODE_TABLE_MAX_M or n <= 0:
        return _rank_codes(X, m, tau)
    table = _code_table(m)
    if X.ndim < 2 or X.size == 0 or not X.flags.c_contiguous:
        return table[_comparison_bits(X, m, tau)]
    flat = _comparison_bits(X.reshape(-1), m, tau)
    rows = np.lib.stride_tricks.sliding_window_view(flat, n)[::L]
    return table[rows].reshape(X.shape[:-1] + (n,))


def _pattern_probs_batch(
    W: np.ndarray, m: int, tau: int, weighted: bool
) -> np.ndarray:
    """Per-window ordinal-pattern probabilities, vectorized across windows.

    Returns a dense (nwin, m**m) matrix of probabilities (zeros for absent
    patterns) from one ``bincount`` over the base-m pattern codes of
    :func:`_pattern_codes` (comparison bits through a lookup table; the
    rank form at m >= 6), offset per window — the entropy sums below
    ignore zeros, so density is harmless for small m.
    """
    nwin, winlen = W.shape
    n = winlen - tau * m + tau
    codes = _pattern_codes(W, m, tau)
    if weighted:
        idx = np.arange(n)[:, None] + tau * np.arange(m)[None, :]
        weights = W[:, idx].var(axis=2, ddof=1).ravel()
    else:
        weights = None
    M = m**m
    codes += M * np.arange(nwin)[:, None]
    counts = np.bincount(
        codes.ravel(), weights=weights, minlength=M * nwin
    ).reshape(nwin, M)
    return counts / counts.sum(axis=1, keepdims=True)


def _pattern_probs_grid(
    x: np.ndarray, i0: int, step: int, nwin: int, winlen: int, m: int, tau: int
) -> np.ndarray:
    """:func:`_pattern_probs_batch` (unweighted) over the windows
    ``x[i0 + k*step : i0 + k*step + winlen]``, k < nwin, coding every
    tuple once instead of once per window that holds it.

    Tuple positions fall into ``step``-wide panes from ``i0``.  Window k's
    n tuples start in panes k .. k+P-1 (P = ceil(n/step)), which also hold
    the r = P*step - n positions just past its last tuple.  So its counts
    are a difference of cumulative pane counts minus those r positions'
    counts.  The panes count comparison-bit words (m <= 5), and only the
    per-window counts go through the code table; at m >= 6 they count the
    rank form's codes.  Counts are integers, so the probabilities equal
    the per-window form's bit for bit.  Pane slots past the chunk's last
    tuple hold an extra symbol whose bin is dropped.
    """
    n = winlen - tau * (m - 1)
    P = -(-n // step)
    npanes = nwin - 1 + P
    seg = x[i0 : i0 + (nwin - 1) * step + winlen]
    if m > _CODE_TABLE_MAX_M:
        table, nsym = None, m**m
        sym = _rank_codes(seg, m, tau)
    else:
        table = _code_table(m)
        nsym = len(table)
        sym = _comparison_bits(seg, m, tau)
    K = nsym + 1
    panes = np.full((npanes, step), nsym, dtype=np.intp)
    panes.reshape(-1)[: len(sym)] = sym
    panes += K * np.arange(npanes)[:, None]
    cum = np.zeros((npanes + 1, K), dtype=np.intp)
    np.cumsum(
        np.bincount(panes.ravel(), minlength=K * npanes).reshape(npanes, K),
        axis=0,
        out=cum[1:],
    )
    counts = cum[P : P + nwin] - cum[:nwin]
    r = P * step - n
    if r:
        # the last r slots of pane k+P-1, re-offset from pane k+P-1 to row k
        tail = panes[P - 1 : P - 1 + nwin, step - r :] - K * (P - 1)
        counts -= np.bincount(tail.ravel(), minlength=K * nwin).reshape(nwin, K)
    counts = counts[:, :nsym]
    if table is not None:
        words, counts = counts, np.zeros((nwin, m**m), dtype=np.intp)
        np.add.at(counts.T, table, words.T)
    return counts / counts.sum(axis=1, keepdims=True)


def _entropy_rows(p: np.ndarray, base2: bool = True) -> np.ndarray:
    with np.errstate(divide="ignore", invalid="ignore"):
        logs = np.log2(p) if base2 else np.log(p)
        t = np.where(p > 0, p * logs, 0.0)
    return -t.sum(axis=1)


# vectorized batch path memory guard: nwin * m**m floats
_PATTERN_BATCH_CELLS = 50_000_000


def _grid_shares_panes(nwin: int, step: int, winlen: int, m: int, tau: int) -> bool:
    """Whether :func:`_pattern_probs_grid` applies: each window holds a
    tuple, and its pane counts fit the batch path's memory guard."""
    n = winlen - tau * (m - 1)
    return n > 0 and (nwin + -(-n // step)) * m**m <= _PATTERN_BATCH_CELLS


@dataclass(frozen=True)
class PermutationEntropy(Feature):
    """Bandt–Pompe (optionally weighted) PE — reference :639-647."""

    m: int = 3
    tau: int = 1
    normalization: bool = True
    weighted: bool = False
    key: str = "permutation_entropy"

    def names(self):
        return ["Permutation Entropy"]

    def compute(self, x, fs=1.0):
        p = ordinal_patterns(x, self.m, self.tau, self.weighted)
        pe = -np.sum(p * np.log2(p))
        if self.normalization:
            pe /= math.log2(math.factorial(self.m))
        return np.array([pe])

    def compute_batch(self, W, fs=1.0):
        if len(W) * self.m**self.m > _PATTERN_BATCH_CELLS:
            return super().compute_batch(W, fs)
        return self._from_probs(
            _pattern_probs_batch(W, self.m, self.tau, self.weighted)
        )

    def compute_grid(self, x, i0, step, nwin, winlen, fs=1.0):
        """Pane-shared counts (:func:`_pattern_probs_grid`); weighted PE
        sums float weights, so it keeps the base form."""
        if self.weighted or not _grid_shares_panes(nwin, step, winlen, self.m, self.tau):
            return super().compute_grid(x, i0, step, nwin, winlen, fs)
        return self._from_probs(
            _pattern_probs_grid(x, i0, step, nwin, winlen, self.m, self.tau)
        )

    def _from_probs(self, probs):
        pe = _entropy_rows(probs)
        if self.normalization:
            pe = pe / math.log2(math.factorial(self.m))
        return pe[:, None]


@dataclass(frozen=True)
class StatisticalComplexity(Feature):
    """PE x Jensen–Shannon complexity — reference :770-786."""

    m: int = 3
    tau: int = 1
    key: str = "statistical_complexity"

    def names(self):
        return ["Statistical Complexity"]

    def compute(self, x, fs=1.0):
        p = ordinal_patterns(x, self.m, self.tau, False)
        pe = -np.sum(p * np.log2(p))
        n = math.factorial(self.m)
        pe /= math.log2(n)
        pu = 1.0 / n
        a = (pu + p) / 2.0
        s1 = -np.sum(a * np.log(a)) - (pu / 2.0) * math.log(pu / 2.0) * (n - len(p))
        s2 = -np.sum(p * np.log(p)) / 2.0
        s3 = math.log(n) / 2.0
        js_max = -(((n + 1) / n) * math.log(n + 1) + math.log(n) - 2 * math.log(2 * n)) / 2.0
        js = s1 - s2 - s3
        return np.array([pe * js / js_max])

    def compute_batch(self, W, fs=1.0):
        if len(W) * self.m**self.m > _PATTERN_BATCH_CELLS:
            return super().compute_batch(W, fs)
        return self._from_probs(_pattern_probs_batch(W, self.m, self.tau, False))

    def compute_grid(self, x, i0, step, nwin, winlen, fs=1.0):
        """Pane-shared counts (:func:`_pattern_probs_grid`)."""
        if not _grid_shares_panes(nwin, step, winlen, self.m, self.tau):
            return super().compute_grid(x, i0, step, nwin, winlen, fs)
        return self._from_probs(
            _pattern_probs_grid(x, i0, step, nwin, winlen, self.m, self.tau)
        )

    def _from_probs(self, probs):
        n = math.factorial(self.m)
        pe = _entropy_rows(probs) / math.log2(n)
        pu = 1.0 / n
        a = (pu + probs) / 2.0
        # sum over OBSERVED patterns only (matches the reference's sparse
        # probability vector: absent patterns contribute via the explicit
        # missing-pattern correction term, reference :778)
        present = probs > 0
        with np.errstate(divide="ignore", invalid="ignore"):
            a_term = np.where(present, a * np.log(a), 0.0)
        n_present = present.sum(axis=1)
        s1 = -a_term.sum(axis=1) - (pu / 2.0) * math.log(pu / 2.0) * (n - n_present)
        s2 = _entropy_rows(probs, base2=False) / 2.0
        s3 = math.log(n) / 2.0
        js_max = -(((n + 1) / n) * math.log(n + 1) + math.log(n) - 2 * math.log(2 * n)) / 2.0
        js = s1 - s2 - s3
        return (pe * js / js_max)[:, None]


@dataclass(frozen=True)
class Entropy(Feature):
    """Temporal/spectral entropy + index — reference :487-497."""

    n: int = 256
    noverlap: int = 128
    key: str = "entropy"

    def names(self):
        return ["Temporal Entropy", "Spectral Entropy", "Entropy Index"]

    @staticmethod
    def _h(p: np.ndarray) -> float:
        nz = p[p != 0]
        return float(-(nz * np.log2(nz)).sum())

    def compute(self, x, fs=1.0):
        sp, _, _ = spectrogram_power(x, self.n, self.noverlap, fs, hann_window(self.n))
        ne = normalize_envelope(x)
        ht = self._h(ne) / math.log2(len(ne))
        ns = normalize_spectrum(sp)
        hf = self._h(ns) / math.log2(len(ns))
        return np.array([ht, hf, ht * hf])

    def compute_batch(self, W, fs=1.0):
        """Vectorized across windows: batched Hilbert + batched STFT.

        Same arithmetic per window as ``compute`` (vectorized numpy sums
        reduce in the same order), dominant kernel in the bench mix.
        """
        nwin, winlen = W.shape
        n, nov = self.n, self.noverlap
        step = n - nov
        if winlen < n:
            return super().compute_batch(W, fs)
        # batched analytic signal (Hilbert) along axis 1
        xf = np.fft.fft(W, axis=1)
        h = np.zeros(winlen)
        if winlen % 2 == 0:
            h[0] = h[winlen // 2] = 1.0
            h[1 : winlen // 2] = 2.0
        else:
            h[0] = 1.0
            h[1 : (winlen + 1) // 2] = 2.0
        env = np.abs(np.fft.ifft(xf * h, axis=1))
        ne = env / (env.sum(axis=1, keepdims=True) + EPS)
        with np.errstate(divide="ignore", invalid="ignore"):
            ht_terms = np.where(ne != 0, ne * np.log2(ne), 0.0)
        ht = -ht_terms.sum(axis=1) / math.log2(winlen)
        # batched one-sided spectrogram: (nwin, nseg, n) segment tensor
        nseg = (winlen - n) // step + 1
        segs = np.lib.stride_tricks.sliding_window_view(W, n, axis=1)[:, ::step][
            :, :nseg
        ]
        w = hann_window(n)
        spec = np.fft.rfft(segs * w, axis=2)
        power = (spec.real**2 + spec.imag**2) / (fs * np.sum(w * w))
        scale = np.full(n // 2 + 1, 2.0)
        scale[0] = 1.0
        if n % 2 == 0:
            scale[-1] = 1.0
        power *= scale
        sf = power.sum(axis=1)  # (nwin, nfreq): per-frequency time sums
        ns = sf / sf.sum(axis=1, keepdims=True)
        with np.errstate(divide="ignore", invalid="ignore"):
            hf_terms = np.where(ns != 0, ns * np.log2(ns), 0.0)
        hf = -hf_terms.sum(axis=1) / math.log2(ns.shape[1])
        return np.stack([ht, hf, ht * hf], axis=1)


@dataclass(frozen=True)
class PSD(Feature):
    """Welch PSD in dB, multi-column — reference :676-679, names :129-131."""

    n: int = 64
    noverlap: int = 32
    fs: float = 1.0
    key: str = "psd"

    def names(self):
        freqs = np.fft.rfftfreq(self.n, d=1.0 / self.fs)
        return [f"PSD-{round(float(f), 1)}Hz" for f in freqs]

    def compute(self, x, fs=1.0):
        p, _ = welch_power(x, self.n, self.noverlap, fs)
        return pow2db(p)


@dataclass(frozen=True)
class AcousticComplexityIndex(Feature):
    """ACI over jbin-wide sub-spectrograms — reference :711-734."""

    n: int = 1024
    noverlap: int = 0
    jbin: int = 30
    amplitude: bool = True
    threshold_db: float | None = None
    key: str = "aci"

    def names(self):
        return ["Acoustic Complexity Index"]

    def compute(self, x, fs=1.0):
        sp, _, _ = spectrogram_power(x, self.n, self.noverlap, fs, hann_window(self.n))
        if self.amplitude:
            sp = np.sqrt(sp)
        if self.threshold_db is not None:
            conv = db2amp(self.threshold_db) if self.amplitude else db2pow(self.threshold_db)
            thr = sp.max() * conv
            sp = np.where(sp <= thr, 0.0, sp)
        ncols = sp.shape[1]
        if self.jbin <= ncols:
            starts = range(0, ncols - self.jbin + 1, self.jbin)
            jbin = self.jbin
        else:
            starts = range(0, 1)
            jbin = ncols
        aci = 0.0
        for s in starts:
            sub = sp[:, s : s + jbin]
            num = np.abs(np.diff(sub, axis=1)).sum(axis=1)
            den = sub.sum(axis=1) + EPS
            aci += float((num / den).sum())
        return np.array([aci])


@dataclass(frozen=True)
class AcousticDiversityIndex(Feature):
    """Shannon entropy over per-band activity fractions — reference :819-852."""

    n: int = 128
    noverlap: int = 64
    freqband_hz: float = 50.0
    minmaxfreq_hz: tuple[float, float] = (50.0, 1000.0)
    threshold_db: float = -50.0
    key: str = "adi"

    def names(self):
        return ["Acoustic Diversity Index"]

    def compute(self, x, fs=1.0):
        minfreq, maxfreq = self.minmaxfreq_hz
        sp, freqs, _ = spectrogram_power(x, self.n, self.noverlap, fs, hann_window(self.n))
        freq_step = freqs[1]
        if freq_step > self.freqband_hz:
            raise ValueError(
                "freqband_hz must be >= the spectrogram frequency step"
            )
        num_freqsteps = int(self.freqband_hz // freq_step)
        with np.errstate(divide="ignore", invalid="ignore"):
            sp_db = pow2db(sp / sp.max())
        vals = []
        istart = 0  # 0-based twin of the reference's istart=1 greedy scan
        while True:
            istop = istart + num_freqsteps
            if istop > len(freqs) - 1:
                break
            if freqs[istart] >= minfreq and freqs[istop] <= maxfreq:
                band = sp_db[istart : istop + 1, :]
                vals.append(np.sum(band > self.threshold_db) / band.size)
                istart = istop + 1
            else:
                istart += 1
        vals = [v for v in vals if v != 0]
        if not vals:
            return np.array([0.0])
        total = sum(vals)
        adi = sum(-(v / total) * math.log(v / total) for v in vals)
        return np.array([adi])


@dataclass(frozen=True)
class ImpulseStats(Feature):
    """Impulse count + inter-impulse interval mean/var — reference :400-417.

    The constructor pre-envelopes a provided template when compute_envelope
    is set (reference :86-93).
    """

    k: float = 10.0
    tdist: float = 1e-3
    compute_envelope: bool = True
    template: tuple[float, ...] | None = None
    height: float | None = None
    key: str = "impulse_stats"

    def __post_init__(self):
        if self.compute_envelope and self.template is not None:
            env = envelope(np.asarray(self.template, dtype=np.float64))
            object.__setattr__(self, "template", tuple(env.tolist()))

    def names(self):
        return ["Nᵢ", "μᵢᵢ", "varᵢᵢ"]

    def compute(self, x, fs=1.0):
        x = np.asarray(x, dtype=np.float64)
        if self.compute_envelope:
            x = envelope(x)
        if self.template is not None:
            x = norm_cross_corr(x, np.asarray(self.template))
        if self.height is None:
            finite = x[~np.isnan(x)]
            center = np.median(finite)
            mad = np.median(np.abs(finite - center)) * MAD_NORMALIZE
            height = center + self.k * mad
        else:
            height = self.height
        distance = int(np.trunc(self.tdist * fs))
        crds = find_peaks(x, height=height, distance=distance)
        ti = np.diff(crds)
        with np.errstate(invalid="ignore"):
            mean_ti = float(np.mean(ti)) / fs if len(ti) else float("nan")
            var_ti = float(np.var(ti, ddof=1)) / fs if len(ti) > 1 else float("nan")
        return np.array([float(len(crds)), mean_ti, var_ti])


@dataclass(frozen=True)
class SymmetricAlphaStableStats(Feature):
    """McCulloch quantile fit (alpha, scale) — reference :451-454."""

    key: str = "sas_stats"

    def names(self):
        return ["α", "scale"]

    def compute(self, x, fs=1.0):
        alpha, scale = fit_symmetric_alpha_stable(x)
        return np.array([alpha, scale])


def link_frequency_contours(p, freqs, col_peaks, fd):
    """Greedy peak-contour linker — literal port of reference :303-323.

    ``col_peaks(col) -> peak row indices``; returns the raw contour list
    (before the mintlen filter).  Replicates the reference's bookkeeping
    quirks exactly: column 1 peaks are labeled 1 but later columns are
    labeled with the loop index over columns 2.. (so column-1 peaks never
    chain into column 2), and RESTARTED contours (first time peaks appear
    after a peak-free prefix) are labeled literal 1 as well (:305), which
    prevents them chaining unless the next column is column index 2.
    """
    crds = col_peaks(p[:, 0])
    ctrs: list[list[tuple[int, int]]] = [[(int(c), 1)] for c in crds]
    for i in range(1, p.shape[1]):  # reference's enumerate over cols 2:end
        crds = col_peaks(p[:, i])
        for crd in crds:
            if len(ctrs) == 0:
                # reference :305 labels restarted contours with literal
                # column 1 (not the current index) — its own bookkeeping
                # quirk; replicated for parity (they only chain into the
                # next column when i == 2).
                ctrs = [[(int(c), 1)] for c in crds]
            else:
                idxselect: list[int] = []
                costselect: list[float] = []
                for j, ctr in enumerate(ctrs):
                    if ctr[-1][1] == i - 1 and abs(freqs[ctr[-1][0]] - freqs[crd]) <= fd:
                        idxselect.append(j)
                        costselect.append(abs(freqs[ctr[-1][0]] - freqs[crd]))
                if not idxselect:
                    ctrs.append([(int(crd), i)])
                else:
                    ctrs[idxselect[int(np.argmin(costselect))]].append((int(crd), i))
    return ctrs


@dataclass(frozen=True)
class FrequencyContours(Feature):
    """Spectral-peak contour density — reference :291-331.

    Literal-semantics port of the reference's greedy linker, including its
    column-index bookkeeping (contours started from spectrogram column 1
    store column label 1, and columns 2.. store labels 1.. — so column 1
    peaks never chain into column 2; replicated deliberately for parity).
    """

    n: int = 512
    nv: int = 256
    tnorm: float | None = 1.0
    fd: float = 1000.0
    minhprc: float = 99.0
    minfdist: float = 1000.0
    mintlen: float = 0.05
    key: str = "frequency_contours"

    def names(self):
        return ["Frequency Contours"]

    def compute(self, x, fs=1.0):
        p, freqs, times = spectrogram_power(x, self.n, self.nv, fs, hann_window(self.n))
        dt = times[1] - times[0]
        df = freqs[1] - freqs[0]
        nnorm = p.shape[1] if self.tnorm is None else int(np.trunc(self.tnorm / dt))
        p = spectrum_flatten_mat(p, nnorm, dims=2)
        distance = int(np.trunc(self.minfdist / df))

        def col_peaks(col: np.ndarray) -> np.ndarray:
            height = EPS + np.percentile(col, self.minhprc)
            return find_peaks(col, height=height, distance=distance)

        ctrs = link_frequency_contours(p, freqs, col_peaks, self.fd)
        ctrs = [c for c in ctrs if (len(c) - 1) * dt >= self.mintlen]
        count = sum(len(c) for c in ctrs) if ctrs else 0
        return np.array([count / p.size])


# ---------------------------------------------------------------------------
# registry + local Score twin
# ---------------------------------------------------------------------------

FEATURES: dict[str, type[Feature]] = {
    cls.key: cls  # type: ignore[misc]
    for cls in [
        Energy, Myriad, SoundPressureLevel, ZeroCrossingRate, SpectralCentroid,
        SpectralFlatness, PermutationEntropy, StatisticalComplexity, Entropy,
        PSD, AcousticComplexityIndex, AcousticDiversityIndex, ImpulseStats,
        SymmetricAlphaStableStats, FrequencyContours,
    ]
}


def window_starts(xlen: int, winlen: int, noverlap: int) -> np.ndarray:
    """1-based full-window start labels — reference :874,881,888.

    step = winlen - noverlap; flush=false (ragged tail dropped).
    """
    if noverlap < 0:
        raise ValueError("noverlap must be >= 0")
    if winlen > xlen:
        raise ValueError("winlen must be <= signal length")
    step = winlen - noverlap
    if step <= 0:
        raise ValueError("winlen must exceed noverlap")
    nwin = (xlen - winlen) // step + 1
    return 1 + step * np.arange(nwin, dtype=np.int64)


def score_local(
    feature: Feature,
    x: np.ndarray,
    fs: float = 1.0,
    winlen: int | None = None,
    noverlap: int = 0,
    preprocess=None,
) -> tuple[np.ndarray, list[str], np.ndarray]:
    """Local twin of the reference Score (single channel).

    Returns (starts 1-based, names, values (nwin, arity)).  This is the
    golden path the Spark operator must match bit-for-bit.
    """
    x = np.asarray(x, dtype=np.float64).ravel()
    if winlen is None:
        winlen = len(x)
    starts = window_starts(len(x), winlen, noverlap)
    W = np.lib.stride_tricks.sliding_window_view(x, winlen)[starts - 1]
    if preprocess is not None:
        W = np.stack([np.asarray(preprocess(w), dtype=np.float64) for w in W])
        vals = feature.compute_batch(W, fs)
    else:
        vals = feature.compute_batch(W, fs)
    return starts, feature.names(), np.asarray(vals, dtype=np.float64)
