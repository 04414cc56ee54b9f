"""afspark benchmark: one workload, one Spark session, one JSON result line.

    python3 perfbench/run.py --workload score_rollup --seed 1 --seconds 10 --trace 0

Run from the repository root.  The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``.  The line before it
is the run report: every figure with its sample count, the failure
fraction, warm-up and set-up details and the run context.  Spans of a
traced run are written to ``.perfbench_out/``.  See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import statistics
import sys
import time

ROOT = os.getcwd()
WORKLOADS = {
    "score_rollup": ("perfbench.score_rollup", "ScoreRollup"),
    "tier_refresh": ("perfbench.tier_refresh", "TierRefresh"),
}
MIN_OPS = 3

LAYER_METRICS = [
    ("pages.generate_s", "s"),
    ("pages.offsets_s", "s"),
    ("kernels.Energy_core_s", "s"),
    ("kernels.SoundPressureLevel_core_s", "s"),
    ("kernels.ZeroCrossingRate_core_s", "s"),
    ("kernels.PermutationEntropy_core_s", "s"),
    ("kernels.SpectralCentroid_core_s", "s"),
    ("kernels.total_core_s", "s"),
    ("score.pages_noop_s", "s"),
    ("score.rows_out", "count"),
    ("score.kernel_tasks", "count"),
    ("arrow.identity_s", "s"),
    ("rollup.tier1m_s", "s"),
    ("rollup.chain_s", "s"),
    ("rollup.refresh_merge_s", "s"),
    ("stream_tier.refresh_s", "s"),
    ("stream_tier.journal_s", "s"),
    ("stream_tier.dates_touched", "count"),
    ("stream_tier.files_written", "count"),
    ("stream_tier.bytes_per_point", "B/point"),
    ("read.route_s", "s"),
    ("read.exec_s", "s"),
    ("read.m4_s", "s"),
    ("read.stitch_s", "s"),
    ("read.rows_examined_per_returned", "ratio"),
    ("plan.analyze_s", "s"),
    ("plan.optimize_s", "s"),
    ("plan.exchanges", "count"),
    ("plan.python_nodes", "count"),
    ("spark.jobs_per_op", "count"),
    ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("residual_s", "s"),
    ("trace.overhead_ratio", "ratio"),
]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def layer_metrics(tr, untraced: list[float], traced: list[float]) -> dict:
    """Per-layer figures: medians of the recorded samples."""
    values = {name: tr.counter(name) for name, _ in LAYER_METRICS}
    for key, span in (
        ("stream_tier.refresh_s", "stream_tier.refresh"),
        ("read.route_s", "read.route"),
        ("read.exec_s", "read.exec"),
        ("read.m4_s", "read.m4"),
        ("read.stitch_s", "read.stitch"),
    ):
        values[key] = tr.median(span)
    values["stream_tier.journal_s"] = tr.median_self("stream_tier.apply")
    values["read.rows_examined_per_returned"] = sum(tr.counters["read.rows_examined"]) / max(
        1, sum(tr.counters["read.rows_returned"])
    )
    values["residual_s"] = tr.median_self("op")
    # traced / untraced rather than that minus 1, which can be 0 or negative
    values["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(untraced)
    return {name: {"value": values[name], "unit": unit} for name, unit in LAYER_METRICS}


def traced_loop(ctx, wl, log, tr, first_op: int, seconds: float):
    """Untraced and traced operations in pairs for ``seconds``, each pair
    in the other order from the last so a trend in operation time (the
    tail of warm-up) cancels; returns the two lists of operation times."""
    from perfbench.trace import spark_jobs

    sc = ctx.spark.sparkContext
    untraced, traced = [], []
    i = first_op
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or len(traced) < MIN_OPS:
        for kind in ("untraced", "traced")[:: 1 if len(traced) % 2 == 0 else -1]:
            if kind == "untraced":
                untraced.append(log.run(ctx, wl, i)[0])
            else:
                tr.op_id = i
                with tr.span("op") as rec, spark_jobs(sc, tr, f"perfbench-op-{i}"):
                    log.run(ctx, wl, i, tr)
                traced.append(rec["end"] - rec["start"])
            i += 1
    tr.op_id = None
    return untraced, traced


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (
        os.path.isfile(os.path.join(ROOT, "bench.py"))
        and os.path.isfile(os.path.join(ROOT, "afspark", "__init__.py"))
    ):
        print("perfbench: run from the afspark repository root", file=sys.stderr)
        return 2
    os.environ["TZ"] = "UTC"  # collected timestamps match the UTC session
    time.tzset()
    sys.path.insert(0, ROOT)

    from perfbench import harness

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    harness.remove_tree(work)
    cpus, heap = harness.pin_environment(ROOT, work)

    import importlib

    import bench
    from perfbench.trace import Trace

    mod, cls = WORKLOADS[args.workload]
    wl = getattr(importlib.import_module(mod), cls)()
    health_before = bench.host_memory_health()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = harness.start_session(work)
        session_s = time.perf_counter() - t0
        ctx = harness.Bench(spark, args.seed, work, cpus, heap)
        setup_reps = harness.time_setup(ctx, wl)
        setup_s = session_s + statistics.median(setup_reps)
        wl.prepare(ctx)
        log = harness.OpLog()
        warm = harness.warm_up(ctx, wl, log)
        warm_ops = len(warm)
        report = {
            "workload": args.workload,
            "session_s": session_s,
            "setup_reps_s": setup_reps,
            "warmup_s": sum(warm),
            "warmup_ops": warm_ops,
            "warmup_op_s": warm,
        }
        if not args.trace:
            times, points, wall = harness.timed_loop(
                ctx, wl, log, warm_ops, args.seconds, MIN_OPS
            )
            metrics = harness.summarize(times, points, setup_s)
            report["ops"] = len(times)
            report["op_s"] = times
            report["timed_wall_s"] = wall
        else:
            tr = Trace()
            untraced, traced = traced_loop(ctx, wl, log, tr, warm_ops, args.seconds)
            probe_checks, probe_failures = wl.layers(ctx, tr)
            metrics = layer_metrics(tr, untraced, traced)
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tr.dump(os.path.join(out, f"trace_{args.workload}_{args.seed}.jsonl"))
            report["ops"] = len(traced) + len(untraced)
        t_check = time.perf_counter()
        n_checks, failures = wl.check(ctx)
        report["check_s"] = time.perf_counter() - t_check
        if args.trace:
            n_checks += probe_checks
            failures += probe_failures
        correct = log.failed == 0 and not failures
        report["fail_frac"] = log.failed / max(1, log.attempted)
        report["failures"] = (log.messages + failures)[:5]
        report["context"] = harness.run_context(ctx, health_before, bench.host_memory_health())
        report["metrics"] = metrics
    finally:
        if spark is not None:
            harness.stop_session(spark)
        harness.remove_tree(work)
        with contextlib.suppress(OSError):  # other runs may share the parent
            os.rmdir(os.path.dirname(work))
    bad = [k for k, v in metrics.items() if not math.isfinite(v["value"])]
    if bad:
        print(f"perfbench: no value measured for {bad}", file=sys.stderr)
        return 1
    print(json.dumps(report, default=str))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": log.attempted + n_checks,
                "failed": log.failed + len(failures),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
