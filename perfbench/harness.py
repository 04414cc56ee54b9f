"""Shared machinery for the perfbench workloads.

A workload is an object with a ``warmup_ops`` count and five methods,
all called with the live ``Bench`` context:

    setup(ctx)        build the inputs; called ``SETUP_REPS`` times, each
                      call builds them again from the seed and replaces the
                      previous ones (set-up time is reported as the median)
    op(ctx, i, tr)    run operation ``i`` and return an ``OpResult``;
                      ``tr`` is a ``trace.Trace`` in a traced run, else None
    prepare(ctx)      untimed: reference data for the output checks
    check(ctx)        final output checks after the timed loop; returns
                      (checks run, failure messages)
    layers(ctx, tr)   traced run only: call each layer's public functions
                      on this workload's inputs and record per-layer
                      metrics; returns (checks run, failure messages)

``run.py`` pins the Spark session to the host, times the set-up, runs the
workload's fixed number of warm-up operations, then times operations for
the requested number of seconds.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import statistics
import sys
import time
import traceback

SETUP_REPS = 3


@dataclasses.dataclass
class OpResult:
    ok: bool
    points: int = 0  # points processed or served by this operation
    detail: str = ""


@dataclasses.dataclass
class Bench:
    """Run-wide context handed to every workload method."""

    spark: object
    seed: int
    work: str  # scratch directory inside the checkout, removed at exit
    cpus: int
    heap: str
    state: dict = dataclasses.field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_heap() -> str:
    """A quarter of the host's memory, capped at 4 GiB: the inputs are
    tens of MB and the host is shared, so the heap only needs headroom."""
    total_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_kb = int(line.split()[1])
                break
    mb = max(1024, min(4096, total_kb // 1024 // 4))
    return f"{mb}m"


def pin_environment(root: str, work: str) -> tuple[int, str]:
    """Point afspark's session factory at this host and keep every file
    the run writes inside ``work``.  Must run before pyspark starts."""
    cpus = host_cpus()
    heap = host_heap()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["AFSPARK_DRIVER_MEM"] = heap
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM: no /tmp/hsperfdata file, temp files here
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return cpus, heap


def start_session(work: str):
    """afspark's own session factory, with the package zip and the JVM's
    temporary files redirected into ``work`` (the factory's default zip
    path is under /tmp)."""
    import afspark.session as sess

    zip_path = os.path.join(work, "afspark_pyfiles.zip")
    default_zip = sess.package_zip
    sess.package_zip = lambda target=None: default_zip(target or zip_path)
    tmp = os.path.join(work, "tmp")
    try:
        return sess.get_session(
            app_name="afspark-perfbench",
            extra_conf={
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                ),
                "spark.ui.showConsoleProgress": "false",
            },
        )
    finally:
        sess.package_zip = default_zip


def stop_session(spark) -> None:
    """Stop Spark and the JVM pyspark launched, and wait for it to exit
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_context(ctx: Bench, health_before: dict, health_after: dict) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": ctx.cpus,
        "heap": ctx.heap,
        "seed": ctx.seed,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": sys.version.split()[0],
        "host_before": health_before,
        "host_after": health_after,
    }


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def time_setup(ctx: Bench, workload) -> list[float]:
    reps = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        workload.setup(ctx)
        reps.append(time.perf_counter() - t0)
    return reps


class OpLog:
    """Outcome of every operation run, warm-up included."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def run(self, ctx, workload, i, tr=None):
        """Run one operation; returns (seconds, OpResult or None)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            res = workload.op(ctx, i, tr)
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            dt = time.perf_counter() - t0
            self.failed += 1
            self.messages.append(f"op {i}: {traceback.format_exc(limit=3)}")
            return dt, None
        dt = time.perf_counter() - t0
        if not res.ok:
            self.failed += 1
            self.messages.append(f"op {i}: {res.detail}")
        return dt, res


def warm_up(ctx, workload, log: OpLog) -> list[float]:
    """Run the workload's ``warmup_ops`` operations and return their times.

    The count is fixed, not adaptive: a run that stopped warming up at a
    time limit or once the curve flattened would start timing at a point
    on the warm-up curve that depends on how fast the code is, and so mix
    the program's cost with the warm-up it got."""
    return [log.run(ctx, workload, i)[0] for i in range(workload.warmup_ops)]


def timed_loop(ctx, workload, log: OpLog, first_op: int, seconds: float, min_ops: int):
    """Closed loop, one client: run operations back to back until
    ``seconds`` have passed and at least ``min_ops`` were attempted."""
    times: list[float] = []
    points: list[int] = []
    t0 = time.perf_counter()
    i = first_op
    while time.perf_counter() - t0 < seconds or i - first_op < min_ops:
        dt, res = log.run(ctx, workload, i)
        i += 1
        if res is not None and res.ok:
            times.append(dt)
            points.append(res.points)
    return times, points, time.perf_counter() - t0


def summarize(times, points, setup_s) -> dict:
    """End-to-end metrics; points_per_s is points per operation over the
    median operation time (bench.py's rolled_up_points_per_sec form)."""
    p50 = _median(times)
    pps = _median(points) / p50
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_s": {"value": p50, "unit": "s"},
        "points_per_s": {"value": pps, "unit": "points/s"},
    }


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
