"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

_PKG_DIR = Path(__file__).resolve().parent
_REPO_ROOT = _PKG_DIR.parent


def package_zip(target: str | None = None) -> str:
    """Zip the afspark package for spark-submit --py-files / addPyFile.

    The default path is per-process: executors fetch the file lazily via
    the driver's file server, so a second driver process on the same host
    rewriting a shared path mid-fetch fails every task of the first with
    updateDependencies errors (observed with two concurrent local jobs).
    The write itself is tmp-then-rename so a reader never sees a partial
    zip even for an explicit shared ``target``.
    """
    target = target or os.path.join("/tmp", f"afspark_pyfiles_{os.getpid()}.zip")
    tmp = f"{target}.{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for p in sorted(_PKG_DIR.rglob("*.py")):
            z.write(p, arcname=str(p.relative_to(_REPO_ROOT)))
    os.replace(tmp, target)
    return target


def get_session(
    master: str | None = None,
    app_name: str = "afspark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Session with AQE, Arrow, UTC and sane local-mode memory defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    On a real cluster these configs ride through spark-submit unchanged;
    nothing here is local-mode-only.

    An already active session is returned unchanged: a job's ``main()``
    called in-process must not re-set the caller's runtime SQL confs
    (``getOrCreate`` would re-apply ``spark.sql.shuffle.partitions``).
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # Python workers are separate processes: they need the afspark package
    # on THEIR path, not just the driver's.  PYTHONPATH covers local-mode
    # workers; the addPyFile below covers real executors (north_rule:
    # spark-submit --py-files).
    pp = os.environ.get("PYTHONPATH", "")
    if str(_REPO_ROOT) not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(_REPO_ROOT), pp]))
    # One numpy thread per Python worker: Spark already runs one worker per
    # core, so BLAS/OpenMP threading inside each worker oversubscribes the
    # box (measured ~2.5x slowdown on FFT-heavy kernels at local[32]).
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing sizes post-shuffle partitions by BYTES; a stage
        # whose cost is CPU per row (window + Python kernel) but whose
        # shuffle is small gets merged to 1-2 tasks and runs serial —
        # measured: sdt's whole swinging-door pass in ONE task because
        # the optimizer collapsed its explicit repartition into the
        # window's ENSURE_REQUIREMENTS exchange (1.8 MB) and AQE then
        # coalesced that to one partition.  parallelismFirst (default
        # true) already targets max(bytes/defaultParallelism,
        # minPartitionSize); the 1 MB default floor is what serialized
        # these small-byte/CPU-heavy stages.  256k balances the two
        # failure modes at local scale — 16k over-split the many tiny
        # pure-codegen shuffles of multi-stage plans into per-task
        # overhead (interleaved floor sweep: remove_duplicate_spans
        # 5.0-5.7 s at 16k vs 1.5-1.9 s at 256k, every other small-
        # shuffle query flat-or-better, sdt within 0.1-0.2 s of its
        # 16k best) — and at cluster scale bytes/parallelism dominates
        # the max() so this floor is inert.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("AFSPARK_MIN_COALESCED_PARTITION", "256k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("AFSPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    # e.g. spark.ui.enabled=true so bench tools can read stage-level
    # shuffle metrics off the REST API (ignored by an existing session)
    for key, val in (extra_conf or {}).items():
        builder = builder.config(key, val)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try:
        spark.sparkContext.addPyFile(package_zip())
    except Exception:  # noqa: BLE001 — e.g. already added on a shared context
        pass
    return spark
