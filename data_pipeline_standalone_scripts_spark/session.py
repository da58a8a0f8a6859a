"""SparkSession factory + per-session conf hardening.

The driver owns the SparkSession it passes into ``entry``/``queries()``;
we therefore split configuration in two tiers:

- build-time conf (master, memory, AQE, Python worker daemon) — only
  applied when *we* create the session (tests, bench);
- runtime conf (session timezone, ANSI) — safe to (re)apply on any
  session, which ``ensure_runtime_conf`` does idempotently. Correctness
  of timestamp queries vs the UTC-naive DuckDB oracle depends on the
  UTC pin (SURVEY.md §1.3.5).

Scale note (100 TB): nothing in this module assumes local mode; the
factory is only a convenience for single-node testing. On a real
cluster the session arrives from spark-submit with executor topology
already set, and only ``ensure_runtime_conf`` applies.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_PKG_SHIPPED: set[int] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python WORKERS regardless of the
    driver process's cwd.

    Cloudpickle serializes module-level functions (the multimodal
    byte-parsers referenced from mapInPandas) BY REFERENCE — the worker
    re-imports the module. That works when the driver happens to run
    from the repo root (workers inherit cwd → '' on sys.path) and
    fails with ModuleNotFoundError from anywhere else, which is
    exactly how an external harness runs us. Shipping a zip via
    ``addPyFile`` is the standard mechanism (the local twin of
    ``spark-submit --py-files``) and is what a real cluster deployment
    does with the wheel.
    """
    sc = spark.sparkContext
    key = id(sc)
    if key in _PKG_SHIPPED:
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zip_path = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_STORED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fname in files:
                if not fname.endswith(".py"):
                    continue
                full = os.path.join(root, fname)
                arc = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                zf.write(full, arc)
    sc.addPyFile(zip_path)
    _PKG_SHIPPED.add(key)


def ensure_runtime_conf(spark: SparkSession) -> SparkSession:
    """Idempotent, runtime-settable conf required for oracle parity."""
    _ship_package(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # AQE is default-on in Spark 4.x; assert rather than trust.
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # events.parquet stores timestamp[ns], which the vectorized parquet
    # reader rejects (PARQUET_TYPE_ILLEGAL). Read nanos as long and let
    # tables.load convert ns → µs explicitly — the same truncation
    # DuckDB applies internally (its TIMESTAMP is µs), so the two
    # engines see identical values (verified to the microsecond).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # spark.sql.files.maxPartitionBytes deliberately stays at the
    # 128 MB default: Spark's split sizing is already adaptive —
    # maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    # (totalBytes + nFiles·openCost)/defaultParallelism)) — so small
    # tables split toward ~4 MB on local[32] without help, and forcing
    # it lower only fragments the big-fact scans (sf10 lineitem would
    # go 32 → 230 tasks for pure wave overhead).
    return spark


def _default_driver_memory() -> str:
    """min(24g, half of physical RAM): the JVM heap plus the Python
    workers must fit the host, or the kernel OOM-kills the JVM."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{min(24 * 1024, int(line.split()[1]) // 2048)}m"
    except OSError:
        pass
    return "24g"


def get_spark(
    app_name: str = "dpss-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Local-mode session for tests/bench. local[N] = one JVM, N task
    threads; `spark.driver.memory` is the only memory knob that matters
    in local mode.

    Python workers fork from ``worker_daemon`` instead of PySpark's
    stock daemon (see that module). The daemon runs before any task has
    delivered the shipped package zip, so the package's parent
    directory goes on the workers' PYTHONPATH."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        .config(
            "spark.python.daemon.module",
            f"{os.path.basename(pkg_dir)}.worker_daemon",
        )
        .config("spark.executorEnv.PYTHONPATH", os.path.dirname(pkg_dir))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_runtime_conf(spark)
