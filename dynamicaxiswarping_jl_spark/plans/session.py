"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point, degraded gracefully to the
local[k] sandbox:

- AQE on (runtime coalescing + skew-join splitting) — long conversations
  are the skew axis per the north rule.
- Arrow on for every pandas-UDF boundary; ``maxRecordsPerBatch`` sized so
  one conversation's rolled-up series fits a batch.
- ``spark.sql.shuffle.partitions`` explicit (never the 200 default): in
  local mode = 2×cores; on a cluster callers pass ~2-3× total executor
  cores.
- UTC session timezone — oracle comparisons and tier bucketing depend on it.
- Driver heap ``min(8g, half of physical memory)`` unless
  ``SPARK_DRIVER_MEMORY`` says otherwise, so a small host is not
  oversubscribed.
- ``local[os.cpu_count()]`` unless ``cpus`` or ``SPARK_GRAFT_CPUS`` says
  otherwise, so the default never oversubscribes the host.
- Python workers fork from ``plans.worker_daemon`` instead of
  ``pyspark.daemon``. Every PySpark task calls
  ``importlib.invalidate_caches()``, and before CPython 3.12 each of the
  worker's 16 zip importers then re-reads its archive's whole directory
  (pyspark.zip, the py4j zip, the spark-core jar): 0.18-0.21 s per task
  on Python 3.11 and a 4-core host, before the task reads a row. The
  daemon re-reads an archive only when it changed (under 1 ms per task).
  The engine's parent directory goes on the workers' ``PYTHONPATH`` so
  the daemon imports from any working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the engine package, for the workers' PYTHONPATH
_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

__all__ = ["get_spark", "warm_python_workers"]


def _driver_memory() -> str:
    """``SPARK_DRIVER_MEMORY`` if set, else the smaller of 8g and half the
    host's physical memory, so the default never asks for more heap than
    the host has."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return os.environ["SPARK_DRIVER_MEMORY"]
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "8g"  # no sysconf (non-POSIX host): the old flat default
    return f"{min(8 << 10, phys // 2 >> 20)}m"


def get_spark(app: str = "dynamicaxiswarping_jl_spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 8)
    b = (
        SparkSession.builder.appName(app)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # local mode: every cached partition is PROCESS_LOCAL, so any
        # locality wait only idles cores between task waves
        .config("spark.locality.wait", "0")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module",
                "dynamicaxiswarping_jl_spark.plans.worker_daemon")
    )
    extra_conf = dict(extra_conf or {})
    # a caller's worker PYTHONPATH extends the engine's, never drops it:
    # without the engine on it the daemon, and so every Python task, fails
    pythonpath = [_ENGINE_ROOT, extra_conf.pop("spark.executorEnv.PYTHONPATH", "")]
    b = b.config("spark.executorEnv.PYTHONPATH",
                 os.pathsep.join(p for p in pythonpath if p))
    for k, v in extra_conf.items():
        b = b.config(k, v)
    return b.getOrCreate()


def warm_python_workers(spark: SparkSession) -> None:
    """Spawn the Python UDF workers on every core and import the kernel
    package in each (daemon spawn + numpy/kernel imports cost ~10-15 s on
    32 cores and would otherwise land on the first pandas-UDF stage).
    Call before timing anything."""
    def _warm(batches):
        from dynamicaxiswarping_jl_spark import kernels  # noqa: F401
        for pdf in batches:
            yield pdf
    ncores = spark.sparkContext.defaultParallelism
    spark.range(0, ncores * 2, 1, ncores * 2).mapInPandas(_warm, "id long").count()
