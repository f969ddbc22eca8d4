"""SparkSession factory tuned for the engine.

The reference (``app.py``) is a single-threaded pandas script; here the
execution substrate is Spark — one place configures it for both the
local[32] test harness and (by the same knobs) a real cluster:

- AQE on (runtime coalesce, skew-join splitting) — the 100 TB posture is
  "declare the plan, let AQE fix partition sizing at runtime".
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster
  this would be ~2-3× total executor cores (AQE coalesces down).
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- Arrow enabled for every pandas interchange (Pandas UDFs, toPandas).
- Python workers fork from :mod:`worker_daemon`, which stops every task
  re-reading ``pyspark.zip``'s directory (~0.2 s of worker CPU each).
- Streaming checkpoints (offset/commit WALs, file-source seen-files log,
  HDFS-backed state-store deltas) go through Spark's FileSystem-based
  checkpoint manager. Without the native Hadoop library every
  ``RawLocalFileSystem.setPermission`` forks a ``chmod``; the default
  FileContext-based manager pays several per atomic write (~46 ms per
  ``createAtomic`` against ~13 ms, on tmpfs and disk alike; per-batch
  state ``commitTimeMs`` ~380-460 → ~30 ms on 4 cores). Writes stay
  write-then-rename with ``.crc`` checksums, and a second create of the
  same batch file still fails.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Python workers must be able to import this package to unpickle
# module-level pandas UDFs, whatever directory the driver runs from.
# Workers inherit PYTHONPATH from the driver environment, so extend it
# before the JVM launches.
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ensure_worker_pythonpath() -> None:
    existing = os.environ.get("PYTHONPATH", "")
    parts = existing.split(os.pathsep) if existing else []
    if _REPO_ROOT not in parts:
        os.environ["PYTHONPATH"] = (
            os.pathsep.join([_REPO_ROOT, existing]) if existing else _REPO_ROOT
        )


def get_spark(
    app_name: str = "real_time_big_data_architect_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    In tests and bench this is ``local[N]``; the config block is the same
    one a cluster deployment would use (only master/memory change).
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    _ensure_worker_pythonpath()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.python.daemon.module",
            "real_time_big_data_architect_spark.worker_daemon",
        )
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
