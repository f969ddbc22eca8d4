"""SparkSession factory tuned for the engine.

The reference (``app.py``) is a single-threaded pandas script; here the
execution substrate is Spark — one place configures it for local runs
(``local[N]``, N the cores this process may use) and, by the same knobs,
a real cluster:

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
- The driver JVM maps a dynamic class-data-sharing (CDS) archive of the
  classes an earlier session loaded (~13,800 Spark classes), instead of
  loading them from jars: on 4 cores ``get_spark`` takes ~2.3 s against
  ~4.6 s, and the live loop commits its first tick ~5.9 s after process
  start against ~10.2 s (LATENCY.md "Cold start"). The archive lives in
  ``$XDG_CACHE_HOME/spark-graft/cds/`` (``~/.cache`` when unset), named
  by a hash of the JVM, the jar listing and the launch classpath, and
  by its size (a truncated archive is dumped again, not mapped). When
  it is absent, one session per key has its JVM write it at exit
  (~8-10 s, after the caller's work) and publishes it only if the JVM
  exited cleanly. The JDK archives no class path that holds a non-empty
  directory, so these sessions launch with an empty ``SPARK_CONF_DIR``;
  a conf dir with real files (or a Hadoop/YARN conf dir) runs the stock
  JVM.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import logging
import os
import shutil
import subprocess
import time

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))

_log = logging.getLogger(__name__)

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


#: the JVM logs to stdout by default, and a dumping JVM warns about every
#: class it leaves out, after the caller's last line of output; it goes
#: before the caller's options so that their own ``-Xlog`` still holds
_CDS_LOG = "-Xlog:disable -Xlog:all=warning:stderr"

#: a lock that holds no pid (its owner died before writing it) is stale
#: after this long
_LOCK_GRACE_S = 60

#: how long the exit hook waits for the JVM to write the archive
_DUMP_TIMEOUT_S = 300


def _cds_dir() -> str:
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(cache, "spark-graft", "cds")


def _stat_line(path: str) -> str:
    st = os.stat(path)
    return f"{path} {st.st_size} {st.st_mtime_ns}\n"


def _archive_key(jars: str, class_path: str) -> str:
    """Hash of the JVM binary, the jar listing and the launch classpath:
    the archive is only valid for the exact classes it was dumped from."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    jdk = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    h = hashlib.sha256()
    libjvm = sorted(glob.glob(os.path.join(jdk, "lib", "server", "libjvm.*")))
    for path in [os.path.realpath(java), *libjvm]:
        h.update(_stat_line(path).encode())
    for name in sorted(os.listdir(jars)):
        h.update(_stat_line(os.path.join(jars, name)).encode())
    h.update(class_path.encode())
    return h.hexdigest()[:24]


def _stock_reason(spark_home: str) -> str | None:
    """Why this launch cannot use an empty conf dir, or None if it can."""
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"):
        if os.environ.get(var):
            return f"{var} is set"
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf):
        real = [n for n in os.listdir(conf) if not n.endswith(".template")]
        if real:
            return f"{conf} holds {real[0]}"
    return None


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass  # another user's process
    return True


def _take_lock(path: str) -> bool:
    """One dumper per key: create ``path`` holding this pid, taking it
    over when its owner has died."""
    for _ in range(2):
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            try:
                with open(path) as fh:
                    owner = fh.read()
                young = time.time() - os.path.getmtime(path) < _LOCK_GRACE_S
            except FileNotFoundError:
                continue  # released meanwhile
            held = _alive(int(owner)) if owner.isdigit() else young
            if held:
                return False
            try:
                os.unlink(path)
            except FileNotFoundError:
                pass
            continue
        with os.fdopen(fd, "w") as fh:
            fh.write(str(os.getpid()))
        return True
    return False


def _published(cds: str, key: str) -> str | None:
    """The archive for ``key``, if whole. Its name carries its size: the
    JVM checks no size before it maps an archive, and a truncated one
    kills it with SIGBUS, so a damaged archive is deleted and dumped
    again."""
    for path in glob.glob(os.path.join(cds, f"{key}.*.jsa")):
        if os.path.getsize(path) == int(path.rsplit(".", 2)[1]):
            return path
        os.unlink(path)
    return None


def _publish_at_exit(proc: subprocess.Popen, tmp: str, key: str, lock: str) -> None:
    """Let the gateway JVM exit, which writes the archive, and publish it
    only if the JVM exited cleanly."""
    try:
        if proc.poll() is None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=_DUMP_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        size = os.path.getsize(tmp) if os.path.isfile(tmp) else 0
        if proc.returncode == 0 and size:
            keep = f"{key}.{size}.jsa"
            cds = os.path.dirname(tmp)
            os.replace(tmp, os.path.join(cds, keep))
            for name in os.listdir(cds):
                if name.endswith(".jsa") and name != keep:
                    os.unlink(os.path.join(cds, name))
    finally:
        for path in (tmp, lock):
            try:
                os.unlink(path)
            except FileNotFoundError:
                pass


def _class_data_sharing(extra_class_path: str) -> tuple[str, str | None, tuple | None]:
    """Archive option, conf dir and exit-hook arguments for the next
    gateway launch: map the archive if present, else (one session per
    key) dump it at exit; ``("", None, None)`` for a stock JVM."""
    spark_home = _find_spark_home()
    reason = _stock_reason(spark_home)
    if reason:
        _log.warning("stock JVM start, no class-data-sharing archive: %s", reason)
        return "", None, None
    cds = _cds_dir()
    conf_dir = os.path.join(cds, "conf")
    os.makedirs(conf_dir, exist_ok=True)
    jars = os.path.join(spark_home, "jars")
    key = _archive_key(jars, os.pathsep.join(
        p for p in (extra_class_path, conf_dir + os.sep, os.path.join(jars, "*")) if p
    ))
    archive = _published(cds, key)
    if archive:
        return f"-XX:SharedArchiveFile={archive}", conf_dir, None
    lock = os.path.join(cds, f"{key}.lock")
    if not _take_lock(lock):
        return "", conf_dir, None
    tmp = os.path.join(cds, f"{key}.{os.getpid()}.tmp")
    return f"-XX:ArchiveClassesAtExit={tmp}", conf_dir, (tmp, key, lock)


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
    extra_conf = dict(extra_conf or {})
    launch = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    cds_opt, conf_dir, dump = (
        _class_data_sharing(extra_conf.get("spark.driver.extraClassPath", ""))
        if launch else ("", None, None)
    )
    if cds_opt:
        key = "spark.driver.extraJavaOptions"
        extra_conf[key] = " ".join(o for o in (_CDS_LOG, extra_conf.get(key), cds_opt) if o)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    saved_conf_dir = os.environ.get("SPARK_CONF_DIR")
    if conf_dir:
        os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if conf_dir:
            if saved_conf_dir is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = saved_conf_dir
    if dump:
        atexit.register(_publish_at_exit, SparkContext._gateway.proc, *dump)
    spark.sparkContext.setLogLevel("WARN")
    return spark
