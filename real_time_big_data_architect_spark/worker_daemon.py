"""Python worker daemon: ``pyspark.daemon`` with stat-gated zip re-reads.

Every Python task (UDFs, pandas UDFs, Python DataSource reads,
``applyInPandasWithState``) starts with
``pyspark.worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``. On CPython 3.11 that makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's whole central directory. A worker holds ~16 importers over
``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries), so each task
paid ~0.2 s of worker CPU re-reading a file that never changes. On a
4-core host a fresh worker had used 0.20 s of CPU by its first UDF row
with the stock daemon and 0.01 s with this one, and a 10-task UDF job
fell from 0.94 s to 0.42 s. Newer CPython makes the re-read lazy.

This module replaces ``zipimporter.invalidate_caches`` with a version
that re-reads an archive only when its ``(st_mtime_ns, st_size)`` stamp
changed since that importer last read it, then runs the stock daemon.
Workers are forked from the daemon, so they all inherit the patch.
``session.get_spark`` points ``spark.python.daemon.module`` here.

The JVM reads the daemon's port from its stdout, so nothing here may
print before :func:`pyspark.daemon.manager` runs.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    """Re-read the archive directory only if the archive changed."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is not None and getattr(self, "_dir_stamp", None) == stamp:
        return
    _stock_invalidate_caches(self)
    self._dir_stamp = stamp


def install() -> None:
    """Patch ``zipimporter``, then stamp every importer the daemon holds
    so forked workers start with nothing left to re-read."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


def main() -> None:
    from pyspark import daemon

    install()
    daemon.manager()


if __name__ == "__main__":
    # run the copy imported under the package name, so the patched
    # method reports this module rather than ``__main__``
    from real_time_big_data_architect_spark.worker_daemon import main

    main()
