"""The engine's Python worker daemon: zip archives are re-read only when
they change, and ``get_spark`` sessions fork their workers from it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import functions as F

from real_time_big_data_architect_spark import worker_daemon


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture()
def patched_zipimport(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    return reads


@pytest.fixture()
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"graft_zip_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("graft_zip_a", "graft_zip_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)


def test_unchanged_zip_is_not_reread_and_a_rewrite_is_seen(
    patched_zipimport, archive
):
    assert importlib.import_module("graft_zip_a").VALUE == "a"
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)

    importer.invalidate_caches()  # first call stamps the archive
    patched_zipimport.clear()
    importer.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in patched_zipimport

    # rewrite with a new module: a different size (and mtime) stamp
    _write_zip(
        archive, {"graft_zip_a": "VALUE = 'a'\n", "graft_zip_b": "VALUE = 'b'\n"}
    )
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert archive in patched_zipimport
    assert importlib.import_module("graft_zip_b").VALUE == "b"


def test_get_spark_workers_run_the_engine_daemon(spark):
    @F.udf("string")
    def invalidate_caches_origin(_):
        import zipimport

        f = zipimport.zipimporter.invalidate_caches
        return f"{f.__module__}.{f.__qualname__}"

    got = spark.range(1).select(invalidate_caches_origin("id")).collect()[0][0]
    assert got == f"{worker_daemon.__name__}.invalidate_caches"
