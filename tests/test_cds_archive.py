"""The driver JVM's class-data-sharing archive (``session.get_spark``).

Every check runs sessions in fresh subprocesses whose ``XDG_CACHE_HOME``
is a tmp dir, so the archive is dumped, mapped, truncated and killed in
isolation from the user's cache.
"""

from __future__ import annotations

import glob
import json
import os
import signal
import subprocess
import sys
import time

import pytest

from real_time_big_data_architect_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: one session: ``argv[1]`` holds its extra_conf and whether to run the
#: stock JVM or to hang after printing; prints one JSON line
SESSION = r"""
import json, sys, time
from real_time_big_data_architect_spark import session
args = json.loads(sys.argv[1])
if args.get("stock"):
    session._class_data_sharing = lambda extra_class_path: ("", None, None)
spark = session.get_spark("cds-test", cpus=1, extra_conf=args.get("conf"))
jvm = spark.sparkContext._jvm
print(json.dumps({
    "rows": spark.range(3).count(),
    "opts": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    "conf": dict(spark.sparkContext.getConf().getAll()),
    "probe": jvm.java.lang.System.getProperty("graft.probe"),
}), flush=True)
if args.get("hang"):
    time.sleep(600)
"""

#: set per SparkContext start, so they differ between any two sessions
VOLATILE = {"spark.app.id", "spark.app.startTime", "spark.app.submitTime", "spark.driver.port"}

CDS_FLAGS = ("-XX:SharedArchiveFile", "-XX:ArchiveClassesAtExit")


def _env(cache: str, **extra: str) -> dict[str, str]:
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
    }
    env.update(XDG_CACHE_HOME=cache, PYTHONPATH=REPO, **extra)
    return env


def _run(cache: str, env: dict[str, str] | None = None, **args) -> tuple[dict, str]:
    """One session to completion, its exit hook included."""
    p = subprocess.run(
        [sys.executable, "-c", SESSION, json.dumps(args)],
        env=env or _env(cache), capture_output=True, text=True, timeout=300, cwd=REPO,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), p.stderr


def _cds(cache: str) -> str:
    return os.path.join(cache, "spark-graft", "cds")


def _cds_flags(out: dict) -> list[str]:
    return [o for o in out["opts"] if o.startswith(CDS_FLAGS)]


@pytest.fixture(scope="module")
def archive_cache(tmp_path_factory) -> str:
    """A cache holding a published archive, dumped by one session."""
    cache = str(tmp_path_factory.mktemp("xdg"))
    out, _ = _run(cache)
    assert out["rows"] == 3
    assert [f.split("=")[0] for f in _cds_flags(out)] == ["-XX:ArchiveClassesAtExit"]
    assert len(glob.glob(os.path.join(_cds(cache), "*.jsa"))) == 1
    assert not glob.glob(os.path.join(_cds(cache), "*.lock"))
    assert not glob.glob(os.path.join(_cds(cache), "*.tmp"))
    return cache


@pytest.fixture(scope="module")
def mapped(archive_cache, tmp_path_factory) -> tuple[dict, str, str]:
    """A second fresh process, with caller JVM options, on the archive."""
    log = str(tmp_path_factory.mktemp("classload") / "load.log")
    caller = f"-Dgraft.probe=kept -Xlog:class+load=info:file={log}"
    out, _ = _run(archive_cache, conf={"spark.driver.extraJavaOptions": caller})
    return out, log, caller


def test_second_process_maps_the_archive(mapped):
    out, log, _ = mapped
    assert out["rows"] == 3
    (flag,) = _cds_flags(out)
    assert flag.startswith("-XX:SharedArchiveFile=")
    with open(log) as fh:
        lines = [ln for ln in fh if " org.apache.spark.SparkContext " in ln]
    assert lines and "source: shared objects file (top)" in lines[0], lines


def test_caller_java_options_survive_the_merge(mapped):
    out, _, _ = mapped
    assert out["probe"] == "kept"
    merged = out["conf"]["spark.driver.extraJavaOptions"]
    assert "-Dgraft.probe=kept" in merged
    assert "-XX:SharedArchiveFile=" in merged


def test_empty_conf_dir_leaves_the_conf_unchanged(mapped, archive_cache):
    out, _, caller = mapped
    key = "spark.driver.extraJavaOptions"
    stock, _ = _run(archive_cache, stock=True, conf={key: caller})
    assert not _cds_flags(stock)
    got = {k: v for k, v in out["conf"].items() if k not in VOLATILE | {key}}
    want = {k: v for k, v in stock["conf"].items() if k not in VOLATILE | {key}}
    assert got == want
    # Spark prepends its module options to the caller's on both sides
    assert stock["conf"][key].endswith(f" {caller}")
    (flag,) = _cds_flags(out)
    assert out["conf"][key] == stock["conf"][key].replace(
        caller, f"{session._CDS_LOG} {caller} {flag}"
    )


def test_real_conf_dir_runs_the_stock_jvm(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.graft.fromdefaults  yes\n")
    cache = str(tmp_path / "xdg")
    out, err = _run(cache, env=_env(cache, SPARK_CONF_DIR=str(conf)))
    assert out["conf"]["spark.graft.fromdefaults"] == "yes"
    assert not _cds_flags(out)
    assert err.count("no class-data-sharing archive") == 1
    assert not glob.glob(os.path.join(_cds(cache), "*.*"))


def test_killed_dumper_publishes_nothing(tmp_path):
    cache = str(tmp_path / "xdg")
    p = subprocess.Popen(
        [sys.executable, "-c", SESSION, json.dumps({"hang": True})],
        env=_env(cache), stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, cwd=REPO, start_new_session=True,
    )
    try:
        out = json.loads(p.stdout.readline())
        assert [f.split("=")[0] for f in _cds_flags(out)] == ["-XX:ArchiveClassesAtExit"]
    finally:
        os.killpg(p.pid, signal.SIGKILL)  # the session and its JVM
        p.wait()
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        try:
            os.killpg(p.pid, 0)
        except ProcessLookupError:
            break
        time.sleep(0.2)
    assert not glob.glob(os.path.join(_cds(cache), "*.jsa"))
    # the dead dumper's lock is stale: the next session takes it over
    (lock,) = glob.glob(os.path.join(_cds(cache), "*.lock"))
    assert session._take_lock(lock)
    with open(lock) as fh:
        assert int(fh.read()) == os.getpid()


def test_truncated_archive_is_dumped_again(archive_cache):
    (archive,) = glob.glob(os.path.join(_cds(archive_cache), "*.jsa"))
    size = os.path.getsize(archive)
    os.truncate(archive, 1 << 20)  # mapped, it would kill the JVM with SIGBUS
    out, _ = _run(archive_cache)
    assert out["rows"] == 3
    assert [f.split("=")[0] for f in _cds_flags(out)] == ["-XX:ArchiveClassesAtExit"]
    (again,) = glob.glob(os.path.join(_cds(archive_cache), "*.jsa"))
    assert os.path.getsize(again) > size // 2


def test_lock_is_held_while_its_owner_lives(tmp_path):
    lock = str(tmp_path / "key.lock")
    assert session._take_lock(lock)
    assert not session._take_lock(lock)  # this process holds it
    with open(lock, "w") as fh:
        fh.write("")  # an owner that has not written its pid yet
    assert not session._take_lock(lock)
    old = time.time() - 2 * session._LOCK_GRACE_S
    os.utime(lock, (old, old))
    assert session._take_lock(lock)
