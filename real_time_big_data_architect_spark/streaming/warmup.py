"""Session-level subsystem warm-up for benchmarking harnesses.

A Spark session pays several ONE-TIME bring-up costs the first time a
subsystem is touched: the Python DataSource worker pool (first
``jsonl_sink`` write), the micro-batch engine + memory sink machinery
(first streaming drain), and the RocksDB state-store provider + the
transformWithStateInPandas Python runner (first stateful query). In a
long-lived production session these are paid once at deploy; in a
single-pass sweep they land on whichever DECLARED query happens to run
first in registry order, distorting that query's recorded time by
2-6 s (r7 verdict item 2: the streaming family's "fixed costs" were
substantially session bring-up, not per-query work).

``warm_streaming_subsystems`` pays them explicitly, on trivially small
inputs, BEFORE timing starts; harnesses report its duration separately
(``session_warmup_sec``) so the cost is visible, not hidden. Timed
queries then measure their own plan, which is the number that scales.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def warm_streaming_subsystems(
    spark: SparkSession, sf_small: str = "/root/testdata/sf0.001"
) -> dict[str, float]:
    """Touch each lazily-initialized engine subsystem once.

    Every step is best-effort (a missing fixture or API must never
    fail a bench run) and returns its wall seconds for the harness's
    diagnostics record.
    """
    import time

    timings: dict[str, float] = {}

    def _step(name, fn):
        t = time.perf_counter()
        try:
            fn()
        except Exception:  # noqa: BLE001 — warm-up is best-effort
            pass
        timings[name] = round(time.perf_counter() - t, 3)

    def _pyds():
        # Python DataSource worker pool: one tiny WRITE through jsonl_sink.
        import shutil
        import tempfile

        from real_time_big_data_architect_spark.sources.lake import (
            JsonlSinkDataSource,
        )

        spark.dataSource.register(JsonlSinkDataSource)
        work = tempfile.mkdtemp(prefix="warm_sink_")
        try:
            spark.range(4).selectExpr("id").write.format("jsonl_sink").option(
                "path", work
            ).mode("append").save()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    def _microbatch():
        # Micro-batch engine + memory sink: drain the sf0.001 events
        # file through a pass-through availableNow query.
        from real_time_big_data_architect_spark.streaming.stateful import (
            _events_stream,
            _run_to_memory,
        )

        _run_to_memory(
            _events_stream(spark, sf_small).select("event_id"), "append"
        )

    def _tws_rocksdb():
        # RocksDB provider + transformWithStateInPandas Python runner.
        from real_time_big_data_architect_spark.streaming.stateful import (
            TWS_AVAILABLE,
            stream_transform_with_state,
        )

        if TWS_AVAILABLE:
            stream_transform_with_state(spark, sf_small).count()

    _step("pyds", _pyds)
    _step("microbatch", _microbatch)
    _step("tws_rocksdb", _tws_rocksdb)
    return timings
