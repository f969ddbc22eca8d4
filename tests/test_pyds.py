"""The poll primitive over the captured payload fixtures: poll rows
with the normalize layer stacked on top, the live loop's ticks, and the
jsonl_sink Python DataSource writer."""

from __future__ import annotations

import os
import time

from real_time_big_data_architect_spark.sources import normalize
from real_time_big_data_architect_spark.sources.http_poll import (
    poll_all,
    poll_plan,
)
from real_time_big_data_architect_spark.tables import jvm_local_df

PAYLOADS = os.path.join(os.path.dirname(__file__), "payloads")


def _read(source, payload_dir=PAYLOADS):
    return poll_all(poll_plan(payload_dir=payload_dir, sources=[source]))


def test_batch_read_returns_raw_payload():
    [(_fetch_ts, _source, payload, error)] = _read("usgs_quakes")
    assert error is None
    assert '"features"' in payload


def test_normalize_stacks_on_datasource(spark):
    """The same declarative pipeline used everywhere else parses the
    poll output — the poll emits raw, normalize owns parsing."""
    df = jvm_local_df(
        spark,
        _read("usgs_quakes"),
        "fetch_ts double, source string, payload string, error string",
    ).select("payload")
    out = normalize.normalize_usgs_quakes(df).collect()
    assert len(out) > 0
    assert {"mag", "place"} <= set(out[0].asDict())


def test_missing_payload_file_degrades_to_error_row():
    rows = _read("x", payload_dir="/nonexistent")
    assert len(rows) == 1
    [(_fetch_ts, _source, payload, error)] = rows
    assert payload is None and error


def test_streaming_ticks_produce_one_row_per_batch(spark, tmp_path):
    """The 60 s tick as a real stream: each micro-batch polls the one
    source once and appends one status row. Run with a fast trigger,
    wait for >=2 ticks, stop."""
    from real_time_big_data_architect_spark.plans import pipeline

    [(_, _, payload, _)] = poll_all(
        poll_plan(payload_dir=PAYLOADS, sources=["iss_now"])
    )
    assert '"iss_position"' in payload
    table = "poll_ticks"
    q = pipeline.run_poll_all_pipeline(
        spark,
        payload_dir=PAYLOADS,
        sources=["iss_now"],
        status_table=table,
        processing_time="1 seconds",
        checkpoint_location=str(tmp_path / "ckpt"),
    )
    try:
        try:
            deadline = time.time() + 60
            n = 0
            while time.time() < deadline:
                n = spark.sql(
                    f"SELECT COUNT(DISTINCT tick) c FROM {table}"
                ).first().c
                if n >= 2:
                    break
                time.sleep(0.5)
            assert n >= 2, f"only {n} ticks arrived"
        finally:
            q.stop()
        rows = spark.table(table).collect()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    per_tick = {}
    for r in rows:
        per_tick.setdefault(r.tick, []).append(r)
    assert all(len(v) == 1 for v in per_tick.values()), per_tick
    assert all(r.source == "iss_now" and r.agent == "primary" for r in rows)


def test_jsonl_sink_two_phase_commit(spark, tmp_path):
    """The Python DataSource writer's publish protocol: after save(),
    only FINAL .jsonl files exist (every per-task .tmp was atomically
    renamed by the driver-side commit), and their content parses back
    to exactly the written rows."""
    import glob
    import json as _json

    from real_time_big_data_architect_spark.sources import lake as L

    spark.dataSource.register(L.JsonlSinkDataSource)
    df = spark.range(10).selectExpr(
        "id AS event_id", "id * 2 AS user_id",
        "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS event_type",
        "CAST(id AS DOUBLE) / 4.0 AS value",
    ).repartition(3)
    out = str(tmp_path / "sink")
    import os

    os.makedirs(out)
    df.write.format("jsonl_sink").option("path", out).mode("append").save()
    assert not glob.glob(f"{out}/*.tmp"), "uncommitted temp files leaked"
    rows = []
    for p in glob.glob(f"{out}/*.jsonl"):
        with open(p) as fh:
            rows.extend(_json.loads(line) for line in fh)
    got = sorted((r["event_id"], r["user_id"], r["event_type"], r["value"])
                 for r in rows)
    want = sorted((i, i * 2, "a" if i % 2 == 0 else "b", i / 4.0)
                  for i in range(10))
    assert got == want
