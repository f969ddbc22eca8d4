"""Regression tests for the r10 lake/time_windows review findings.

Three edges the benign fixtures never exercise, each a live-reproduced
query/oracle disagreement (or crash) before the fix:

- NULL event-time: Spark's ``window``/``session_window`` grouping
  silently drops null-ts rows; the oracles must filter them too.
- 5-decimal doubles in the roundtrip digests: a DECIMAL(18,4) cast
  rounds differently in Spark (HALF_UP on shortest decimal repr) and
  DuckDB (on the binary double) — the digest now rides integer
  fixed-point ``FLOOR(value * 10000)``, identical on both engines.
- NULL digest fields: bare ``concat_ws`` skips NULLs (and its
  separator), colliding ('a', NULL) with ('a') and disagreeing with
  the oracle's NULL-propagating ``||`` — every field is coalesced.
- The jsonl sink's ``abort`` receives ``None`` commit messages for
  FAILED tasks (PySpark 4.x contract) — it must still clean up.
"""

from __future__ import annotations

import datetime as dt
import glob

import duckdb
import pytest

from real_time_big_data_architect_spark.plans import workload
from tools.preflight import _rows_from_pandas, value_hash

EDGE_QUERIES = [
    "tumbling_window_agg",
    "sliding_window_agg",
    "session_window_agg",
    "orc_roundtrip",
    "compaction_roundtrip",
]


@pytest.fixture(scope="module")
def edge_dir(spark, tmp_path_factory) -> str:
    """events fixture with a NULL-ts row, NULL user_id/event_type rows
    (digest null-field edge), and 5-decimal values that round
    differently under Spark-vs-DuckDB DECIMAL(18,4) casts."""
    tmp = tmp_path_factory.mktemp("edge")
    t = dt.datetime(2024, 5, 1, 0, 0, 0)
    rows = [
        (1, t, 1, "view", 0.77165, "{}"),          # 5-dp rounding edge
        (2, t.replace(minute=20), 1, "click", 0.56495, "{}"),
        (3, t.replace(hour=1), 2, "view", 0.07995, "{}"),
        (4, None, 3, "view", 1.0, "{}"),            # NULL event-time
        (5, t.replace(hour=2), None, "view", 2.0, "{}"),   # NULL key
        (6, t.replace(hour=2, minute=5), 4, None, -3.25, "{}"),
        (7, t.replace(hour=3), 5, "purchase", None, "{}"),  # NULL value
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/stage")
    # flatten the Spark output dir to a single file so DuckDB's
    # read_parquet sees the same flat layout as the real fixtures
    import shutil

    part = glob.glob(f"{tmp}/stage/part-*.parquet")[0]
    shutil.move(part, f"{tmp}/events.parquet")
    shutil.rmtree(f"{tmp}/stage")
    return str(tmp)


def test_window_and_roundtrip_edges_match_oracle(spark, edge_dir):
    qs = workload.build_queries()
    oracles = workload.build_oracle_sql()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM"
        f" read_parquet('{edge_dir}/events.parquet')"
    )
    failures = []
    for name in EDGE_QUERIES:
        spark.catalog.clearCache()
        sdf = qs[name](spark, edge_dir)
        srows = _rows_from_pandas(sdf.toPandas())
        odf = con.execute(oracles[name]).df()
        orows = _rows_from_pandas(odf)
        if len(srows) != len(orows):
            failures.append(f"{name}: rows {len(srows)} != {len(orows)}")
            continue
        if value_hash(srows, sdf.columns) != value_hash(
            orows, list(odf.columns)
        ):
            failures.append(f"{name}: value hash mismatch")
    assert not failures, failures


def test_jsonl_sink_abort_survives_failed_task_messages(spark, tmp_path):
    """A failing task must surface ITS error (not an AttributeError
    from abort dereferencing a None commit message) and leave no .tmp
    files behind."""
    from real_time_big_data_architect_spark.sources import lake as L

    spark.dataSource.register(L.JsonlSinkDataSource)
    df = spark.range(12).selectExpr(
        "id AS event_id",
        "id AS user_id",
        "CASE WHEN id = 7 THEN raise_error('boom') ELSE 'a' END"
        " AS event_type",
        "CAST(id AS DOUBLE) AS value",
    ).repartition(3)
    out = str(tmp_path / "sink")
    tmp_path.joinpath("sink").mkdir()
    with pytest.raises(Exception) as ei:
        df.write.format("jsonl_sink").option("path", out).mode(
            "append"
        ).save()
    assert "AttributeError" not in str(ei.value)
    assert not glob.glob(f"{out}/*.tmp"), "abort leaked temp files"
    assert not glob.glob(f"{out}/*.jsonl"), "failed write published output"
