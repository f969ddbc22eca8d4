"""Hardening: empty-input degradation and SQL-surface parity.

Empty inputs are the first thing a production pipeline meets (an empty
partition, a quiet hour, a new tenant): operators must return empty
results, not raise. The SQL-parity tests prove the engine's second
query surface — ``spark.sql`` over the registered views — produces the
same answers as the DataFrame API (both compile to the same Catalyst
plans; a reference user can bring plain SQL).
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from real_time_big_data_architect_spark.operators import (
    aggregates,
    behavioral,
    dedup,
    joins,
    similarity,
    sketches,
    text,
    windows,
)
from real_time_big_data_architect_spark.streaming import time_windows
from real_time_big_data_architect_spark.tables import (
    TABLE_NAMES,
    load_table,
    register_views,
)

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory):
    """A fixture dir with every table present but 0 rows (schema kept)."""
    tmp = tmp_path_factory.mktemp("empty_sf")
    for name in TABLE_NAMES:
        t = pq.read_table(os.path.join(SF_SMALL, f"{name}.parquet"))
        pq.write_table(t.slice(0, 0), str(tmp / f"{name}.parquet"))
    return str(tmp)


EMPTY_SAFE_QUERIES = [
    aggregates.group_agg,
    aggregates.agg_skew_twophase,
    joins.join_star,
    joins.asof_join,
    windows.window_rank,
    windows.topk_per_group,
    dedup.dedup_exact,
    dedup.dedup_minhash_lsh,
    similarity.cosine_topk,
    text.text_wordcount,
    time_windows.tumbling_window_agg,
    behavioral.sessionize,
    sketches.cms_heavy_hitters,
    sketches.mv_incremental_refresh,
]


@pytest.mark.parametrize(
    "fn", EMPTY_SAFE_QUERIES, ids=lambda f: f.__name__
)
def test_operator_returns_empty_on_empty_input(spark, empty_sf, fn):
    assert fn(spark, empty_sf).count() == 0


def test_table_checksum_of_empty_table_is_defined(spark, empty_sf):
    r = sketches.table_checksum(spark, empty_sf).first()
    assert r.n_rows == 0 and r.content_checksum is None


def _assert_same(df_api, df_sql):
    cols = sorted(df_api.columns)
    assert cols == sorted(df_sql.columns)
    a = sorted(map(tuple, df_api.select(*cols).collect()))
    b = sorted(map(tuple, df_sql.select(*cols).collect()))
    assert a == b


def test_sql_surface_group_agg(spark):
    register_views(spark, SF_SMALL)
    _assert_same(
        aggregates.group_agg(spark, SF_SMALL),
        spark.sql(
            """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE)
                     AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE)
                     AS sum_base_price,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1.00 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                     AS sum_disc_price,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE)
                       / COUNT(l_quantity) AS avg_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE)
                       / COUNT(l_extendedprice) AS avg_price,
                   CAST(SUM(CAST(l_discount AS DECIMAL(30,4))) AS DOUBLE)
                       / COUNT(l_discount) AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            """
        ),
    )


def test_sql_surface_window_rank(spark):
    register_views(spark, SF_SMALL)
    _assert_same(
        windows.window_rank(spark, SF_SMALL),
        spark.sql(
            """
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER w AS rn,
                   RANK() OVER w AS rnk
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_totalprice DESC, o_orderkey)
            """
        ),
    )


def test_sql_surface_semi_join(spark):
    register_views(spark, SF_SMALL)
    _assert_same(
        joins.join_semi(spark, SF_SMALL),
        spark.sql(
            """
            SELECT c_custkey, c_name
            FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey)
            """
        ),
    )


def test_sql_surface_tumbling_window(spark):
    register_views(spark, SF_SMALL)
    _assert_same(
        time_windows.tumbling_window_agg(spark, SF_SMALL),
        spark.sql(
            """
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE)
                     AS sum_value
            FROM events
            GROUP BY 1, 2
            """
        ),
    )


def test_nanos_timestamp_events_fixture_still_reads(spark, tmp_path_factory):
    """The driver has shipped events.ts as TIMESTAMP(NANOS) in past
    rounds; the scoped nanosAsLong read must keep working (and must
    NOT leak the legacy conf into the session afterwards)."""
    import numpy as np
    import pyarrow as pa

    tmp = tmp_path_factory.mktemp("nanos_events")
    base = 1_700_000_000_000_000_000
    t = pa.table(
        {
            "event_id": pa.array(range(10), pa.int64()),
            "ts": pa.array(
                np.arange(10) * 10**9 + base, type=pa.timestamp("ns")
            ),
            "user_id": pa.array([1] * 10, pa.int64()),
            "event_type": pa.array(["view"] * 10),
            "value": pa.array([1.0] * 10),
            "props": pa.array(['{"k":1}'] * 10),
        }
    )
    pq.write_table(
        t,
        str(tmp / "events.parquet"),
        coerce_timestamps=None,
        version="2.6",
        store_schema=False,
    )
    df = load_table(spark, str(tmp), "events")
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    rows = df.orderBy("event_id").select("ts").collect()
    # collect() runs AFTER the scoped conf was restored: execution must
    # not depend on the session conf
    assert rows[0].ts.year == 2023 and len(rows) == 10
    assert (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
        == "false"
    )


@pytest.mark.parametrize("variant", ["date32", "timestamp_us"])
def test_date_typed_fixture_vintage_still_works(
    spark, tmp_path_factory, variant
):
    """The driver regenerates fixtures between rounds and the temporal
    types have drifted twice already (events.ts: ns → ntz-µs → µs). If
    l_shipdate / o_orderdate ever arrive as DATE32 (or µs timestamps),
    load_table must normalize them back to TIMESTAMP so the 20+
    queries comparing against timestamp literals keep their semantics.
    Values are day-granular (midnight) so the widening is lossless —
    asserted here by running a date-heavy query on the variant dir and
    getting the exact original answer."""
    import pyarrow as pa

    tmp = tmp_path_factory.mktemp(f"vintage_{variant}")
    retype = {
        "date32": pa.date32(),
        "timestamp_us": pa.timestamp("us"),
    }[variant]
    converted = {"lineitem": "l_shipdate", "orders": "o_orderdate"}
    for name in TABLE_NAMES:
        t = pq.read_table(os.path.join(SF_SMALL, f"{name}.parquet"))
        if name in converted:
            col = converted[name]
            i = t.schema.get_field_index(col)
            t = t.set_column(
                i, col, t.column(col).cast(pa.timestamp("s")).cast(retype)
            )
        pq.write_table(t, str(tmp / f"{name}.parquet"))

    # every table loads and row counts survive
    for name in TABLE_NAMES:
        assert load_table(spark, str(tmp), name).count() == load_table(
            spark, SF_SMALL, name
        ).count()
    # normalized back to TimestampType
    li = load_table(spark, str(tmp), "lineitem")
    od = load_table(spark, str(tmp), "orders")
    assert li.schema["l_shipdate"].dataType.typeName() == "timestamp"
    assert od.schema["o_orderdate"].dataType.typeName() == "timestamp"
    # date-heavy queries answer identically on the variant fixtures
    from real_time_big_data_architect_spark.operators import scalars, tpch

    for fn in (aggregates.group_agg, scalars.date_arith, tpch.tpch_q4):
        want = sorted(map(tuple, fn(spark, SF_SMALL).collect()))
        got = sorted(map(tuple, fn(spark, str(tmp)).collect()))
        assert got == want, fn.__name__


def test_load_table_cache_invalidates_on_rewrite(spark, tmp_path):
    """r7 regression guard for the load_table DataFrame cache: same
    path + same session reuses the plan; REWRITING the file at the
    same path (new stat signature) must re-read — a stale cached scan
    would silently serve the old rows."""
    import glob
    import shutil

    from real_time_big_data_architect_spark.tables import load_table

    def write_docs(rows):
        d = tmp_path / "documents.parquet.dir"
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(str(d))
        part = glob.glob(str(d / "part-*.parquet"))[0]
        shutil.move(part, str(tmp_path / "documents.parquet"))
        shutil.rmtree(d)

    write_docs([(1, "one", "en", "a", 3)])
    df1 = load_table(spark, str(tmp_path), "documents")
    assert df1.count() == 1
    # cache hit: identical object while the file is untouched
    assert load_table(spark, str(tmp_path), "documents") is df1
    write_docs([(1, "one", "en", "a", 3), (2, "two", "en", "a", 3)])
    df2 = load_table(spark, str(tmp_path), "documents")
    assert df2 is not df1
    assert df2.count() == 2


def test_events_schema_probe_is_cached_until_a_file_changes(spark, tmp_path):
    """probe_events_schema infers the footer schema with a Spark job;
    a second probe of the same unchanged directory runs none, and
    rewriting a file (ts as long nanos, then as TIMESTAMP) misses the
    cache and re-probes."""
    import pyarrow as pa

    from real_time_big_data_architect_spark.tables import probe_events_schema

    def write_events(ts):
        pq.write_table(
            pa.table({"event_id": pa.array([1, 2], pa.int64()), "ts": ts}),
            str(tmp_path / "events0.parquet"),
        )

    def probe_jobs(group):
        sc = spark.sparkContext
        sc.setJobGroup(group, "events schema probe")
        try:
            schema = probe_events_schema(spark, str(tmp_path), "events*.parquet")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return schema, len(sc.statusTracker().getJobIdsForGroup(group))

    write_events(pa.array([10**18, 2 * 10**18], pa.int64()))
    first, jobs = probe_jobs("schema_probe_first")
    assert first["ts"].dataType.typeName() == "long" and jobs >= 1
    again, jobs = probe_jobs("schema_probe_again")
    assert again == first and jobs == 0
    write_events(pa.array([10**15, 2 * 10**15], pa.timestamp("us", tz="UTC")))
    rewritten, jobs = probe_jobs("schema_probe_rewritten")
    assert rewritten["ts"].dataType.typeName() == "timestamp" and jobs >= 1


def test_streams_checkpoint_through_the_filesystem_manager(spark, tmp_path):
    """get_spark pins the FileSystem-based checkpoint manager (the
    FileContext-based default forks several ``chmod``s per atomic write
    when the native Hadoop library is absent). Atomic writes keep their
    ``.crc`` checksum, and a batch file stays write-once: a second
    non-overwriting create fails on close and keeps the first bytes."""
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)), hadoop_conf
    )
    assert manager.getClass().getSimpleName() == (
        "FileSystemBasedCheckpointFileManager"
    )
    batch = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))
    out = manager.createAtomic(batch, False)
    out.write(bytearray(b"first"))
    out.close()
    assert {"0", ".0.crc"} <= set(os.listdir(tmp_path))
    out = manager.createAtomic(batch, False)
    out.write(bytearray(b"second"))
    with pytest.raises(Py4JJavaError, match="FAILED_RENAME_PATH"):
        out.close()
    assert (tmp_path / "0").read_bytes() == b"first"


def test_streaming_progress_capture_records_batches(spark, sf_small):
    """r7 regression guard for the latency artifact's data source:
    a streaming drain must append its StreamingQueryProgress events
    (with batch durations) to streaming.progress.RUNS."""
    from real_time_big_data_architect_spark.streaming import (
        progress,
        stateful,
    )

    mark = progress.mark()
    stateful.stream_tumbling_watermark(spark, sf_small).collect()
    captured = progress.since(mark)
    assert captured, "drain recorded no progress"
    events = [e for _, evs in captured for e in evs]
    assert any(
        "triggerExecution" in (e.get("durationMs") or {}) for e in events
    )


def test_jvm_local_df_binding_types_and_plan(spark):
    """tables.jvm_local_df: the named-parameter VALUES relation must
    (a) keep column/row order — positional '?' markers bind in
    plan-traversal order inside VALUES (measured scrambled), which is
    exactly the bug named binding prevents; (b) cast to the declared
    DDL (VALUES infers int → INT, the contract says BIGINT); (c) carry
    None as typed NULL; and (d) contain no Python-RDD scan, so actions
    don't pay a Python worker round-trip."""
    from real_time_big_data_architect_spark.tables import jvm_local_df

    rows = [(1, "binance", 2.5, None), (0, "usgs", -1.0, "x")]
    df = jvm_local_df(
        spark, rows, "tick long, source string, rate double, note string"
    )
    assert df.schema.simpleString() == (
        "struct<tick:bigint,source:string,rate:double,note:string>"
    )
    got = [(r.tick, r.source, r.rate, r.note) for r in df.collect()]
    assert got == rows
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ExistingRDD" not in plan
    # empty input degrades to an empty typed frame
    empty = jvm_local_df(spark, [], "a long, b string")
    assert empty.count() == 0
    assert empty.schema.simpleString() == "struct<a:bigint,b:string>"


def test_poisoned_json_documents_cannot_kill_extraction(spark):
    """One malformed props payload must degrade to NULL, never fail the
    job (r12 plants): an int64-OVERFLOW number crashes strict
    variant_get (and, under the session's ANSI mode, a bare BIGINT cast
    of its digit string); DUPLICATE object keys crash strict
    parse_json. The declared queries use the try forms — this pins the
    whole poisoned-payload matrix end-to-end. Duplicate keys are a
    documented input contract for the DIFFERENTIAL (unmappable across
    engines: Spark's own from_json is last-wins while get_json_object
    is first-wins, DuckDB is first-wins — probed r12); here only the
    no-crash half is asserted."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, '{"k": 99999999999999999999}'),  # int64 overflow
            (2, '{"k": 1, "k": 2}'),             # duplicate keys
            (3, '{"k": 7}'),                     # clean
            (4, None),                           # NULL payload
        ],
        "event_id long, props string",
    )
    v = F.try_parse_json("props")
    got = {
        r.event_id: r.k
        for r in df.select(
            "event_id", F.try_variant_get(v, "$.k", "bigint").alias("k")
        ).collect()
    }
    assert got == {1: None, 2: None, 3: 7, 4: None}
    got2 = {
        r.event_id: r.k
        for r in df.select(
            "event_id",
            F.get_json_object("props", "$.k").try_cast("bigint").alias("k"),
        ).collect()
    }
    # string path: overflow nulls via try_cast, duplicate keys read the
    # FIRST occurrence (the documented engine-internal inconsistency)
    assert got2 == {1: None, 2: 1, 3: 7, 4: None}


def test_stream_scratch_skips_a_nearly_full_dev_shm(monkeypatch, tmp_path):
    """ADVICE (medium): /dev/shm is often capped at 64 MB in containers,
    so stream scratch checks its free space and falls back to the
    default temp dir below SHM_SCRATCH_MIN_FREE_BYTES."""
    import tempfile

    from real_time_big_data_architect_spark.streaming import stateful

    monkeypatch.delenv("SPARK_GRAFT_STREAM_SCRATCH", raising=False)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    real_statvfs = os.statvfs

    def statvfs_with_free(free_bytes):
        def fake(path):
            st = real_statvfs(path)
            if path != "/dev/shm":
                return st
            return os.statvfs_result(
                (st.f_bsize, 4096, st.f_blocks, st.f_bfree,
                 free_bytes // 4096, st.f_files, st.f_ffree, st.f_favail,
                 st.f_flag, st.f_namemax)
            )
        return fake

    monkeypatch.setattr(
        os, "statvfs",
        statvfs_with_free(stateful.SHM_SCRATCH_MIN_FREE_BYTES - 4096),
    )
    low = stateful.stream_scratch_dir("shm_check_")
    assert os.path.dirname(low) == str(tmp_path)
    os.rmdir(low)

    if not (os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK)):
        pytest.skip("no writable /dev/shm on this host")
    monkeypatch.setattr(
        os, "statvfs", statvfs_with_free(stateful.SHM_SCRATCH_MIN_FREE_BYTES)
    )
    roomy = stateful.stream_scratch_dir("shm_check_")
    assert os.path.dirname(roomy) == "/dev/shm"
    os.rmdir(roomy)


def test_stage_cdc_feed_with_an_empty_parity(spark, sf_small, tmp_path, monkeypatch):
    """A change feed whose keys all share one parity stages that
    parity's file alone (the other parity has no partition directory)."""
    from real_time_big_data_architect_spark.operators import mutations
    from real_time_big_data_architect_spark.streaming import stateful

    full_feed = mutations._cdc_feed
    monkeypatch.setattr(
        mutations,
        "_cdc_feed",
        lambda v1, v2: full_feed(v1, v2).filter(F.col("o_orderkey") % 2 == 0),
    )
    work = tmp_path / "cdc"
    work.mkdir()
    _, feed_dir, _ = stateful.stage_cdc_feed(spark, sf_small, str(work))
    assert sorted(os.listdir(feed_dir)) == ["feed0.parquet"]
    v1 = mutations._cdc_v1(spark, sf_small)
    want = mutations._cdc_feed(v1, mutations._cdc_v2(v1)).count()
    assert want > 0
    assert spark.read.parquet(f"{feed_dir}/feed0.parquet").count() == want


@pytest.mark.parametrize(
    "module, query",
    [
        ("aggregates", "grouping_sets_agg"),
        ("joins", "subquery_scalar"),
        ("joins", "subquery_in"),
        ("graph", "recursive_cte_reachability"),
    ],
)
def test_sql_surface_queries_leave_no_temp_view(spark, sf_small, module, query):
    """SQL-surface queries bind their relations as ``spark.sql``
    arguments, whose uuid-named views Spark drops after analysis: the
    session's temp-view set is the same before and after the query. A
    fresh session, so no earlier test's views can hide a leak."""
    import importlib

    ops = importlib.import_module(
        f"real_time_big_data_architect_spark.operators.{module}"
    )
    session = spark.newSession()

    def temp_views():
        return {t.name for t in session.catalog.listTables() if t.isTemporary}

    before = temp_views()
    rows = ops.QUERIES[query](session, sf_small).collect()
    assert rows
    assert temp_views() == before
