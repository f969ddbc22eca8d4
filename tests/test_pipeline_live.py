"""End-to-end live-loop test: the reference's whole per-tick behavior
(fetch → normalize → agents → status) running as one Spark streaming
pipeline against a loopback HTTP server."""

from __future__ import annotations

import json
import os
import threading
import time
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from real_time_big_data_architect_spark.plans import pipeline


class _Handler(BaseHTTPRequestHandler):
    def do_GET(self):  # noqa: N802
        if self.path.startswith("/binance"):
            body = json.dumps({"symbol": "BTCUSDT", "price": "64250.10"})
            code = 200
        else:
            body = ""
            code = 503
        data = body.encode()
        self.send_response(code)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def log_message(self, *args):
        pass


@pytest.fixture(scope="module")
def server():
    srv = HTTPServer(("127.0.0.1", 0), _Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def test_live_loop_happy_path(spark, server):
    try:
        q = pipeline.run_poll_all_pipeline(
            spark,
            sources=["binance"],
            url_overrides={"binance": f"{server}/binance"},
            status_table="status_ok",
            available_now=True,
        )
        q.awaitTermination(120)
        rows = spark.table("status_ok").collect()
    finally:
        spark.sql("DROP TABLE IF EXISTS status_ok")
    assert len(rows) >= 1
    r = rows[-1]
    assert r.agent == "primary"
    assert r.headline == "BTCUSDT 64,250.10"  # A10 formatting via agents
    assert r.n_rows == 1


def test_live_loop_degrades_on_http_error(spark, server):
    try:
        q = pipeline.run_poll_all_pipeline(
            spark,
            sources=["binance"],
            url_overrides={"binance": f"{server}/fail"},
            status_table="status_fail",
            available_now=True,
        )
        q.awaitTermination(120)
        rows = spark.table("status_fail").collect()
    finally:
        spark.sql("DROP TABLE IF EXISTS status_fail")
    assert len(rows) >= 1
    r = rows[-1]
    assert r.agent == "fallback"  # C2/C4: degraded, stream alive
    assert "unavailable" in r.headline


#: a quake place with every character a status append must carry
#: through unchanged: quote, backslash, double quote, newline, non-ASCII
_ODD_PLACE = 'it\'s a \\ "odd"\nplace at 21°C'


class _MultiHandler(BaseHTTPRequestHandler):
    """Loopback catalog: binance + coingecko succeed, usgs fails;
    /odd_quake serves one quake at ``_ODD_PLACE``."""

    def do_GET(self):  # noqa: N802
        if self.path.startswith("/odd_quake"):
            body, code = json.dumps({"features": [{"properties": {
                "time": 1700000000000, "mag": 2.5, "place": _ODD_PLACE,
                "type": "earthquake",
            }}]}), 200
        elif self.path.startswith("/binance"):
            body, code = json.dumps(
                {"symbol": "BTCUSDT", "price": "64250.10"}
            ), 200
        elif self.path.startswith("/coingecko"):
            body, code = json.dumps(
                {"bitcoin": {"usd": 64000.5}, "ethereum": {"usd": 3100.25}}
            ), 200
        else:
            body, code = "", 503
        data = body.encode()
        self.send_response(code)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def log_message(self, *args):
        pass


@pytest.fixture(scope="module")
def multi_server():
    srv = HTTPServer(("127.0.0.1", 0), _MultiHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def test_live_all_sources_tick_mixed_outcomes(spark, multi_server):
    """One concurrent tick over a 3-source subset: two sources succeed,
    one 503s — the tick yields one status row PER source, the failing
    one degraded to the fallback agent without touching the others
    (per-source C2-C5, the property the 1-source reference loop cannot
    express)."""
    try:
        q = pipeline.run_poll_all_pipeline(
            spark,
            url_overrides={
                "binance": f"{multi_server}/binance",
                "coingecko": f"{multi_server}/coingecko",
                "usgs_quakes": f"{multi_server}/fail",
            },
            sources=["binance", "coingecko", "usgs_quakes"],
            status_table="status_all_mixed",
            available_now=True,
        )
        q.awaitTermination(120)
        rows = spark.table("status_all_mixed").collect()
    finally:
        spark.sql("DROP TABLE IF EXISTS status_all_mixed")
    by_src = {r.source: r for r in rows}
    assert set(by_src) == {"binance", "coingecko", "usgs_quakes"}
    assert by_src["binance"].agent == "primary"
    assert by_src["binance"].n_rows == 1
    assert by_src["coingecko"].agent == "primary"
    assert by_src["coingecko"].n_rows == 2
    assert by_src["usgs_quakes"].agent == "fallback"
    assert "unavailable" in by_src["usgs_quakes"].headline


def test_offline_all_sources_tick_covers_catalog(spark):
    """The offline (payload_dir) all-sources tick normalizes every
    catalog branch in one micro-batch: 10 status rows, all primary."""
    import os

    payload_dir = os.path.join(os.path.dirname(__file__), "payloads")
    try:
        q = pipeline.run_poll_all_pipeline(
            spark,
            payload_dir=payload_dir,
            status_table="status_all_offline",
            available_now=True,
        )
        q.awaitTermination(120)
        rows = spark.table("status_all_offline").collect()
    finally:
        spark.sql("DROP TABLE IF EXISTS status_all_offline")
    assert len(rows) == 10
    assert {r.source for r in rows} == set(
        __import__(
            "real_time_big_data_architect_spark.sources.registry",
            fromlist=["SOURCES"],
        ).SOURCES
    )
    assert all(r.agent == "primary" for r in rows)
    assert all(r.n_rows >= 1 for r in rows)


def test_oversized_poll_batch_fails_loudly(spark):
    """r5 verdict item 6: a poll batch beyond MAX_POLL_ROWS_PER_BATCH
    must be refused with a clear error (the poll plan also bounds the
    rows where they are created; see the refusal tests below)."""
    big = [(0.0, "binance", "{}", None)] * (pipeline.MAX_POLL_ROWS_PER_BATCH + 5)
    with pytest.raises(RuntimeError, match="exceeded .* rows"):
        pipeline.process_tick(spark, big, tick=0)
    # at the cap: processes normally (one status row)
    ok = [(0.0, "binance", '{"symbol": "BTCUSDT", "price": "1.0"}', None)]
    out = pipeline.process_tick(spark, ok, tick=0)
    assert len(out) == 1 and out[0].source == "binance"


_PAYLOAD_DIR = os.path.join(os.path.dirname(__file__), "payloads")


@pytest.mark.parametrize("source", ["binance", "usgs_quakes", "github_events"])
def test_agents_branch_plans_no_exchange(spark, source):
    """One source's batch_insights branch (its normalize SQL over the
    one-slice payload relation → global agg) runs on a single
    partition: no Exchange, so one task per source when a branch reruns
    alone."""
    from real_time_big_data_architect_spark.plans import agents

    with open(os.path.join(_PAYLOAD_DIR, f"{source}.json")) as f:
        payload = f.read()
    branch = agents._picks(spark, {source: payload})
    rows = branch.collect()
    assert [r.source for r in rows] == [source]
    assert rows[0].n >= 1
    plan = branch._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_batch_insights_runs_a_catalog_tick_in_one_job(spark):
    """The agents step of a 10-source tick is ONE Spark statement: one
    job, and its plan has no Exchange (each branch reads its payload
    from a one-slice range, so its global aggregate needs no shuffle)."""
    from real_time_big_data_architect_spark.plans import agents
    from real_time_big_data_architect_spark.sources.registry import SOURCES

    payloads = {}
    for source in SOURCES:
        with open(os.path.join(_PAYLOAD_DIR, f"{source}.json")) as f:
            payloads[source] = f.read()
    sc = spark.sparkContext
    group = "batch_insights_one_job"
    sc.setJobGroup(group, "agents tick")
    try:
        out = agents.batch_insights(spark, payloads)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert set(out) == set(SOURCES)
    assert all(i.agent == "primary" and i.n_rows >= 1 for i in out.values())
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    plan = agents._picks(spark, payloads)._jdf.queryExecution().executedPlan()
    assert "Exchange" not in plan.toString(), plan.toString()


#: tidy row counts of the fixture catalog (tests/payloads)
_FIXTURE_ROWS = {
    "openaq": 3, "open_meteo": 1, "coingecko": 3, "usgs_quakes": 3,
    "spacex": 1, "github_events": 30, "nws_alerts": 2, "fx_rates": 3,
    "iss_now": 1, "binance": 1,
}


def test_malformed_values_degrade_only_their_own_sources(spark, tmp_path):
    """Under ANSI mode one malformed value degrades only its own source,
    although the whole tick is one statement: an ISS latitude of "n/a"
    (cast to NULL, refused by the formatter) and a quake time that
    overflows timestamp_millis (fails the combined statement, so each
    branch reruns alone) give 2 fallback rows; the other 8 sources keep
    their primary rows and counts."""
    import shutil

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    payload_dir = tmp_path / "payloads"
    shutil.copytree(_PAYLOAD_DIR, payload_dir)
    iss = json.loads((payload_dir / "iss_now.json").read_text())
    iss["iss_position"]["latitude"] = "n/a"
    (payload_dir / "iss_now.json").write_text(json.dumps(iss))
    quakes = json.loads((payload_dir / "usgs_quakes.json").read_text())
    quakes["features"][0]["properties"]["time"] = 9223372036854775000
    (payload_dir / "usgs_quakes.json").write_text(json.dumps(quakes))
    table = "status_all_malformed"
    try:
        q = pipeline.run_poll_all_pipeline(
            spark,
            payload_dir=str(payload_dir),
            status_table=table,
            available_now=True,
        )
        q.awaitTermination(120)
        rows = {r.source: r for r in spark.table(table).collect()}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    assert set(rows) == set(_FIXTURE_ROWS)
    bad = {"iss_now", "usgs_quakes"}
    for source, n in _FIXTURE_ROWS.items():
        r = rows[source]
        if source in bad:
            assert (r.agent, r.n_rows) == ("fallback", 0), r
        else:
            assert (r.agent, r.n_rows) == ("primary", n), r


@pytest.mark.parametrize(
    ("plan", "match"),
    [
        (
            {
                "payload_dir": _PAYLOAD_DIR,
                "sources": [
                    f"s{i}" for i in range(pipeline.MAX_POLL_ROWS_PER_BATCH + 1)
                ],
            },
            "MAX_POLL_ROWS_PER_BATCH",
        ),
        ({"sources": ["bogus"]}, "unknown source"),
    ],
    ids=["over_row_cap", "unknown_source"],
)
def test_loop_refuses_more_sources_than_the_row_cap_before_starting(
    spark, plan, match
):
    """The live loop resolves its poll plan at start: more sources than
    MAX_POLL_ROWS_PER_BATCH, or a source key that only the catalog could
    address but the catalog does not hold, are refused before any
    stream starts (an unknown key would otherwise fail every tick)."""
    before = len(spark.streams.active)
    with pytest.raises(ValueError, match=match):
        pipeline.run_poll_all_pipeline(spark, available_now=True, **plan)
    assert len(spark.streams.active) == before


def test_catalog_tick_runs_two_jobs(spark):
    """A 10-source tick is two Spark jobs: the agents statement and the
    status append. The poll runs in the driver's own Python and the
    micro-batch clock's row is never read, so neither adds a job (the
    per-tick collect of a Python DataSource poll batch was a third)."""
    table = "status_two_jobs"
    try:
        q = pipeline.run_poll_all_pipeline(
            spark,
            payload_dir=_PAYLOAD_DIR,
            status_table=table,
            available_now=True,
        )
        assert q.awaitTermination(120)
        sc = spark.sparkContext
        # job events reach the status store through the async listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc.statusTracker().getJobIdsForGroup(str(q.runId))
        n_status = spark.table(table).count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    assert [json.loads(p.json)["batchId"] for p in q.recentProgress] == [0]
    assert n_status == 10
    assert len(jobs) == 2, jobs


def test_loop_needs_no_python_datasource(spark, monkeypatch):
    """The poll path registers no Python DataSource: with registration
    made to raise, a catalog tick still appends the correct status row
    for every source, and both snapshot queries (the same poll, run
    once) still return their rows."""
    from pyspark.sql.datasource import DataSourceRegistration

    from real_time_big_data_architect_spark.sources.http_poll import (
        http_poll_all_snapshot,
        http_poll_usgs_snapshot,
    )

    def refuse(self, dataSource):  # noqa: ARG001
        raise AssertionError("the poll path registered a Python DataSource")

    monkeypatch.setattr(DataSourceRegistration, "register", refuse)
    table = "status_no_pyds"
    try:
        q = pipeline.run_poll_all_pipeline(
            spark,
            payload_dir=_PAYLOAD_DIR,
            status_table=table,
            available_now=True,
        )
        assert q.awaitTermination(120)
        assert q.exception() is None
        rows = {r.source: r for r in spark.table(table).collect()}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    assert {s: (r.tick, r.agent, r.n_rows) for s, r in rows.items()} == {
        s: (0, "primary", n) for s, n in _FIXTURE_ROWS.items()
    }
    snapshot = http_poll_all_snapshot(spark, "").collect()
    assert {r.source: r.n_rows for r in snapshot} == _FIXTURE_ROWS
    assert len(snapshot) == 10
    assert len(http_poll_usgs_snapshot(spark, "").collect()) == 3


def test_poll_all_offsets_keep_rising_across_restart(spark, tmp_path):
    """A loop restarted from its checkpoint carries on from the
    checkpointed clock offset: the micro-batch clock's offset rises
    across the restart, and every tick of both runs leaves one status
    row per source."""
    ckpt = str(tmp_path / "ckpt")
    table = "status_all_restart"
    sources = ["binance", "iss_now"]
    offsets = []
    try:
        for _ in range(2):
            q = pipeline.run_poll_all_pipeline(
                spark,
                payload_dir=_PAYLOAD_DIR,
                sources=sources,
                status_table=table,
                available_now=True,
                checkpoint_location=ckpt,
            )
            assert q.awaitTermination(120)
            for p in q.recentProgress:
                src = json.loads(p.json)["sources"][0]
                offsets.append((src["startOffset"], src["endOffset"]))
        ticks = [end["offset"] for _, end in offsets]
        assert len(ticks) >= 2 and ticks == sorted(set(ticks)), offsets
        rows = spark.table(table).collect()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    by_tick: dict[int, list[str]] = {}
    for r in rows:
        by_tick.setdefault(r.tick, []).append(r.source)
    assert sorted(by_tick) == list(range(len(ticks)))
    assert all(sorted(v) == sorted(sources) for v in by_tick.values()), by_tick


@pytest.mark.parametrize("table_exists", [False, True])
def test_status_append_keeps_headline_bytes(spark, multi_server, table_exists):
    """The per-tick status append lands a headline holding quotes, a
    backslash, a newline and non-ASCII text byte for byte, with tick and
    n_rows as bigint — whether the loop creates the status table or
    appends to one that already exists."""
    table = f"status_odd_{int(table_exists)}"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        if table_exists:
            spark.sql(
                f"CREATE TABLE {table} ({pipeline.STATUS_SCHEMA}) USING parquet"
            )
            spark.sql(
                f"INSERT INTO {table} VALUES (99, 'earlier', 0, 'x', 'fallback')"
            )
        q = pipeline.run_poll_all_pipeline(
            spark,
            url_overrides={"usgs_quakes": f"{multi_server}/odd_quake"},
            sources=["usgs_quakes"],
            status_table=table,
            available_now=True,
        )
        q.awaitTermination(120)
        status = spark.table(table)
        types = dict(status.dtypes)
        rows = {r.source: r for r in status.collect()}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    assert (types["tick"], types["n_rows"]) == ("bigint", "bigint")
    assert set(rows) == ({"usgs_quakes", "earlier"} if table_exists else {"usgs_quakes"})
    quake = rows["usgs_quakes"]
    assert (quake.tick, quake.n_rows, quake.agent) == (0, 1, "primary")
    assert quake.headline == f"latest quake M2.5 @ {_ODD_PLACE}"
