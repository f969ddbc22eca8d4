"""HTTP poll source tests (reference Extract stage, app.py:67-81).

A loopback http.server stands in for the public APIs — no external
network. Covers S1 (fetch), S2 (conditional User-Agent), the
json-else-text fallback, the error path (C4), and one live-loop tick
end-to-end.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from real_time_big_data_architect_spark.sources import http_poll


class _Handler(BaseHTTPRequestHandler):
    def do_GET(self):  # noqa: N802 (stdlib naming)
        if self.path.startswith("/json"):
            body = json.dumps({"symbol": "BTCUSDT", "price": "64250.10"})
        elif self.path.startswith("/huge"):
            # oversize body for the MAX_PAYLOAD_BYTES degrade test; the
            # test shrinks the cap, so 64 KiB is "huge" enough
            body = "x" * (64 * 1024)
        elif self.path.startswith("/text"):
            body = "plain text, not json"
        elif "weather.gov" in self.path:
            # echo the received User-Agent so the test can assert S2
            body = json.dumps({"ua": self.headers.get("User-Agent", "")})
        elif self.path.startswith("/fail"):
            self.send_response(503)
            self.end_headers()
            return
        else:
            body = "{}"
        data = body.encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def log_message(self, *args):  # silence request logging
        pass


@pytest.fixture(scope="module")
def server():
    srv = HTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def test_fetch_json_payload(server):
    payload, err = http_poll.fetch(f"{server}/json")
    assert err is None
    assert json.loads(payload)["symbol"] == "BTCUSDT"


def test_fetch_text_fallback_keeps_body(server):  # app.py:76-79
    payload, err = http_poll.fetch(f"{server}/text")
    assert err is None
    assert payload == "plain text, not json"


def test_fetch_http_error_surfaced(server):  # C4
    payload, err = http_poll.fetch(f"{server}/fail")
    assert payload is None
    assert "503" in err


def test_fetch_connection_error_surfaced():
    payload, err = http_poll.fetch("http://127.0.0.1:1/nothing", timeout=1)
    assert payload is None and err


def test_fetch_oversize_body_degrades_to_error(server, monkeypatch):
    """A body beyond MAX_PAYLOAD_BYTES becomes an error ROW (the C4
    degrade path), and the read itself is capped — the driver funnel
    in plans/pipeline.py is therefore bounded by cap × row limit."""
    monkeypatch.setattr(http_poll, "MAX_PAYLOAD_BYTES", 1024)
    payload, err = http_poll.fetch(f"{server}/huge")
    assert payload is None
    assert "exceeds 1024 bytes" in err
    # under the real cap the same body is fine
    monkeypatch.setattr(http_poll, "MAX_PAYLOAD_BYTES", 16 * 1024 * 1024)
    payload, err = http_poll.fetch(f"{server}/huge")
    assert err is None and len(payload) == 64 * 1024


def test_weather_gov_user_agent_injected(server):  # S2, app.py:71-72
    payload, _ = http_poll.fetch(f"{server}/weather.gov/alerts")
    assert json.loads(payload)["ua"] == "real-time-big-data-architect-spark"


def test_custom_headers_passed(server):
    payload, err = http_poll.fetch(f"{server}/json", headers={"X-Test": "1"})
    assert err is None  # headers accepted without breaking the request


def test_http_poll_datasource_end_to_end(spark, server):
    """One tick of the live loop against the loopback server: the poll
    row carries the served payload, and the tick appends its status."""
    from real_time_big_data_architect_spark.plans import pipeline

    [(fetch_ts, source, payload, error)] = http_poll.poll_all(
        http_poll.poll_plan(
            sources=["binance"], urls={"binance": f"{server}/json"}
        )
    )
    assert (source, error) == ("binance", None)
    assert json.loads(payload)["price"] == "64250.10"
    assert fetch_ts > 0
    table = "http_poll_sink"
    try:
        q = pipeline.run_poll_all_pipeline(
            spark,
            sources=["binance"],
            url_overrides={"binance": f"{server}/json"},
            status_table=table,
            available_now=True,
        )
        q.awaitTermination(60)
        rows = spark.table(table).collect()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    assert len(rows) >= 1
    assert (rows[0].agent, rows[0].headline) == ("primary", "BTCUSDT 64,250.10")


def test_all_sources_stream_reader_fetches_every_source_at_once(monkeypatch):
    """The live loop's poll (``poll_all``) polls every planned source at
    the same time (each poll waits at a barrier only all of them
    together can pass) and returns the rows in plan order although the
    polls finish in reverse order."""
    import time

    from real_time_big_data_architect_spark.sources.registry import SOURCES

    keys = list(SOURCES)
    barrier = threading.Barrier(len(keys), timeout=5)

    def concurrent_poll(options):
        barrier.wait()
        key = options["payload_path"].rsplit("/", 1)[1].removesuffix(".json")
        time.sleep(0.02 * (len(keys) - keys.index(key)))
        return 1.0, f"payload of {key}", None

    monkeypatch.setattr(http_poll, "_poll_once", concurrent_poll)
    rows = http_poll.poll_all(http_poll.poll_plan(payload_dir="/payloads"))
    assert [r[1] for r in rows] == keys
    assert [r[2] for r in rows] == [f"payload of {k}" for k in keys]
