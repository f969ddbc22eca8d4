"""Agent dispatch tests (reference C1-C6, app.py:192-247).

C1 primary insights per source; C2 fallback content; C3 try/except
dispatch; C4 fetch-error degrade; C5 empty-result degrade. Every case
runs the tick's own agent path: ``agents.batch_insights`` on the
captured payloads, and ``pipeline.process_tick`` for a fetch error.
"""

from __future__ import annotations

import os

import pytest

from real_time_big_data_architect_spark.plans import agents, pipeline

PAYLOADS = os.path.join(os.path.dirname(__file__), "payloads")


def insight(spark, source, payload=None):
    if payload is None:
        with open(os.path.join(PAYLOADS, f"{source}.json")) as f:
            payload = f.read()
    return agents.batch_insights(spark, {source: payload})[source]


def test_primary_coingecko_btc_headline(spark):  # C1 + A4/A5/A10
    ins = insight(spark, "coingecko")
    assert ins.agent == "primary"
    assert ins.n_rows == 3
    assert ins.headline == "BTC $64,250"


def test_primary_usgs_latest_quake_skips_null_mag(spark):  # A6+A7
    ins = insight(spark, "usgs_quakes")
    # latest row with non-null mag is Beta Ridge (Gamma Quarry has null mag)
    assert ins.headline == "latest quake M2.1 @ Beta Ridge"


def test_primary_fx_strongest_pair(spark):  # A7/A10
    ins = insight(spark, "fx_rates")
    assert ins.headline == "strongest pair USD/JPY @ 157.200"


def test_primary_iss_casts_string_coords(spark):  # A5/N10
    ins = insight(spark, "iss_now")
    assert ins.headline == "ISS at (47.61, -122.33)"


def test_empty_batch_raises():  # C1 empty gate (app.py:194-195)
    with pytest.raises(agents.EmptyBatchError):
        agents._pick_insight({"source": "coingecko", "n": 0, "pick": None})


def test_commentary_routes_empty_to_fallback(spark):  # C3+C5
    ins = insight(spark, "coingecko", "{}")
    assert ins.agent == "fallback"
    assert "unavailable" in ins.headline
    assert "empty batch" in ins.headline


def test_commentary_routes_fetch_error_to_fallback(spark):  # C4
    batch = [(0.0, "spacex", None, "HTTP 503")]
    [row] = pipeline.process_tick(spark, batch, tick=0)
    assert row.agent == "fallback"
    assert "HTTP 503" in row.headline


def test_commentary_happy_path_uses_primary(spark):  # C3
    ins = insight(spark, "binance")
    assert ins.agent == "primary"
    assert ins.headline == "BTCUSDT 64,250.10"
