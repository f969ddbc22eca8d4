"""Normalization: raw JSON payload → tidy typed DataFrame.

The Spark-first re-expression of ``normalize_to_df`` (app.py:84-189,
SURVEY §2.2): each branch is ONE SQL text (:data:`SQL`) over a relation
``{src}`` holding the raw payload string in a ``payload`` column — a
``from_json`` parse plus explode/select clauses, fully declarative, so
the same text runs identically in batch (unit tests on captured
payloads), inside ``foreachBatch`` on the live poll stream, and as a
branch of the live tick's single agents statement
(:func:`plans.agents.batch_insights`).

Branch map (reference → here):
  N1  null guard            → empty DF with the branch schema
  N2  openaq                → double explode, parent key carried down
  N3  open_meteo            → nested-struct projection
  N4  coingecko             → MapType explode (map→rows pivot)
  N5  usgs_quakes           → explode + timestamp_millis + date_format
  N6  spacex                → scalar projection
  N7  github_events         → array head-slice (limit 30) + dotted paths
  N8  nws_alerts            → explode + projection
  N9  fx_rates              → map explode + concat scalar carry-down
  N10 iss_now               → struct projection, strings kept as strings
  N11 binance               → flat projection
  N12 unknown key           → empty DF
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from real_time_big_data_architect_spark.sources import schemas as S

GITHUB_CLIENT_CAP = 30  # raw[:30], app.py:144


def _sql(source: str, select: str, explode: str = "") -> str:
    """One branch's text: parse ``payload`` with the source's explicit
    schema, apply the ``LATERAL VIEW`` explodes, project ``select``.

    ``WHERE p IS NOT NULL`` drops unparseable payloads: ``from_json``
    yields NULL for a null or non-JSON payload (an HTML error page from
    a 200, a truncated body), and without the filter the SCALAR-
    projection branches emitted one all-NULL phantom row the dashboards
    then "reported" (r10 review finding — explode branches were immune
    only because exploding NULL yields no rows). The N1 contract is the
    same for every branch: unparseable → ZERO rows."""
    schema = S.PAYLOAD_SCHEMAS[source].simpleString()
    return (
        f"SELECT {select}"
        f" FROM (SELECT from_json(payload, '{schema}') AS p FROM {{src}})"
        f" {explode} WHERE p IS NOT NULL"
    )


#: every branch's only definition; ``{src}`` is the payload relation
SQL: dict[str, str] = {
    # N2: results[] × measurements[] → rows; city carried down
    "openaq": _sql(
        "openaq",
        "r.city AS city, m.parameter AS parameter, m.value AS value,"
        " m.unit AS unit, m.lastUpdated AS updated",
        "LATERAL VIEW explode(p.results) AS r"
        " LATERAL VIEW explode(r.measurements) AS m",
    ),
    # N3: single nested struct → 1-row projection
    "open_meteo": _sql(
        "open_meteo",
        "p.current.temperature_2m AS temperature_2m,"
        " p.current.wind_speed_10m AS wind_speed_10m, p.current.time AS time",
    ),
    # N4: map→rows pivot, asset keys become rows
    "coingecko": _sql(
        "coingecko", "asset, v.usd AS usd", "LATERAL VIEW explode(p) AS asset, v"
    ),
    # N5: explode features[]; epoch-ms → 'yyyy-MM-dd HH:mm:ss' string
    "usgs_quakes": _sql(
        "usgs_quakes",
        "date_format(timestamp_millis(f.properties.time),"
        " 'yyyy-MM-dd HH:mm:ss') AS time, f.properties.mag AS mag,"
        " f.properties.place AS place, f.properties.type AS type",
        "LATERAL VIEW explode(p.features) AS f",
    ),
    # N6: top-level scalar projection
    "spacex": _sql(
        "spacex",
        "p.name AS name, p.date_utc AS date_utc, p.success AS success,"
        " p.flight_number AS flight_number",
    ),
    # N7: array head-slice (first 30) + nested projection
    "github_events": _sql(
        "github_events",
        "ev.type AS type, ev.repo.name AS repo, ev.actor.login AS actor,"
        " ev.created_at AS created_at",
        f"LATERAL VIEW explode(slice(p, 1, {GITHUB_CLIENT_CAP})) AS ev",
    ),
    # N8: explode features[], project properties.*
    "nws_alerts": _sql(
        "nws_alerts",
        "f.properties.event AS event, f.properties.areaDesc AS area,"
        " f.properties.severity AS severity, f.properties.sent AS sent",
        "LATERAL VIEW explode(p.features) AS f",
    ),
    # N9: map→rows + 'base/key' concat carrying scalars to every row.
    # concat, not concat_ws: a payload missing 'base' must surface as a
    # NULL pair, not silently render as the bare currency code
    # (concat_ws skips NULL fields AND the separator — r10 review
    # finding)
    "fx_rates": _sql(
        "fx_rates",
        "concat(p.base, '/', ccy) AS pair, rate, p.date AS date",
        "LATERAL VIEW explode(p.rates) AS ccy, rate",
    ),
    # N10: struct projection; lat/long stay strings — cast at analytics
    "iss_now": _sql(
        "iss_now",
        "p.iss_position.latitude AS latitude,"
        " p.iss_position.longitude AS longitude, p.timestamp AS timestamp",
    ),
    # N11: flat dict → 1-row table; price stays a string
    "binance": _sql("binance", "p.symbol AS symbol, p.price AS price"),
}


def sql_over(source: str, relation: str) -> str:
    """``source``'s branch text over ``relation`` (SQL text of a
    relation with a ``payload`` column), for embedding in a larger
    statement."""
    return SQL[source].format(src=relation)


def _runner(source: str):
    def run(df: DataFrame) -> DataFrame:
        return normalize(df, source)

    run.__name__ = run.__qualname__ = f"normalize_{source}"
    run.__doc__ = f"Run the ``{source}`` branch of :data:`SQL` over ``df``."
    return run


normalize_openaq = _runner("openaq")
normalize_open_meteo = _runner("open_meteo")
normalize_coingecko = _runner("coingecko")
normalize_usgs_quakes = _runner("usgs_quakes")
normalize_spacex = _runner("spacex")
normalize_github_events = _runner("github_events")
normalize_nws_alerts = _runner("nws_alerts")
normalize_fx_rates = _runner("fx_rates")
normalize_iss_now = _runner("iss_now")
normalize_binance = _runner("binance")


def empty_result(spark, source: str) -> DataFrame:
    """N1/N12: null payload or unknown source → empty table with the
    branch's EXACT output schema — derived by running the branch over
    an empty payload relation, so it can never drift from the real
    projection (r10 review finding: the former hand-maintained DDL
    table had no parity enforcement; tidy schemas are documented in
    FIXTURES.md §B)."""
    if source not in SQL:
        return spark.createDataFrame([], T.StructType([]))
    return normalize(spark.createDataFrame([], "payload string"), source)


def normalize(df: DataFrame, source: str) -> DataFrame:
    """Dispatch one payload DataFrame (column ``payload`` string) through
    its source branch; unknown source → empty DF (N12)."""
    if source not in SQL:
        return empty_result(df.sparkSession, source)
    return df.sparkSession.sql(SQL[source], src=df)
