"""Primary/fallback analytics agents (reference C1-C6, app.py:192-247).

Agent 1 (:func:`batch_insights`) computes the reference's per-source
insight queries for every payload of a tick as one Spark statement; a
source whose tidy table is empty raises :class:`EmptyBatchError`
exactly like ``agent_1`` (app.py:194-195). Agent 2
(:func:`fallback_insight`) is the degrade path. ``batch_insights`` is
also the try/except dispatcher (``agentic_commentary``,
app.py:242-247): a source whose primary insight fails gets the
fallback, so each micro-batch gets a status record per source instead
of a crashed stream.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame

from real_time_big_data_architect_spark.sources import normalize as norm


class EmptyBatchError(ValueError):
    """Raised on an empty tidy table (agent_1's ValueError, app.py:194-195)."""


@dataclass
class Insight:
    source: str
    n_rows: int
    headline: str
    agent: str  # "primary" | "fallback"


def _render_headline(source: str, n: int, row) -> str:
    """Shared headline formatter: ``row`` is the per-source pick (a
    mapping or None), ``n`` the tidy row count. Raises on malformed
    picks (e.g. a NULL spot price under a numeric format), which the
    C3 dispatcher in :func:`batch_insights` turns into a fallback."""
    if source == "coingecko":
        return f"BTC ${row['usd']:,.0f}" if row else "BTC not present"
    if source == "usgs_quakes":
        return f"latest quake M{row['mag']} @ {row['place']}" if row else "no quakes"
    if source == "fx_rates":
        return f"strongest pair {row['pair']} @ {row['rate']:.3f}" if row else "no rates"
    if source == "open_meteo":
        return f"{row['temperature_2m']:.1f}°C wind {row['wind_speed_10m']}" if row else "n/a"
    if source == "iss_now":
        return f"ISS at ({row['lat']:.2f}, {row['lon']:.2f})" if row else "n/a"
    if source == "binance":
        return f"BTCUSDT {row['p']:,.2f}" if row else "n/a"
    return f"{n} records"


#: Spark-side pick expression per source — the reference's A4/A5/A7
#: lookups (app.py:192-228) as single aggregates, so a whole catalog
#: tick is ONE Spark job: filter+first → max(CASE WHEN ...),
#: orderBy-desc-limit-1 → max_by (ties arbitrary). max_by
#: skips NULL ordering keys, so a quake with a NULL mag is never the
#: latest one (A6); a NULL pick field raises a TypeError under the
#: shared formatter → C3 fallback.
#: Value casts are ``try_cast``: under ANSI mode a malformed value
#: ("n/a") must become NULL — and so this source's fallback — instead
#: of failing the whole tick's statement.
_PICK_EXPRS: dict[str, str] = {
    "coingecko": (
        "named_struct("
        " 'usd', max(CASE WHEN asset = 'bitcoin'"
        "       THEN try_cast(usd AS DOUBLE) END),"
        " 'present', count(CASE WHEN asset = 'bitcoin' THEN 1 END) > 0)"
    ),
    "usgs_quakes": (
        "max_by(named_struct('mag', mag, 'place', place),"
        " CASE WHEN mag IS NOT NULL THEN time END)"
    ),
    "fx_rates": (
        "CASE WHEN count(rate) > 0"
        " THEN named_struct('pair', max_by(pair, rate),"
        "                   'rate', max(rate))"
        " ELSE named_struct('pair', CAST(NULL AS STRING),"
        "                   'rate', CAST(NULL AS DOUBLE)) END"
    ),
    # ONE first() over a struct, not one per field: independent
    # first(col) aggregates may each take a DIFFERENT arbitrary row on
    # a multi-row frame, mixing fields across rows; the struct pick
    # takes all fields from the same row, like the reference's
    # df.iloc[0]
    "open_meteo": (
        "first(named_struct('temperature_2m', temperature_2m,"
        " 'wind_speed_10m', wind_speed_10m))"
    ),
    "iss_now": (
        "first(named_struct('lat', try_cast(latitude AS DOUBLE),"
        " 'lon', try_cast(longitude AS DOUBLE)))"
    ),
    "binance": "first(named_struct('p', try_cast(price AS DOUBLE)))",
}

_PICK_KEYS = {
    "coingecko": ("usd",),
    "usgs_quakes": ("mag", "place"),
    "fx_rates": ("pair", "rate"),
    "open_meteo": ("temperature_2m", "wind_speed_10m"),
    "iss_now": ("lat", "lon"),
    "binance": ("p",),
}


def _branch_sql(source: str, param: str) -> str:
    """One source's ``(source, n, pick-json)`` aggregate over its
    normalize branch, the payload bound as the named parameter
    ``param``. The payload relation is a ONE-slice range: a single
    partition, so the global aggregate plans no Exchange."""
    pick = _PICK_EXPRS.get(source)
    tidy = norm.sql_over(
        source, f"(SELECT :{param} AS payload FROM range(0, 1, 1, 1))"
    )
    return (
        f"SELECT '{source}' AS source, count(1) AS n,"
        f" {f'to_json({pick})' if pick else 'CAST(NULL AS STRING)'} AS pick"
        f" FROM ({tidy})"
    )


def _picks(spark, payloads: dict[str, str]) -> DataFrame:
    """Every source's branch as ONE ``UNION ALL`` statement (one
    analysis, one job): a ``(source, n, pick)`` row per source."""
    params = {f"p{i}": payload for i, payload in enumerate(payloads.values())}
    text = " UNION ALL ".join(
        _branch_sql(source, param) for source, param in zip(payloads, params)
    )
    return spark.sql(text, args=params)


def _pick_insight(r) -> Insight:
    """Render one collected ``(source, n, pick)`` row through the shared
    formatter; raises on an empty or malformed pick (C1/C3)."""
    source, n = r["source"], r["n"]
    if n == 0:
        raise EmptyBatchError(f"{source}: empty batch")
    pick = json.loads(r["pick"]) if r["pick"] is not None else None
    if source == "coingecko":
        # to_json drops NULL fields: present=false ⇒ no bitcoin row ⇒
        # no pick
        pick = {"usd": pick.get("usd")} if pick.get("present") else None
    elif pick is not None:
        # restore fields to_json dropped as NULL so the shared formatter
        # sees every key of the pick
        for k in _PICK_KEYS[source]:
            pick.setdefault(k, None)
    return Insight(
        source=source,
        n_rows=n,
        headline=_render_headline(source, n, pick),
        agent="primary",
    )


def batch_insights(spark, payloads: dict[str, str]) -> dict[str, Insight]:
    """Agent 1 over a WHOLE catalog tick: ``{source: payload}`` → one
    insight per source, from ONE Spark statement.

    Every source's normalize branch (:data:`sources.normalize.SQL`) and
    pick aggregate become one branch of a ``UNION ALL``, its payload a
    named parameter, so the tick costs one analysis, one job and a few
    py4j calls however many sources it polls. The shared formatter
    renders headlines driver-side from the collected picks. It is also
    the C3 dispatcher: a source whose primary insight fails gets
    :func:`fallback_insight`, and a failure stays with its own source
    (C2-C5):

    * an empty tidy table raises :class:`EmptyBatchError` (C1) →
      fallback (C5);
    * an unknown source has no branch: empty batch → fallback (N12);
    * a malformed value in a pick is ``try_cast`` to NULL, which the
      formatter refuses → that source's fallback;
    * if the combined statement still raises (e.g. ``timestamp_millis``
      overflow on a huge quake ``time``), each source's branch reruns
      alone with the same text, and only the failing one falls back.
    """
    out: dict[str, Insight] = {}
    healthy = {}
    for source, payload in payloads.items():
        if source in norm.SQL:
            healthy[source] = payload
        else:
            out[source] = fallback_insight(source, f"{source}: empty batch")
    if not healthy:
        return out
    try:
        rows = _picks(spark, healthy).collect()
    except Exception:  # noqa: BLE001 — isolate the failing source(s)
        rows = []
        for source, payload in healthy.items():
            try:
                rows += _picks(spark, {source: payload}).collect()
            except Exception as exc:  # noqa: BLE001 — C3 per source
                out[source] = fallback_insight(source, str(exc))
    for r in rows:
        try:
            out[r["source"]] = _pick_insight(r)
        except Exception as exc:  # noqa: BLE001 — C3: degrade per source
            out[r["source"]] = fallback_insight(r["source"], str(exc))
    return out


def fallback_insight(source: str, reason: str) -> Insight:
    """Agent 2: source-down diagnosis + retry suggestion (app.py:230-240)."""
    return Insight(
        source=source,
        n_rows=0,
        headline=f"source '{source}' unavailable ({reason}); retry or switch source",
        agent="fallback",
    )

