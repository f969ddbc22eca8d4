"""HTTP polling source (reference Extract stage, app.py:67-81).

Two layers:

- :func:`fetch` — the reference's fetch semantics re-implemented with
  stdlib urllib (no ``requests`` dependency): 15 s timeout, optional
  header injection (S2), HTTP-error surfaced, JSON-parse with plain-text
  fallback, returns ``(payload_text, error)``.
- :func:`poll_all` — one poll of every planned source at once, one
  thread per source, in the calling process: one row ``(fetch_ts,
  source, payload, error)`` per source, in plan order. The live loop
  (:func:`plans.pipeline.run_poll_all_pipeline`) calls it inside its
  ``foreachBatch`` on every tick; the declared snapshot queries below
  call it once, when the query is built, and hand its rows to Spark as
  a JVM-side literal relation (``tables.jvm_local_df``). Downstream,
  ``sources.normalize`` turns each payload into its tidy table. Tests
  use fixture payloads, no network (SURVEY §7 M4).
"""

from __future__ import annotations

import json
import os
import time
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor

from real_time_big_data_architect_spark.streaming import progress
from real_time_big_data_architect_spark.tables import jvm_local_df


#: hard byte ceiling on a single poll payload. The catalog endpoints
#: return small JSON documents (the reference caps at limit=20/50
#: records); a misbehaving endpoint streaming an unbounded body is the
#: one way a poll row could grow without bound, and poll payloads
#: transit the driver (plans/pipeline.py) — so oversize bodies degrade
#: into an error row at FETCH time, like every other fetch failure.
MAX_PAYLOAD_BYTES = 16 * 1024 * 1024

#: driver-funnel guard (r5 verdict item 6): the poll contract is one
#: row per source per tick (catalog = 10 sources), and a tick's rows
#: live on the driver (plans/pipeline.py). The poll plan refuses a
#: source list beyond this cap, so a batch holds at most this many
#: rows; with payload size capped at fetch time
#: (MAX_PAYLOAD_BYTES), cap × payload bounds the driver transfer
#: absolutely.
MAX_POLL_ROWS_PER_BATCH = 64


def fetch(
    url: str, headers: dict[str, str] | None = None, timeout: int = 15
) -> tuple[str | None, str | None]:
    """GET url → (payload_text, error); mirrors app.py:67-81 semantics.

    The payload is returned as raw text: JSON validity is checked (the
    reference's json-else-text fallback) but parsing into columns is
    Spark's job (``from_json`` in sources.normalize). Bodies larger
    than ``MAX_PAYLOAD_BYTES`` degrade to an error row (read is capped,
    never unbounded).
    """
    req = urllib.request.Request(url, headers=headers or {})
    if "weather.gov" in url:  # S2: conditional header injection (app.py:71-72)
        req.add_header("User-Agent", "real-time-big-data-architect-spark")
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            if resp.status >= 400:
                return None, f"HTTP {resp.status}"
            raw = resp.read(MAX_PAYLOAD_BYTES + 1)
            if len(raw) > MAX_PAYLOAD_BYTES:
                return None, (
                    f"payload exceeds {MAX_PAYLOAD_BYTES} bytes (capped)"
                )
            body = raw.decode("utf-8", errors="replace")
    except (urllib.error.URLError, OSError, ValueError) as exc:
        return None, str(exc)
    try:
        json.loads(body)
        return body, None
    except json.JSONDecodeError:
        return body, None  # text fallback (app.py:79): payload kept as-is


def _poll_once(options: dict) -> tuple[float, str | None, str | None]:
    """One poll of one plan entry (:func:`poll_plan`):
    (fetch_ts, payload, error).

    Three addressing modes, checked in order:
    - ``payload_path`` — OFFLINE: read a captured payload file (tests /
      the driver's no-network sandbox; SURVEY §5.2);
    - ``source`` — catalog key: URL + conditional headers from
      ``registry.SOURCES`` (app.py:40-52);
    - ``url`` — direct (a ``urls`` override of the catalog URL).
    Failures surface in the ``error`` column, never as exceptions —
    the reference's degrade-don't-crash contract (C2).
    """
    path = options.get("payload_path")
    if path:
        try:
            with open(path, encoding="utf-8") as f:
                return float(time.time()), f.read(), None
        except OSError as exc:
            return float(time.time()), None, str(exc)
    if "source" in options:
        from real_time_big_data_architect_spark.sources.registry import SOURCES

        spec = SOURCES[options["source"]]
        payload, error = fetch(spec.url, dict(spec.headers or {}))
        return float(time.time()), payload, error
    payload, error = fetch(options["url"])
    return float(time.time()), payload, error


def _poll_source(item: tuple[str, dict]) -> tuple:
    """One ``(source_key, options)`` plan entry → its ``(fetch_ts,
    source, payload, error)`` row."""
    key, opts = item
    ts, payload, error = _poll_once(opts)
    return ts, key, payload, error


def poll_plan(
    *,
    payload_dir: str | None = None,
    urls: dict[str, str] | None = None,
    sources: list[str] | None = None,
) -> list[tuple[str, dict]]:
    """Resolve the per-source polling plan: ``[(source_key,
    single-source options), ...]``.

    Addressing, per source key (``sources``; default = the full
    10-source catalog):
    - ``payload_dir`` — OFFLINE: ``{dir}/{key}.json`` captured
      payloads (tests / the driver's no-network sandbox);
    - ``urls`` — ``{key: url}`` overriding the catalog URL (loopback
      servers in tests), falling back to the catalog for keys not
      present;
    - otherwise the catalog entry itself (live).

    Raises ``ValueError`` for more than ``MAX_POLL_ROWS_PER_BATCH``
    sources (each source is one row per tick, so the cap on sources is
    the cap on a batch's rows), and for a key that only the catalog
    could address but the catalog does not hold.
    """
    from real_time_big_data_architect_spark.sources.registry import SOURCES

    keys = list(sources or SOURCES)
    urls = urls or {}
    if len(keys) > MAX_POLL_ROWS_PER_BATCH:
        raise ValueError(
            f"poll plan: {len(keys)} sources exceed"
            f" MAX_POLL_ROWS_PER_BATCH={MAX_POLL_ROWS_PER_BATCH}; each"
            " source is one row per tick, and a tick's rows live on the"
            " driver"
        )
    if not payload_dir:
        unknown = [k for k in keys if k not in urls and k not in SOURCES]
        if unknown:
            raise ValueError(
                f"poll plan: unknown source(s) {unknown}: not in the"
                " catalog (registry.SOURCES) and given no URL override"
            )
    plan = []
    for key in keys:
        if payload_dir:
            plan.append((key, {"payload_path": f"{payload_dir}/{key}.json"}))
        elif key in urls:
            plan.append((key, {"url": urls[key]}))
        else:
            plan.append((key, {"source": key}))
    return plan


def poll_all(plan: list[tuple[str, dict]]) -> list[tuple]:
    """Poll every plan entry at once, one thread per source, in the
    calling process; rows come back in plan order.

    The reference polls 1 of its 10 sources per 60 s tick
    (app.py:57-61, the ``st.selectbox`` choice); the live loop exceeds
    that: every tick fetches the whole catalog concurrently, so a hung
    endpoint costs the tick one timeout, and a slow or failing endpoint
    degrades only its own row (the error column), never the tick.
    ``MAX_POLL_ROWS_PER_BATCH`` bounds the threads, as it bounds the
    rows.
    """
    with ThreadPoolExecutor(max_workers=max(len(plan), 1)) as pool:
        return list(pool.map(_poll_source, plan))


_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
_USGS_FIXTURE = f"{_REPO_ROOT}/tests/payloads/usgs_quakes.json"
_PAYLOAD_DIR = f"{_REPO_ROOT}/tests/payloads"


#: column layout of :func:`poll_all` rows as a Spark relation
_POLL_DDL = "fetch_ts double, source string, payload string, error string"


def http_poll_usgs_snapshot(spark, sf_dir: str):  # noqa: ARG001
    """The reference's full S1→N5 path as one oracle-checked query:
    the live loop's poll (:func:`poll_all`) of the one ``usgs_quakes``
    source (offline fixture payload) → declarative normalize. The oracle
    parses the SAME JSON file with DuckDB's independent reader — two
    engines, two JSON parsers, one answer. ``sf_dir`` is unused: the
    input is the captured payload, the contract the reference actually
    consumes."""
    from real_time_big_data_architect_spark.sources.normalize import (
        normalize_usgs_quakes,
    )

    raw = jvm_local_df(
        spark,
        poll_all(poll_plan(payload_dir=_PAYLOAD_DIR, sources=["usgs_quakes"])),
        _POLL_DDL,
    )
    return normalize_usgs_quakes(raw.select("payload"))


def http_poll_all_snapshot(spark, sf_dir: str):  # noqa: ARG001
    """Concurrent ALL-sources snapshot: one round of the live loop's
    poll (:func:`poll_all`, offline fixture payloads) → each payload
    through its own normalize branch → one (source, n_rows) row per
    catalog entry. Exceeds the reference's 1-source-per-tick loop
    (app.py:57-61) while reusing its normalize semantics (N1-N12)
    unchanged. The poll runs once, when the query is built, so every
    branch reads the same poll round. The oracle recomputes every
    branch's row count from the same JSON files with DuckDB's
    independent parser. ``sf_dir`` is unused: the input is the captured
    payload catalog.
    """
    from real_time_big_data_architect_spark.sources.normalize import sql_over
    from real_time_big_data_architect_spark.sources.registry import SOURCES

    raw = jvm_local_df(
        spark, poll_all(poll_plan(payload_dir=_PAYLOAD_DIR)), _POLL_DDL
    )
    # one normalize branch per catalog entry over the same snapshot
    # frame — a plan-level loop over the fixed 10-entry catalog
    # (bounded by the catalog, not the data), unioned into ONE
    # statement: a branch is a few lines of SQL text, so the whole
    # query is built by a single spark.sql call
    text = " UNION ALL ".join(
        f"SELECT '{key}' AS source, count(1) AS n_rows FROM ("
        + sql_over(key, f"(SELECT payload FROM {{raw}} WHERE source = '{key}')")
        + ")"
        for key in SOURCES
    )
    return spark.sql(text, raw=raw)


def stream_poll_all_tick(spark, sf_dir: str):  # noqa: ARG001
    """The concurrent every-source loop as a TRUE streaming query, one
    availableNow tick over the offline payload catalog: rate-micro-batch
    clock → foreachBatch (catalog poll, per-source normalize + agent
    commentary) → status table. Oracle-backed: after one tick the
    status table must hold exactly one row per catalog source whose
    n_rows equals the branch's cardinality rule and whose agent is
    'primary' precisely when that count is positive — both recomputed
    by DuckDB from the same JSON files. ``sf_dir`` unused (payload
    catalog input)."""
    import shutil
    import uuid

    from real_time_big_data_architect_spark.plans.pipeline import (
        run_poll_all_pipeline,
    )
    from real_time_big_data_architect_spark.streaming.stateful import (
        stream_scratch_dir,
    )

    table = f"poll_all_{uuid.uuid4().hex[:12]}"
    ckpt = stream_scratch_dir("poll_all_ckpt_")
    q = run_poll_all_pipeline(
        spark,
        payload_dir=_PAYLOAD_DIR,
        status_table=table,
        available_now=True,
        checkpoint_location=ckpt,
    )
    try:
        q.awaitTermination()
        progress.record(q)
        # materialize the catalog-sized (10-row) status set, then drop
        # the scratch table so repeated invocations leave no warehouse
        # debris — the drop runs even when a tick fails mid-batch
        rows = spark.table(table).select(
            "source", "n_rows", "agent"
        ).collect()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(ckpt, ignore_errors=True)
    # JVM-side VALUES relation: createDataFrame would wrap the 10 rows
    # in a Python-RDD scan, charging the caller's collect a Python
    # worker round-trip (see tables.jvm_local_df)
    return jvm_local_df(
        spark,
        [(r.source, r.n_rows, r.agent) for r in rows],
        "source string, n_rows long, agent string",
    )


def _poll_all_tick_oracle() -> str:
    parts = [
        f"SELECT '{key}' AS source,"
        f" ({sql.format(d=_PAYLOAD_DIR)}) AS n_rows,"
        f" CASE WHEN ({sql.format(d=_PAYLOAD_DIR)}) > 0"
        f" THEN 'primary' ELSE 'fallback' END AS agent"
        for key, sql in _ALL_SNAPSHOT_COUNTS.items()
    ]
    return " UNION ALL ".join(parts)


QUERIES = {
    "http_poll_usgs_snapshot": http_poll_usgs_snapshot,
    "http_poll_all_snapshot": http_poll_all_snapshot,
    "stream_poll_all_tick": stream_poll_all_tick,
}

#: per-branch row-count reconstructions for the all-sources snapshot:
#: each mirrors its normalize branch's cardinality rule (N2 double
#: explode, N4/N9 map→rows, N5/N8 feature explode, N7 head-slice cap,
#: scalar branches = one row per payload) computed from the SAME JSON
#: file with DuckDB's independent parser — nothing hardcoded.
_ALL_SNAPSHOT_COUNTS = {
    "openaq": """
        SELECT CAST(COALESCE(SUM(json_array_length(m, '$.measurements')), 0)
                    AS BIGINT)
        FROM (SELECT unnest(CAST(json_extract(content, '$.results')
                                 AS JSON[])) AS m
              FROM read_text('{d}/openaq.json')) t
    """,
    "open_meteo": "SELECT COUNT(*) FROM read_text('{d}/open_meteo.json')",
    "coingecko": """
        SELECT CAST(len(json_keys(content)) AS BIGINT)
        FROM read_text('{d}/coingecko.json')
    """,
    "usgs_quakes": """
        SELECT CAST(json_array_length(content, '$.features') AS BIGINT)
        FROM read_text('{d}/usgs_quakes.json')
    """,
    "spacex": "SELECT COUNT(*) FROM read_text('{d}/spacex.json')",
    "github_events": """
        SELECT CAST(least(30, json_array_length(content)) AS BIGINT)
        FROM read_text('{d}/github_events.json')
    """,
    "nws_alerts": """
        SELECT CAST(json_array_length(content, '$.features') AS BIGINT)
        FROM read_text('{d}/nws_alerts.json')
    """,
    "fx_rates": """
        SELECT CAST(len(json_keys(content, '$.rates')) AS BIGINT)
        FROM read_text('{d}/fx_rates.json')
    """,
    "iss_now": "SELECT COUNT(*) FROM read_text('{d}/iss_now.json')",
    "binance": "SELECT COUNT(*) FROM read_text('{d}/binance.json')",
}


def _all_snapshot_oracle() -> str:
    parts = [
        f"SELECT '{key}' AS source,"
        f" ({sql.format(d=_PAYLOAD_DIR)}) AS n_rows"
        for key, sql in _ALL_SNAPSHOT_COUNTS.items()
    ]
    return " UNION ALL ".join(parts)


ORACLE = {
    "http_poll_all_snapshot": _all_snapshot_oracle(),
    "stream_poll_all_tick": _poll_all_tick_oracle(),
    "http_poll_usgs_snapshot": f"""
        SELECT strftime(make_timestamp(f.properties.time * 1000),
                        '%Y-%m-%d %H:%M:%S') AS time,
               f.properties.mag AS mag,
               f.properties.place AS place,
               f.properties.type AS type
        FROM (SELECT unnest(features) AS f
              FROM read_json('{_USGS_FIXTURE}'))
    """,
}
