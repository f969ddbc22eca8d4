"""The reference's full live loop as one streaming pipeline.

``app.py`` per tick: fetch (app.py:67-81) → normalize_to_df
(app.py:84-189) → render + agent commentary (app.py:192-247). Here the
same loop is: a JVM ``rate-micro-batch`` clock (one row per
micro-batch, never read) → ``foreachBatch`` → :func:`http_poll.poll_all`
in the driver's own Python → normalize → :mod:`plans.agents` insights →
status-table append. The clock keeps the loop's checkpoint, so tick ids
are batch ids and keep rising across a restart; the poll needs no
Python DataSource, so starting the loop starts no Python process.
Errors degrade exactly like the reference: a failed fetch or empty
normalization produces a fallback status row, never a crashed stream
(C2-C5).

``run_poll_all_pipeline`` is the live entry point (60 s processing-time
trigger by default, app.py:37); the reference's one-source loop is
``run_poll_all_pipeline(spark, sources=[key])``. Tests drive it with
``availableNow`` against a loopback HTTP server — no external network.
"""

from __future__ import annotations

import json
from dataclasses import asdict

from pyspark.sql import DataFrame, Row, SparkSession

from real_time_big_data_architect_spark.plans import agents
from real_time_big_data_architect_spark.sources.http_poll import (
    MAX_POLL_ROWS_PER_BATCH,
    poll_all,
    poll_plan,
)

STATUS_SCHEMA = (
    "tick long, source string, n_rows long, headline string, agent string"
)

def _status_row(tick: int, insight: agents.Insight) -> Row:
    """One status record: the tick id plus the agent's insight, in
    ``STATUS_SCHEMA`` column order."""
    return Row(tick=tick, **asdict(insight))


def _status_appender(spark: SparkSession, table: str):
    """Create ``table`` (``STATUS_SCHEMA``, parquet) if absent and
    return the per-tick append ``rows -> None``.

    Each append is ONE bound SQL statement: the tick's status rows
    travel as one JSON parameter and ``inline(from_json(...))`` expands
    them JVM-side, so an append costs a fixed few py4j calls however
    many sources the tick has, and no Python task."""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS IDENTIFIER(:t) ({STATUS_SCHEMA})"
        " USING parquet",
        args={"t": table},
    )

    def append(rows: list[Row]) -> None:
        spark.sql(
            "INSERT INTO IDENTIFIER(:t) SELECT inline(from_json(:rows,"
            f" 'array<struct<{STATUS_SCHEMA}>>'))",
            args={"t": table, "rows": json.dumps([r.asDict() for r in rows])},
        )

    return append


def process_tick(spark: SparkSession, rows: list[tuple], tick: int) -> list[Row]:
    """One micro-batch: the polled ``(fetch_ts, source, payload,
    error)`` rows → the tick's status rows (``STATUS_SCHEMA``), one per
    source.

    Fetch failures degrade immediately (C4, no Spark work); every
    healthy payload goes to :func:`agents.batch_insights`, which
    normalizes and picks ALL of them in one parameterized UNION ALL
    statement — one analysis and one job per tick, whatever the source
    count (LATENCY.md "Live tick"). A per-source failure still degrades
    only its own row (C2-C5): try_cast picks, the shared C3 formatter,
    and a per-source rerun when the combined statement raises.
    """
    if len(rows) > MAX_POLL_ROWS_PER_BATCH:
        raise RuntimeError(
            f"poll batch exceeded {MAX_POLL_ROWS_PER_BATCH} rows — the"
            " source contract is one row per source per tick; refusing"
            " to process a misbehaving batch"
        )
    status = []
    payloads = {}
    for _fetch_ts, source, payload, error in rows:
        if error is not None or payload is None:
            insight = agents.fallback_insight(source, error or "no payload")
            status.append(_status_row(tick, insight))
        else:
            payloads[source] = payload
    insights = agents.batch_insights(spark, payloads)
    return status + [_status_row(tick, i) for i in insights.values()]


def run_poll_all_pipeline(  # noqa: PLR0913 - one optional knob per sink concern
    spark: SparkSession,
    *,
    url_overrides: dict[str, str] | None = None,
    payload_dir: str | None = None,
    sources: list[str] | None = None,
    status_table: str = "poll_all_status",
    available_now: bool = False,
    processing_time: str = "60 seconds",
    checkpoint_location: str | None = None,
):
    """Start the CONCURRENT every-source loop; returns the query.

    Exceeds the reference's 1-of-10 selectbox tick (app.py:57-61): each
    micro-batch polls the whole catalog (:func:`http_poll.poll_all`,
    every source fetched at once on the driver, one thread per source)
    and appends one status row per source per tick. A failing or slow
    endpoint degrades only its own row (C2-C5 per source), never the
    tick. The poll plan is resolved here, once, so a source list beyond
    ``MAX_POLL_ROWS_PER_BATCH``, or a source key neither the catalog nor
    an override can address, is refused before any stream starts.
    The micro-batch clock is ``rate-micro-batch`` (one row per batch,
    never read); a replayed batch re-polls, since a poll cannot be
    re-read.
    """
    plan = poll_plan(
        payload_dir=payload_dir, urls=url_overrides, sources=sources
    )
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 1)
        .option("numPartitions", 1)
        .load()
    )
    append_status = _status_appender(spark, status_table)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        status = process_tick(batch_df.sparkSession, poll_all(plan), batch_id)
        if status:
            append_status(status)

    writer = stream.writeStream.foreachBatch(on_batch)
    if checkpoint_location:
        # transient drains pass RAM-backed scratch (see
        # streaming.stateful.stream_scratch_dir); a production
        # long-lived loop passes durable storage — default stays the
        # engine's implicit temporary checkpoint
        writer = writer.option("checkpointLocation", checkpoint_location)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
