"""The reference's full live loop as one streaming pipeline.

``app.py`` per tick: fetch (app.py:67-81) → normalize_to_df
(app.py:84-189) → render + agent commentary (app.py:192-247). Here the
same loop is: http_poll streaming source → ``foreachBatch`` →
normalize → :mod:`plans.agents` commentary → status-record sink.
Errors degrade exactly like the reference: a failed fetch or empty
normalization produces a fallback status row, never a crashed stream
(C2-C5).

``run_poll_pipeline`` is the live entry point (60 s processing-time
trigger by default, app.py:37); tests drive it with ``availableNow``
against a loopback HTTP server — no external network.
"""

from __future__ import annotations

from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_big_data_architect_spark.plans import agents
from real_time_big_data_architect_spark.sources import normalize as norm
from real_time_big_data_architect_spark.sources.http_poll import (
    HTTP_POLL_AVAILABLE,
    MAX_POLL_ROWS_PER_BATCH,
    HttpPollDataSource,
)
from real_time_big_data_architect_spark.sources.registry import SOURCES

STATUS_SCHEMA = (
    "tick long, source string, n_rows long, headline string, agent string"
)

def payload_relation(spark: SparkSession, payload: str) -> DataFrame:
    """One-row ``payload string`` relation built JVM-SIDE (range+lit →
    a codegen'd scan). ``createDataFrame`` would embed a Python-RDD
    scan instead, and every action on such a plan would start a Python
    task — per source, per tick.

    The range has ONE slice: its output is then a single partition, so
    a global aggregate over the normalized payload (the agents' per-
    source pick) plans no Exchange and runs as one job with one task.
    ``spark.range(1)`` takes the default parallelism in slices, and AQE
    ran the resulting Exchange as two jobs per source."""
    return spark.range(0, 1, 1, 1).select(F.lit(payload).alias("payload"))


def _status_relation(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """Catalog-sized status rows as a JVM-side ``VALUES`` relation —
    same Python-RDD-scan avoidance as :func:`payload_relation`, for the
    per-tick status append (≤ 1 row per catalog source by the
    MAX_POLL_ROWS_PER_BATCH contract)."""
    from real_time_big_data_architect_spark.tables import jvm_local_df

    return jvm_local_df(spark, rows, STATUS_SCHEMA)


def _bounded_rows(batch_df: DataFrame, cols: list[str]) -> list:
    """Collect a poll batch in one job and check the row bound.

    The transfer is bounded where rows are created: the poll readers
    emit one row per source and refuse more than
    ``MAX_POLL_ROWS_PER_BATCH`` sources. A plain collect is one job;
    ``limit(cap + 1).collect()`` ran as three serial jobs over the ten
    poll partitions (CollectLimit's incremental take)."""
    rows = batch_df.select(*cols).collect()
    if len(rows) > MAX_POLL_ROWS_PER_BATCH:
        raise RuntimeError(
            f"poll batch exceeded {MAX_POLL_ROWS_PER_BATCH} rows — the"
            " source contract is one row per source per tick; refusing"
            " to process a misbehaving batch"
        )
    return rows


def process_tick(
    spark: SparkSession, batch_df: DataFrame, source_key: str, tick: int
) -> DataFrame:
    """One micro-batch: raw (fetch_ts, payload, error) rows → status row.

    The poll source emits one row per tick; normalize + agents run on
    it just like the reference's script body runs per refresh.
    """
    rows = _bounded_rows(batch_df, ["payload", "error"])
    if not rows:
        insight = agents.fallback_insight(source_key, "no poll row")
    else:
        payload, error = rows[-1].payload, rows[-1].error
        if error is not None or payload is None:
            insight = agents.commentary(None, source_key, fetch_error=error or "no payload")
        else:
            tidy = norm.normalize(payload_relation(spark, payload), source_key)
            insight = agents.commentary(tidy, source_key)
    d = asdict(insight)
    return _status_relation(
        spark, [(tick, d["source"], d["n_rows"], d["headline"], d["agent"])]
    )


def run_poll_pipeline(
    spark: SparkSession,
    source_key: str,
    *,
    url_override: str | None = None,
    status_table: str = "poll_status",
    available_now: bool = False,
    processing_time: str = "60 seconds",
):
    """Start the live loop for one catalog source; returns the query.

    Status rows append to ``status_table`` (a memory sink), one per
    tick — the engine's analog of the reference's rendered page.
    """
    if not HTTP_POLL_AVAILABLE:  # pragma: no cover
        raise NotImplementedError("Python DataSource API unavailable")
    spec = SOURCES[source_key]
    spark.dataSource.register(HttpPollDataSource)
    stream = (
        spark.readStream.format("http_poll")
        .option("url", url_override or spec.url)
        .option("headers", "{}")
        .option("timeout", str(spec.timeout_s))
        .load()
    )
    ticks = {"n": 0}

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        ticks["n"] += 1
        status = process_tick(batch_df.sparkSession, batch_df, source_key, batch_id)
        # managed table append — the durable analog of the reference's
        # rendered page; one status row per tick survives the stream
        status.write.mode("append").saveAsTable(status_table)

    writer = stream.writeStream.foreachBatch(on_batch)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


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
    micro-batch fans the whole catalog out as one ``http_poll_all``
    read (one partition = one source = one parallel task) and appends
    one status row per source per tick. A failing or slow endpoint
    degrades only its own row (C2-C5 per source), never the tick.
    """
    if not HTTP_POLL_AVAILABLE:  # pragma: no cover
        raise NotImplementedError("Python DataSource API unavailable")
    from real_time_big_data_architect_spark.sources.http_poll import (
        register_http_poll,
    )

    register_http_poll(spark)
    reader = spark.readStream.format("http_poll_all")
    if payload_dir:
        reader = reader.option("payload_dir", payload_dir)
    if url_overrides:
        import json as _json

        reader = reader.option("urls", _json.dumps(url_overrides))
    if sources:
        reader = reader.option("sources", ",".join(sources))
    stream = reader.load()

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        rows = _bounded_rows(batch_df, ["source", "payload", "error"])
        # Split the tick: fetch failures degrade immediately (C4, no
        # Spark work), healthy payloads normalize into per-source tidy
        # frames whose insights are computed by agents.batch_insights
        # as ONE CONCURRENT WAVE of per-source aggregates (one action,
        # one job, one task per source on driver threads) — the
        # 10-source tick pays one wave's scheduling latency instead of
        # serial jobs per source (LATENCY.md "Live tick"). A
        # per-source failure still degrades only its own row (C2-C5):
        # batch_insights dispatches each source's pick through the
        # shared C3 formatter/fallback.
        status_parts = []
        tidies = {}
        for r in rows:
            if r.error is not None or r.payload is None:
                insight = agents.commentary(
                    None, r.source, fetch_error=r.error or "no payload"
                )
                d = asdict(insight)
                status_parts.append(
                    (batch_id, d["source"], d["n_rows"], d["headline"], d["agent"])
                )
            else:
                # a zero-arg factory: batch_insights builds the tidy
                # plan inside the branch's own worker thread, so the
                # ten sources' plan construction overlaps with their
                # analysis instead of serializing up front
                def _tidy(payload=r.payload, source=r.source) -> DataFrame:
                    return norm.normalize(
                        payload_relation(sp, payload), source
                    )

                tidies[r.source] = _tidy
        if tidies:
            for insight in agents.batch_insights(tidies).values():
                d = asdict(insight)
                status_parts.append(
                    (batch_id, d["source"], d["n_rows"], d["headline"], d["agent"])
                )
        if status_parts:
            _status_relation(sp, status_parts).write.mode("append").saveAsTable(
                status_table
            )

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
