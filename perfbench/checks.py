"""Output checks: Spark results against DuckDB oracles.

The comparison is the engine's preflight rule, with its own hash
(``tools/preflight.py``): row count, column names, and an
order-insensitive hash of the values, with both sides fetched through
pandas.  Oracles come from the program's own ``oracle_sql()``
registry, except for ``stream_stateful_counts``, whose per-micro-batch
emissions depend on how the input is split into files; for it the
benchmark replays the split (:func:`stateful_counts_sql`).
"""

from __future__ import annotations

import duckdb
import pandas as pd
from tools.preflight import _rows_from_pandas, value_hash

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB views over the benchmark's tables; ``events`` reads every
    ``events*.parquet`` file, so chunked and single-file layouts see the
    same rows; ``events_chunked`` adds each row's chunk file name."""
    con = duckdb.connect()
    for t in TABLES:
        glob = f"{sf_dir}/{t}*.parquet" if t == "events" else f"{sf_dir}/{t}.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")
    con.execute(
        f"CREATE VIEW events_chunked AS SELECT * FROM read_parquet("
        f"'{sf_dir}/events*.parquet', filename = true)"
    )
    return con


def _hash(pdf: pd.DataFrame) -> str:
    return value_hash(_rows_from_pandas(pdf), list(pdf.columns))


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """None when the frames agree, else a one-line reason."""
    if len(spark_pdf) != len(oracle_pdf):
        return f"rows {len(spark_pdf)} != {len(oracle_pdf)}"
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"cols {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"
    if _hash(spark_pdf) != _hash(oracle_pdf):
        return "value hash mismatch"
    return None


def stateful_counts_sql(scale: int) -> str:
    """Update-mode emissions of ``stream_stateful_counts`` over a
    chunked feed: one row per (user, chunk the user occurs in), carrying
    the running count and running fixed-point value total."""
    return f"""
        WITH per_chunk AS (
            SELECT user_id, filename AS chunk,
                   COUNT(*) AS n,
                   SUM(CASE WHEN value IS NOT NULL
                       THEN CAST(floor(value * {scale} + 0.5) AS BIGINT)
                       ELSE 0 END) AS t
            FROM events_chunked GROUP BY 1, 2
        )
        SELECT user_id,
               CAST(SUM(n) OVER w AS BIGINT) AS n_events,
               CAST(SUM(t) OVER w AS DOUBLE) / CAST({scale} AS DOUBLE)
                   AS total_value
        FROM per_chunk
        WINDOW w AS (PARTITION BY user_id ORDER BY chunk
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """


def poll_status_expected(con, payload_dir: str) -> dict[str, tuple[int, str]]:
    """Per source: (n_rows, agent) one live tick must append, from the
    program's own per-branch DuckDB cardinality rules."""
    from real_time_big_data_architect_spark.sources.http_poll import (
        _ALL_SNAPSHOT_COUNTS,
    )

    out = {}
    for key, sql in _ALL_SNAPSHOT_COUNTS.items():
        n = int(con.execute(sql.format(d=payload_dir)).fetchone()[0])
        out[key] = (n, "primary" if n > 0 else "fallback")
    return out
