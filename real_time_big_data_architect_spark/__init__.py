"""real_time_big_data_architect_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference repo ``Germany-Sutherland/Real-Time-Big-Data-Architect`` (a
Streamlit micro-batch ELT app, ``app.py`` — see SURVEY.md), re-expressed
Spark-first:

- batch/relational surface: DataFrame/SQL on Catalyst (joins, aggregations,
  window functions, set ops, JSON/array/map functions) — ``operators/``,
  ``functions/``
- ingestion: the reference's 10-source JSON normalization layer as
  ``from_json`` pipelines + a concurrent HTTP poll of every source in the
  driver, shared by the live loop and the snapshot queries —
  ``sources/``
- streaming: the reference's 60 s poll tick as Structured Streaming, plus
  watermarks, tumbling/sliding/session windows and stateful ops —
  ``streaming/``
- LLM-data-pipeline operators: exact/near dedup, embedding similarity
  search, text analysis, multimodal columns — ``operators/``
- declared workload + DuckDB oracles for the driver contract —
  ``plans/workload.py``

Design posture: every operator is declarative DataFrame/SQL so Catalyst
provides pushdown/pruning/codegen; Pandas UDFs only where built-ins cannot
express the semantics (MinHash, cosine top-k scoring, multimodal decode).
All operators are written for 100 TB scale (broadcast hints for dims,
partial aggregation, no driver-side collects in any hot path).
"""

from real_time_big_data_architect_spark.session import get_spark
from real_time_big_data_architect_spark.tables import TABLE_NAMES, load_tables, register_views

__all__ = ["get_spark", "load_tables", "register_views", "TABLE_NAMES"]

__version__ = "0.1.0"
