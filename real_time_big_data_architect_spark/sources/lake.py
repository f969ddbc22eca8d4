"""Lake maintenance utilities: small-file compaction and zero-cost
ingest metrics.

Both are table-stakes for a 100 TB lake the reference never needed
(app.py holds ≤50 rows in memory): streaming ingest produces thousands
of small files that degrade scan parallelism bookkeeping and footer
overhead, and every ingest batch needs row/null counts without paying
an extra aggregation scan.
"""

from __future__ import annotations

import glob
import math
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    WriterCommitMessage,
)

DEFAULT_TARGET_FILE_BYTES = 128 << 20  # the canonical HDFS/lake block size


def compact_parquet(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
) -> int:
    """Rewrite a directory of parquet files into ~target-sized files.

    The output file count comes from the INPUT'S BYTE SIZE (filesystem
    metadata — the same listing Spark performs to plan the scan), never
    from a count() pass over the data. Returns the file count written.
    One round-robin shuffle; at scale this runs per partition directory
    so each compaction unit stays bounded.
    """
    total = sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(in_dir, "**", "*.parquet"), recursive=True)
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    # recursiveFileLookup matches the recursive glob above: a plain
    # parquet read does NOT descend into non-hive subdirectories (the
    # typical streaming-ingest date layout), so sizing would count
    # files the read then failed to load (r10 review finding)
    spark.read.option("recursiveFileLookup", "true").parquet(
        in_dir
    ).repartition(n_files).write.mode("overwrite").parquet(out_dir)
    return n_files


def with_ingest_metrics(
    df: DataFrame, null_check_cols: list[str]
) -> tuple[DataFrame, Observation]:
    """Attach free quality counters to a plan via ``observe``.

    Returns (observed_df, observation): run any action on observed_df
    and ``observation.get`` yields row count plus per-column null counts
    — collected as accumulator side-traffic of the action itself, with
    no second scan (a separate count/agg over 100 TB is a full extra
    pass).
    """
    obs = Observation("ingest_quality")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.sum(F.col(c).isNull().cast("long")).alias(f"null_{c}")
            for c in null_check_cols
        ],
    )
    return observed, obs


def ingest_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: the observe() telemetry path end-to-end.

    The events batch is materialized ONCE (noop sink — in production,
    the actual ingest write) and the quality counters ride along as
    accumulator side-traffic of that same action; the returned one-row
    DataFrame is built from the observation, not from a second scan.
    The oracle recomputes the counters with plain SQL, proving
    observe() counts exactly what an aggregation pass would.
    """
    from real_time_big_data_architect_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    observed, obs = with_ingest_metrics(ev, ["value", "props"])
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    from real_time_big_data_architect_spark.tables import jvm_local_df

    return jvm_local_df(
        spark,
        [(m["n_rows"], m["null_value"], m["null_props"])],
        "n_rows long, null_value long, null_props long",
    )


def _events_digest():
    """Order-insensitive per-row digest over ALL five events columns,
    engine-portable by construction (r10 review findings):

    - every field is ``coalesce``d to the literal 'null' BEFORE the
      join, so NULLs hash identically on both engines (bare
      ``concat_ws`` skips NULL fields — '(a, NULL)' collided with
      '(a)' and disagreed with the oracle's NULL-propagating ``||``);
    - ``value`` rides as ``FLOOR(value * 10000)`` — integer
      fixed-point computed on the IEEE double, bit-identical across
      engines (a DECIMAL(18,4) cast is not: Spark HALF_UPs the
      shortest decimal repr while DuckDB rounds the binary double —
      0.77165 → '0.7717' vs '0.7716');
    - ``ts`` rides as epoch-µs so timestamp encoding is part of any
      roundtrip proof.
    """
    return F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.coalesce(
                        F.col("event_id").cast("string"), F.lit("null")
                    ),
                    F.coalesce(
                        F.col("user_id").cast("string"), F.lit("null")
                    ),
                    F.coalesce(F.col("event_type"), F.lit("null")),
                    F.coalesce(
                        F.unix_micros(F.col("ts")).cast("string"),
                        F.lit("null"),
                    ),
                    F.coalesce(
                        F.floor(F.col("value") * 10000)
                        .cast("bigint")
                        .cast("string"),
                        F.lit("null"),
                    ),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")


#: DuckDB twin of :func:`_events_digest` — every oracle using the
#: digest embeds this exact expression.
_EVENTS_DIGEST_SQL = """CAST(('0x' || substr(md5(
                     COALESCE(CAST(event_id AS VARCHAR), 'null') || '|' ||
                     COALESCE(CAST(user_id AS VARCHAR), 'null') || '|' ||
                     COALESCE(event_type, 'null') || '|' ||
                     COALESCE(CAST(epoch_us(ts) AS VARCHAR), 'null') || '|' ||
                     COALESCE(CAST(CAST(FLOOR(CAST(value AS DOUBLE) * 10000)
                                        AS BIGINT) AS VARCHAR), 'null')
                   ), 1, 8)) AS BIGINT)"""


def compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: small-file compaction preserves content exactly.

    Fragments the events table into 16 small files (a streaming-ingest
    simulation), compacts them to target-sized files, and emits the
    compacted copy's row count + order-insensitive digest-sum checksum.
    The oracle computes the same over the ORIGINAL table — equality
    proves the rewrite moved bytes, not data. The digest covers ALL
    five columns (r10: it previously skipped ts/value, so a rewrite
    mangling timestamps or zeroing values would still have passed).
    This is the verification step every production compaction job
    should ship with.
    """
    import shutil
    import tempfile

    from real_time_big_data_architect_spark.tables import load_table

    work = tempfile.mkdtemp(prefix="compact_")
    try:
        ev = load_table(spark, sf_dir, "events")
        ev.repartition(16).write.mode("overwrite").parquet(f"{work}/frag")
        compact_parquet(spark, f"{work}/frag", f"{work}/compact")
        out = spark.read.parquet(f"{work}/compact")
        digest = _events_digest()
        result = out.agg(
            F.count("*").alias("n_rows"),
            F.sum(digest).alias("content_checksum"),
        )
        # eager JVM materialization of the 1-row summary so the scratch
        # dir (a full fragmented + compacted copy of events) can be
        # deleted now instead of leaking per invocation
        return result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: the ORC format path preserves content exactly.

    Events rewrite to ORC (Spark's second first-class columnar format
    — zlib-compressed, vectorized reader) and read back; the emitted
    row count + order-insensitive digest-sum checksum must equal the
    oracle's computation over the ORIGINAL parquet — proving the
    parquet→ORC→DataFrame loop is lossless for longs, strings,
    timestamps, and nullable doubles. The timestamp column rides
    through the digest as epoch-µs so ORC's timestamp encoding is part
    of the proof. DuckDB cannot read ORC, which is exactly why the
    oracle is the roundtrip INVARIANT (checksum of the source), not a
    re-read.
    """
    import shutil
    import tempfile

    from real_time_big_data_architect_spark.tables import load_table

    work = tempfile.mkdtemp(prefix="orc_rt_")
    try:
        ev = load_table(spark, sf_dir, "events")
        ev.write.mode("overwrite").orc(f"{work}/orc")
        out = spark.read.orc(f"{work}/orc")
        digest = _events_digest()
        result = out.agg(
            F.count("*").alias("n_rows"),
            F.sum(digest).alias("content_checksum"),
        )
        # eager JVM materialization of the 1-row summary so the scratch
        # ORC copy is deleted now instead of leaking per invocation
        return result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def partitioned_write(df: DataFrame, out_dir: str, part_col: str) -> None:
    """Hive-style partitioned layout: one directory per ``part_col``
    value. The layout IS the index — a reader filtering on the
    partition column lists only matching directories (PartitionFilters
    in the scan node), so a 100 TB table filtered to one partition
    reads that partition's bytes, not 100 TB."""
    df.write.mode("overwrite").partitionBy(part_col).parquet(out_dir)


def partition_prune_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: partition-pruned scan end-to-end.

    Events land partitioned by event_type (the Hive layout above);
    the purchase-only aggregate then scans ONLY the purchase
    directory — `tests/test_round4_ops.py` asserts the scan node
    carries the PartitionFilters entry and reads 1/5 of the files.
    The oracle aggregates a plain WHERE over the unpartitioned
    fixture: pruning must be pure layout, zero semantics.
    """
    import shutil
    import tempfile

    from real_time_big_data_architect_spark.tables import load_table

    work = tempfile.mkdtemp(prefix="partprune_")
    try:
        ev = load_table(spark, sf_dir, "events")
        partitioned_write(ev, f"{work}/events_p", "event_type")
        out = (
            spark.read.parquet(f"{work}/events_p")
            .filter(F.col("event_type") == "purchase")
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(30,4)"))
                .cast("double")
                .alias("sum_value"),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


#: bucket count for the co-located join demo; at 100 TB you'd size
#: buckets so each is a few hundred MB (e.g. 4096 buckets)
N_BUCKETS = 8


def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: shuffle-free fact⋈fact join via bucketing.

    orders and customer are written as warehouse tables bucketed (and
    sorted) by the join key into the same bucket count; the sort-merge
    join then reads bucket i of each side on the same task — ZERO
    Exchange before the join (asserted on the plan in
    tests/test_round4_ops.py). This is THE answer to "fact⋈fact at
    100 TB shuffles 100 TB": pay the shuffle once at write time,
    join co-located forever after. The oracle is the plain join.
    """
    from real_time_big_data_architect_spark.tables import load_table

    try:
        # write_bucketed pre-distributes by the bucket key itself, so
        # no fan_out here: round-robin spreading made every one of the
        # 32 write tasks hold rows of all 8 buckets and emit 8 files —
        # 257 files per table (measured), a file-creation storm at
        # write time and 32× the file-opens at read time
        write_bucketed(spark, load_table(spark, sf_dir, "orders"),
                       "o_custkey", "orders_bkt")
        write_bucketed(spark,
                       load_table(spark, sf_dir, "customer"),
                       "c_custkey", "customer_bkt")
        joined = colocated_join(spark)
        out = joined.groupBy("c_mktsegment").agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("revenue"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        # the 5-row summary is materialized above, so the warehouse
        # tables (full bucketed copies) need not outlive the call
        for t in ("orders_bkt", "customer_bkt"):
            _drop_table_and_location(spark, t)


def write_bucketed(spark: SparkSession, df: DataFrame, key: str,
                   name: str) -> None:
    """(Re)create a bucketed+sorted warehouse table, robust to a stale
    location left by a previous session: a fresh metastore doesn't
    know the table, so ``mode("overwrite")`` alone raises
    LOCATION_ALREADY_EXISTS against the leftover directory.

    The input is repartitioned BY THE BUCKET KEY into N_BUCKETS
    partitions first (guide §6: bucketed writes emit one file per
    bucket per task, so T tasks × B buckets = T·B small files — the
    classic bucket-write explosion; measured 257 files/table and a
    3.3 s build from the former round-robin fan_out, vs 9 files and
    0.8 s pre-distributed). ``repartition(n, col)`` and bucketBy use
    the same Murmur3 ``HashPartitioning``, so each write task holds
    exactly one bucket and co-location is unchanged (the colocated
    SMJ still plans ZERO Exchange — asserted in
    tests/test_round4_ops.py). At 100 TB the bucket count (not the
    task count) is the file-sizing knob: pick N_BUCKETS so one
    bucket's rows land in the 128 MB-1 GB file band."""
    _drop_table_and_location(spark, name)
    df.repartition(N_BUCKETS, F.col(key)).write.mode("overwrite").bucketBy(
        N_BUCKETS, key
    ).sortBy(key).saveAsTable(name)


def _drop_table_and_location(spark: SparkSession, name: str) -> None:
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    if wh:
        shutil.rmtree(os.path.join(wh, name), ignore_errors=True)


def colocated_join(spark: SparkSession) -> DataFrame:
    """The bucket-co-located SMJ over the two warehouse tables; the
    merge hint pins sort-merge so the exchange-free plan is visible
    even where the dim side would qualify for broadcast."""
    o = spark.table("orders_bkt")
    c = spark.table("customer_bkt")
    return o.hint("merge").join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_totalprice", "c_mktsegment"
    )


# Spark 4 Python DataSource WRITE path: the jsonl_sink writer.
@dataclass
class _JsonlCommit(WriterCommitMessage):
    """Per-task commit message: the temp file written + row count.
    Picklable (dataclass of primitives) — it travels executor →
    driver for the commit/abort decision."""

    path: str
    n_rows: int


class _JsonlWriter(DataSourceArrowWriter):
    """Executor side: each task streams its partition to a UNIQUE
    ``.tmp`` file; driver side: ``commit`` atomically renames every
    temp to its final name (os.replace), ``abort`` removes them —
    the classic two-phase publish, so readers never see a partial
    task's output. Local-FS semantics here; on a cluster the same
    protocol targets a shared store.

    Arrow path (r7 verdict item 2, streaming fixed costs): the
    writer receives ``pyarrow.RecordBatch``es instead of Rows —
    ``to_pylist`` + ``json.dumps`` keeps the exact shortest-
    round-trip double formatting the roundtrip invariant pins
    (Python floats either way), while skipping per-Row pickling
    and ``asDict`` (~3x on the events fixture partition)."""

    def __init__(self, options: dict) -> None:
        import uuid as _uuid

        self._path = options["path"]
        # per-JOB namespace for temp files (ADVICE r6): the orphan
        # sweep must only ever touch THIS job's temps — two
        # concurrent appends to the same path would otherwise
        # delete each other's in-flight task files. Generated
        # driver-side, travels to executors in the pickled writer.
        self._job_tag = _uuid.uuid4().hex[:12]

    def write(self, iterator):
        import json as _json
        import os
        import uuid as _uuid

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        tmp = os.path.join(
            self._path,
            f"part-{self._job_tag}-{pid:05d}"
            f"-{_uuid.uuid4().hex[:8]}.jsonl.tmp",
        )
        n = 0
        with open(tmp, "w") as fh:
            for batch in iterator:  # pyarrow.RecordBatch
                recs = batch.to_pylist()
                fh.write(
                    "".join(_json.dumps(r) + "\n" for r in recs)
                )
                n += len(recs)
        return _JsonlCommit(tmp, n)

    def _sweep_orphans(self) -> None:
        """Remove any leftover .tmp file THIS JOB wrote: a task
        that died MID-write (or a losing speculative attempt)
        never delivered its commit message, so its temp is
        invisible to commit/abort message lists — job-level
        cleanup is the only owner of those orphans (exactly what
        Hadoop/Spark file committers do at job commit). Scoped to
        the job tag (ADVICE r6): a concurrent append's in-flight
        temps are NOT ours to delete."""
        import glob as _glob
        import os

        pattern = os.path.join(
            self._path, f"part-{self._job_tag}-*.jsonl.tmp"
        )
        for p in _glob.glob(pattern):
            try:
                os.remove(p)
            except OSError:
                pass

    def commit(self, messages):
        import os

        for m in messages:
            os.replace(m.path, m.path[: -len(".tmp")])
        self._sweep_orphans()

    def abort(self, messages):
        import os

        # PySpark 4.x passes None in place of the commit message
        # for every FAILED task (abort only runs when one did) —
        # dereferencing m.path unguarded raised AttributeError,
        # killed the abort callback, and leaked every temp file
        # exactly when cleanup mattered (r10 review finding).
        for m in messages:
            if m is None:
                continue
            try:
                os.remove(m.path)
            except OSError:
                pass
        self._sweep_orphans()


class JsonlSinkDataSource(DataSource):
    """``df.write.format("jsonl_sink").option("path", dir)`` —
    a Python DataSource WRITER with a two-phase commit."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_sink"

    def writer(self, schema, overwrite):  # noqa: ARG002
        return _JsonlWriter(self.options)


def pyds_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: the custom Python DataSource WRITE path is
    lossless — events project through ``jsonl_sink`` (per-task temp
    files + atomic driver-side rename commit), read back with the
    schema-strict JSON reader, and every column must survive EXACTLY:
    the summary counts null-safe-equal matches per column against the
    original rows (json.dumps emits shortest-round-trip doubles, so a
    single ulp of serialization loss breaks n_value_exact). The oracle
    is the roundtrip INVARIANT — every per-column match count equals
    the row count.
    """
    import shutil
    import tempfile

    from real_time_big_data_architect_spark.tables import load_table

    spark.dataSource.register(JsonlSinkDataSource)
    work = tempfile.mkdtemp(prefix="pyds_sink_")
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        ev.write.format("jsonl_sink").option("path", work).mode(
            "append"
        ).save()
        back = spark.read.schema(
            "event_id long, user_id long, event_type string, value double"
        ).json(f"{work}/*.jsonl")
        a, b = ev.alias("a"), back.alias("b")
        j = a.join(b, F.col("a.event_id") == F.col("b.event_id"))
        summary = j.agg(
            F.count("*").alias("n_rows"),
            F.sum(
                # eqNullSafe like the other columns (ADVICE r6): a
                # NULL user_id row would yield NULL under ==, drop
                # from the count, and spuriously break the roundtrip
                F.col("a.user_id").eqNullSafe(F.col("b.user_id"))
                .cast("long")
            ).alias("n_user_exact"),
            F.sum(
                F.col("a.event_type").eqNullSafe(F.col("b.event_type"))
                .cast("long")
            ).alias("n_type_exact"),
            F.sum(
                F.col("a.value").eqNullSafe(F.col("b.value")).cast("long")
            ).alias("n_value_exact"),
        )
        return summary.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


QUERIES = {
    "pyds_writer_roundtrip": pyds_writer_roundtrip,
    "ingest_observe_metrics": ingest_observe_metrics,
    "compaction_roundtrip": compaction_roundtrip,
    "orc_roundtrip": orc_roundtrip,
    "partition_prune_scan": partition_prune_scan,
    "bucketed_join_colocated": bucketed_join_colocated,
}

ORACLE = {
    "pyds_writer_roundtrip": """
        SELECT COUNT(*) AS n_rows,
               COUNT(*) AS n_user_exact,
               COUNT(*) AS n_type_exact,
               COUNT(*) AS n_value_exact
        FROM events
    """,
    "ingest_observe_metrics": """
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS null_value,
               CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS null_props
        FROM events
    """,
    "partition_prune_scan": """
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS sum_value
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY event_type
    """,
    "bucketed_join_colocated": """
        SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    "orc_roundtrip": f"""
        SELECT COUNT(*) AS n_rows,
               CAST(SUM({_EVENTS_DIGEST_SQL}) AS BIGINT)
                 AS content_checksum
        FROM events
    """,
    "compaction_roundtrip": f"""
        SELECT COUNT(*) AS n_rows,
               CAST(SUM({_EVENTS_DIGEST_SQL}) AS BIGINT)
                 AS content_checksum
        FROM events
    """,
}
