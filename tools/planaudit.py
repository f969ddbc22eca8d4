"""Full-surface physical-plan audit: every declared query's plan is
checked against the engine's 100 TB invariants.

The per-query plan guards in tests/test_plans.py pin specific rewrites
(the de-globalized ranks, the zero-Exchange map passes); this tool is
the blanket check across ALL declared batch queries — the automated
form of "would this plan survive a 100× scale-up?":

- **no Cartesian products / broadcast nested-loop joins** except an
  explicit allowlist of dimension-sized frames (documented inline);
- **no unpartitioned data-sized windows**: every ``WindowExec`` /
  ``WindowGroupLimitExec`` must carry a partition key unless the input
  is a dimension-sized aggregate (allowlisted);
- **no row-at-a-time Python UDFs**: every Python crossing must be
  Arrow-batched (``ArrowEvalPython`` / ``MapInPandas`` /
  ``FlatMapGroupsInPandas``...) — a bare ``BatchEvalPython`` is the
  interpreter-per-row slow path and fails the audit.

Plans are compiled at sf0.001 (plan SHAPE is scale-independent; the
fixtures only seed the schema). Streaming queries are skipped: their
plans only materialize inside a running StreamingQuery, and the
streaming paths carry their own semantics tests.

Usage::

    python tools/planaudit.py            # writes PLANAUDIT.md, exit 1 on violation
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from real_time_big_data_architect_spark.session import get_spark  # noqa: E402
from real_time_big_data_architect_spark.planchecks import (  # noqa: E402
    has_python_rdd_leaf as _has_python_rdd_leaf,
    partitionless_windows as _partitionless_windows,
    real_leaves as _real_leaves,
)
from real_time_big_data_architect_spark.streaming import progress  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

#: queries whose plans legitimately contain a cross/nested-loop join —
#: every entry joins a dimension-sized (constant-cardinality) relation:
#: scalar aggregates broadcast onto scans (corpus stats, thresholds,
#: totals), never two data-sized sides.
CROSS_ALLOW = {
    "subquery_scalar",       # scalar subquery vs lineitem (1-row broadcast)
    "tpch_q11",              # group-total scalar threshold (1 row)
    "tpch_q22",              # avg-acctbal scalar (1 row)
    "contamination_ngram",   # benchmark-gram count scalar (1 row)
    "bm25_score",            # corpus avgdl scalar (1 row)
    "tfidf_top_terms",       # corpus doc-count scalar (1 row)
    "vocab_coverage",        # corpus token total (1 row)
    "bigram_lm_score",       # vocab-size scalar (1 row)
    "lang_source_chi2",      # grand-total N (1 row)
    "auc_rank",              # pos/neg count scalars (1 row)
    "curation_score",        # corpus size scalar (1 row)
    "cms_heavy_hitters",     # total-count scalar (1 row)
    "skew_stats",            # moment scalars (1 row)
    "skew_report",           # table-total scalar (1-row broadcast; was
                             # an eager driver count() before r10)
    "zscore_outliers",       # per-type moment stats (|types| rows)
    "anomaly_mad",           # median/MAD stats (|types| rows)
    "rate_anomaly",          # per-type stats (|types| rows)
    "weighted_median",       # half-weight scalar (1 row)
    "decile_cutpoints",      # rank-edge scalars (9 rows)
    "sample_exact_k",        # k-th-key scalar (1 row)
    "dedup_ngram_jaccard",   # candidate-id semi-join planned as BNLJ at
                             # fixture scale (AQE broadcasts the tiny id
                             # set; keyed shuffle join at scale)
    "ann_recall_eval",       # top-k × top-k join (k·|queries| rows/side)
    "pca_certify",           # 1-row certification frame × count scalar
    "stream_poll_all_tick",  # 10-source status table (catalog-sized)
    "cdc_diff",              # max-version scalar (1 row)
    "rfm_segments",          # global anchor-timestamp scalar (1 row)
    "orders_backlog_aging",  # anchor-date + open-total scalars (1 row each)
    "collocations_lift",     # corpus token-total scalar (1 row)
    "cosine_topk",           # broadcast query set (N_QUERIES=10 rows)
    "hard_negatives",        # same broadcast query set
    "knn_count_per_label",   # same broadcast query set
    "kmeans_clusters",       # broadcast centroid table (K rows)
    "datasketch_hll",        # register-count constants (1 row)
    "golden_record",         # source-priority table (3 rows, Range)
    "grid_radius_join",      # neighbor-offset grid (9 rows)
    "hll_distinct",          # harmonic-sum scalar (1 row)
    "mix_reweight",          # corpus/source totals (|sources| rows)
    "pagerank",              # node-count scalar (1 row)
    "snapshot_restore",      # as-of version scalar (1 row)
    "tpch_q20",              # 0.5*sum(qty) scalar subquery (1 row)
    "triangle_count",        # edge-count scalar (1 row)
    "zorder_layout",         # min/max bounds scalar (1 row)
    "phrase_merges",         # per-round argmax bigram (limit=1 broadcast)
    "pareto_frontier",       # two-pass prefix-max partition-id offsets
                             # (≤ npartitions rows — bounded by the
                             # partition COUNT, not the data)
    "sequence_gaps",         # same partition-id offset inequality join
    "media_phash_dedup",     # planted-offset M = max(doc_id)+1 scalar
                             # (1-row broadcast onto the corpus scan)
}

#: queries allowed an unpartitioned window: input is a dimension-sized
#: aggregate (≤ a few dozen rows by construction), never the corpus.
GLOBAL_WINDOW_ALLOW = {
    "ratio_to_report",       # 5-row channel aggregate
    "map_entries_pivot",     # per-key map explode of one payload row
    "unpivot_stack",         # 4-row unpivot of a 1-row aggregate
    "period_over_period",    # per-month aggregate (≤ 24 rows/fixture year)
    "date_dim_build",        # generated calendar dimension
    "retention_cohorts",     # cohort × week matrix (dimension-sized)
    "mix_reweight",          # |source| rows
    "stream_poll_all_tick",  # 10-row per-tick status
}

# Arrow-batched Python crossings (ArrowEvalPython / MapInPandas /
# FlatMapGroupsInPandas / ...) are fine and need no allowlist;
# BatchEvalPython is the interpreter-per-row node and is flagged
# UNCONDITIONALLY — a plan mixing one Arrow UDF with one bare
# BatchEvalPython must still fail (r5 advisor finding: the old
# "and not arrow-node-present" suppression hid exactly that mix).


def plan_problems(
    name: str, plan: str, python_rdd_leaf: bool
) -> list[str]:
    """The four invariants over a rendered executed plan. Shared by the
    batch path (plan + lineage walked here) and the streaming path
    (plan + lineage captured at drain time by ``progress.record``)."""
    problems = []
    if name not in CROSS_ALLOW and (
        "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan
    ):
        problems.append("cartesian/nested-loop join")
    if name not in GLOBAL_WINDOW_ALLOW and _partitionless_windows(plan):
        problems.append("unpartitioned window over data-sized input")
    if "BatchEvalPython" in plan:
        problems.append("row-at-a-time Python UDF (BatchEvalPython)")
    if python_rdd_leaf:
        problems.append(
            "Python-RDD leaf (createDataFrame from driver list)"
        )
    return problems


def audit(name: str, df) -> list[str]:
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    # r8 finding, frozen as an invariant: createDataFrame(<driver list>)
    # plants a `Scan ExistingRDD` whose RDD lineage crosses the Python
    # worker (ParallelCollectionRDD → PythonRDD → applySchemaToPythonRDD)
    # and is re-serialized on EVERY action; it also hides size stats
    # from AQE. Driver-built relations must go through
    # tables.jvm_local_df (a JVM LocalTableScan). `localCheckpoint`
    # leaves print as the same `Scan ExistingRDD` node but their RDD is
    # a pure-JVM LocalCheckpointRDD — benign, so the check inspects the
    # leaf RDD's lineage (through any AQE wrapper — planchecks), not
    # the plan text.
    leaf = "Scan ExistingRDD" in plan and _has_python_rdd_leaf(
        qe.executedPlan()
    )
    return plan_problems(name, plan, leaf)


def audit_streaming(spark, name: str, fn) -> list[str]:
    """Run a streaming query's drain and apply the four invariants to
    every last-micro-batch plan it recorded (r9 verdict item 6 —
    streaming plans only exist inside a running query, so the capture
    happens in ``progress.record`` while the drain's JVM objects are
    alive; plan shape is batch-invariant, so the last batch stands for
    all). A drain that records no plan at all fails the audit — a
    silent capture gap must read as a gap, not as green."""
    tok = progress.mark()
    fn(spark, SF_DIR)  # drains internally; record() captures plans
    captured = progress.plans_since(tok)
    if not captured:
        return ["no streaming plan captured"]
    problems: list[str] = []
    for _sink, info in captured:
        for p in plan_problems(name, info["plan"], info["python_rdd_leaf"]):
            if p not in problems:
                problems.append(p)
    return problems


def main() -> None:
    spark = get_spark("planaudit")
    qs = entrymod.queries()
    rows = []
    failures = 0
    streaming_items = []
    for name, fn in sorted(qs.items()):
        if name.startswith("stream_"):
            streaming_items.append((name, fn))
            continue
        try:
            df = fn(spark, SF_DIR)
            problems = audit(name, df)
        except Exception as ex:  # noqa: BLE001
            problems = [f"PLAN BUILD ERROR: {type(ex).__name__}: {ex}"[:120]]
        if problems:
            failures += 1
            rows.append((name, "FAIL: " + "; ".join(problems)))
            print(f"FAIL {name}: {problems}", flush=True)
        else:
            rows.append((name, "ok"))
        spark.catalog.clearCache()

    # streaming section after the batch sweep: each drain RUNS (not just
    # compiles), so keep it off the batch loop's cache discipline
    for name, fn in streaming_items:
        try:
            problems = audit_streaming(spark, name, fn)
        except Exception as ex:  # noqa: BLE001
            problems = [f"DRAIN ERROR: {type(ex).__name__}: {ex}"[:120]]
        if problems:
            failures += 1
            rows.append((name, "FAIL: " + "; ".join(problems)))
            print(f"FAIL {name}: {problems}", flush=True)
        else:
            rows.append((name, "ok (streaming drain)"))
        spark.catalog.clearCache()

    lines = [
        "# PLANAUDIT — full-surface physical-plan invariants",
        "",
        "`tools/planaudit.py` compiles every declared batch query at",
        "sf0.001 and rejects the four plan shapes that do not survive a",
        "100× scale-up: Cartesian/nested-loop joins between data-sized",
        "relations (dimension-sized scalar broadcasts are allowlisted",
        "with per-query justifications in the tool), unpartitioned",
        "windows over data-sized inputs (dimension-sized aggregates",
        "allowlisted), row-at-a-time Python UDFs (every Python",
        "crossing must be Arrow-batched), and Python-RDD leaves from",
        "`createDataFrame(<driver list>)` (re-serialized through the",
        "Python worker on every action; driver-built relations must use",
        "`tables.jvm_local_df` — benign JVM `localCheckpoint` leaves are",
        "distinguished by RDD lineage, walked through any AQE wrapper).",
        "Streaming queries are audited by RUNNING each drain: the last",
        "micro-batch's executed plan is captured at drain time",
        "(`streaming.progress.record` via `lastExecution`, the only",
        "moment a streaming plan exists) and passed through the same",
        "four invariants — plan shape is batch-invariant, so the last",
        "batch stands for all. foreachBatch merge bodies run as batch",
        "jobs and are covered by the batch invariants on their operator",
        "twins plus the crash-recovery suite.",
        "",
        f"Result: **{sum(1 for _, s in rows if s.startswith('ok'))} ok, "
        f"{failures} failures, "
        f"{sum(1 for _, s in rows if s.startswith('skip'))} skipped** "
        f"of {len(rows)} declared queries.",
        "",
        "| query | verdict |",
        "|---|---|",
    ]
    lines += [f"| `{n}` | {s} |" for n, s in rows]
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANAUDIT.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"\n{len(rows)} queries, {failures} failures; wrote PLANAUDIT.md")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
