"""Physical-plan assertions: the plan we'd want at 100 TB, machine-checked.

Wires plans/explain.py into CI (VERDICT r01 item 5): filter pushdown
reaches the parquet scan, dimension joins broadcast, global top-k runs
as TakeOrderedAndProject — a plan regression fails the suite.
"""

from __future__ import annotations

import re

import pytest

from real_time_big_data_architect_spark.operators import (
    dedup,
    joins,
    relational,
    scalars,
)
from real_time_big_data_architect_spark.plans import explain


def test_scan_project_pushes_filter_and_prunes_columns(spark, sf_small):
    df = relational.scan_project(spark, sf_small)
    explain.assert_pushed_filters(df)
    plan = explain.formatted_plan(df)
    # column pruning: the 16-column lineitem scan reads only the 4 needed
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_extendedprice" in read_schema
    assert "l_comment" not in read_schema


def test_filter_range_pushes_both_bounds(spark, sf_small):
    df = relational.filter_range(spark, sf_small)
    explain.assert_pushed_filters(df)
    plan = explain.formatted_plan(df)
    assert "PushedFilters" in plan


def test_filter_eq_pushdown(spark, sf_small):
    explain.assert_pushed_filters(relational.filter_eq(spark, sf_small))


def test_join_broadcast_uses_broadcast_hash_join(spark, sf_small):
    explain.assert_broadcast_join(joins.join_broadcast(spark, sf_small))


def test_join_star_broadcasts_dims(spark, sf_small):
    df = joins.join_star(spark, sf_small)
    explain.assert_broadcast_join(df)


def test_topk_is_take_ordered_not_full_sort(spark, sf_small):
    df = relational.topk_order_limit(spark, sf_small)
    flags = explain.plan_has(df, "TakeOrderedAndProject")
    assert flags["TakeOrderedAndProject"], explain.formatted_plan(df)


def test_lastk_is_take_ordered(spark, sf_small):
    df = relational.lastk_tail(spark, sf_small)
    assert explain.plan_has(df, "TakeOrderedAndProject")["TakeOrderedAndProject"]


def test_no_cartesian_in_star_join(spark, sf_small):
    plan = explain.formatted_plan(joins.join_star(spark, sf_small))
    assert "CartesianProduct" not in plan


def test_minhash_lsh_join_does_not_shuffle_signatures(spark, sf_small):
    """The (band, bucket) shuffle carries only the bucket key and the
    collected (probe, doc_id) members: neither the exchange's output
    nor the map-side aggregate feeding it holds the minhash array."""
    df = dedup.dedup_minhash_lsh(spark, sf_small)
    plan = explain.formatted_plan(df)
    nodes = plan.split("\n\n")
    bucket_exchanges = [
        i
        for i, node in enumerate(nodes)
        if re.match(r"\(\d+\) Exchange\n", node)
        and re.search(r"Arguments: hashpartitioning\(band#\d+, bucket#\d+, ", node)
    ]
    assert len(bucket_exchanges) == 1, plan
    i = bucket_exchanges[0]
    exchange_input = re.search(r"^Input \[\d+\]: (.*)$", nodes[i], re.M).group(1)
    assert "minhash" not in exchange_input, nodes[i]
    partial = nodes[i - 1]
    assert partial.split("\n")[0].endswith("HashAggregate"), partial
    partial_input = re.search(r"^Input \[\d+\]: (.*)$", partial, re.M).group(1)
    assert "minhash" not in partial_input, partial


def test_minhash_lsh_signatures_run_the_kernel_once(spark, sf_small):
    """The LSH signature relation evaluates the MinHash kernel once per
    document, after fan_out's exchange: blank documents are dropped
    JVM-side (pushed into the scan), so no NULL filter on the kernel's
    output drags a second kernel call below the exchange."""
    plan = dedup._lsh_signatures(spark, sf_small)._jdf.queryExecution()
    lines = plan.executedPlan().toString().splitlines()
    kernel = [i for i, ln in enumerate(lines) if "ArrowEvalPython [_minhash_text" in ln]
    exchange = [i for i, ln in enumerate(lines) if "Exchange RoundRobinPartitioning" in ln]
    assert len(kernel) == 1 and len(exchange) == 1, lines
    assert kernel[0] < exchange[0], lines  # the tree prints parents first


def test_json_extract_stays_jvm_side(spark, sf_small):
    plan = explain.formatted_plan(scalars.json_extract(spark, sf_small))
    # one partial+final hash agg pair, no Python evaluation anywhere
    assert "HashAggregate" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


@pytest.mark.parametrize(
    "fn",
    [
        relational.scan_project,
        relational.filter_eq,
        scalars.math_expr,
        scalars.json_extract,
    ],
)
def test_no_python_udf_in_builtin_paths(spark, sf_small, fn):
    plan = explain.formatted_plan(fn(spark, sf_small))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_subquery_exists_plans_as_semi_join(spark, sf_small):
    """Correlated EXISTS must decorrelate to one semi join — no
    per-row subquery re-execution survives in the physical plan."""
    plan = explain.formatted_plan(joins.subquery_exists(spark, sf_small))
    assert "LeftSemi" in plan or "left_semi" in plan.lower()
    assert "CartesianProduct" not in plan


def test_subquery_scalar_reuses_subquery(spark, sf_small):
    """Both scalar subqueries scan `part`; the second should reuse the
    first's result (Subquery/ReusedSubquery), and the filter must not
    re-execute per row via Python."""
    plan = explain.formatted_plan(joins.subquery_scalar(spark, sf_small))
    assert "Subquery" in plan
    assert "BatchEvalPython" not in plan


def test_pack_sequences_single_data_shuffle(spark, sf_small):
    """Both windows cluster on lang (the second refines to lang+seq_id),
    so the plan must not shuffle the data more than twice."""
    from real_time_big_data_architect_spark.operators import curation

    plan = explain.formatted_plan(curation.pack_sequences(spark, sf_small))
    assert plan.count("Exchange") <= 2
    assert "BatchEvalPython" not in plan


def test_range_join_banded_is_equi_not_nested_loop(spark, sf_small):
    """The banding must turn the range predicate into an equi-join —
    a BroadcastNestedLoopJoin/CartesianProduct here melts at scale."""
    plan = explain.formatted_plan(joins.range_join_banded(spark, sf_small))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert any(
        j in plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )


def test_sessionize_single_shuffle(spark, sf_small):
    """Lag-flag window, cumsum window, and the session groupBy all key
    on user_id — the plan must shuffle the events once, not three
    times (plus AQE may append a post-agg coalesce read)."""
    from real_time_big_data_architect_spark.operators import behavioral

    plan = explain.formatted_plan(behavioral.sessionize(spark, sf_small))
    # (a single-partition fixture scan already satisfies the clustered
    # distribution, so 0 exchanges is legal there)
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "BatchEvalPython" not in plan


def test_scd2_single_shuffle(spark, sf_small):
    """Change-detection and validity windows share the user_id
    partitioning: one shuffle total."""
    from real_time_big_data_architect_spark.operators import mutations

    plan = explain.formatted_plan(mutations.scd2_history(spark, sf_small))
    assert plan.count("Exchange hashpartitioning") <= 1


def test_merge_upsert_no_nested_loop(spark, sf_small):
    """The MERGE kernel must plan as a key-partitioned join (sort-merge
    or shuffled-hash), never a nested loop / cartesian."""
    from real_time_big_data_architect_spark.operators import mutations

    plan = explain.formatted_plan(mutations.merge_upsert(spark, sf_small))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_corr_regression_partial_agg(spark, sf_small):
    """The moment sums must partial-aggregate map-side (HashAggregate
    before AND after the exchange) so only 3 rows/partition shuffle."""
    from real_time_big_data_architect_spark.operators import aggregates

    plan = explain.formatted_plan(aggregates.corr_regression(spark, sf_small))
    assert plan.count("HashAggregate") >= 2
    assert "BatchEvalPython" not in plan


def test_dedup_levenshtein_is_blocked_equi_join(spark, sf_small):
    """The pair generation must be an equi-join on the blocking key —
    an unblocked O(n^2) comparison would plan as nested-loop."""
    from real_time_big_data_architect_spark.operators import dedup

    plan = explain.formatted_plan(dedup.dedup_levenshtein(spark, sf_small))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_no_row_at_a_time_python_in_any_query_plan(spark, sf_small):
    """Suite-wide guarantee: every declared batch query compiles to a
    plan with zero BatchEvalPython (row-at-a-time Python) and the only
    CartesianProduct is cosine_topk's labeled exact-search baseline.
    Streaming queries are excluded (building them executes the stream);
    their kernels are the same Arrow UDFs asserted here."""
    from real_time_big_data_architect_spark.plans import workload

    offenders, cartesians = [], []
    for name, fn in workload.build_queries().items():
        if name.startswith("stream_"):
            continue
        plan = explain.formatted_plan(fn(spark, sf_small))
        if "BatchEvalPython" in plan:
            offenders.append(name)
        if "CartesianProduct" in plan and name != "cosine_topk":
            cartesians.append(name)
    assert not offenders, f"row-at-a-time Python in: {offenders}"
    assert not cartesians, f"unexpected cartesian joins in: {cartesians}"


def test_global_ranks_plan_only_partitioned_windows(spark, sf_small):
    """The de-globalized ranks must never plan an UNPARTITIONED window:
    the sketch-bounded two-pass rank runs its row_number inside a
    pid-keyed window (parallel), with broadcast offsets supplying the
    global part. Every windowspecdefinition in these plans must open
    with a partition column — a spec opening directly with the sort
    expression means the single-task global rank (the r4 scale-killer)
    snuck back in. ntile() must never appear (the NTILE replay is a map
    expression from rank and N)."""
    import re

    from real_time_big_data_architect_spark.operators import (
        aggregates,
        curation,
        graph,
    )
    from real_time_big_data_architect_spark.plans import explain

    saw_spec = False
    for fn in (aggregates.auc_rank, curation.curation_score, graph.pagerank):
        plan = explain.formatted_plan(fn(spark, sf_small))
        assert "ntile" not in plan, fn.__name__
        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        saw_spec = saw_spec or bool(specs)
        for spec in specs:
            first = spec.split(",")[0].strip()
            assert not first.endswith("ASC NULLS FIRST"), (fn.__name__, spec)
            assert not first.endswith("DESC NULLS LAST"), (fn.__name__, spec)
    assert saw_spec  # non-vacuous: the keyed rank windows ARE planned


def test_window_count_distinct_two_keyed_windows(spark, sf_small):
    """The DISTINCT-window rewrite plans exactly two PARTITIONED
    windows (first-occurrence flag at user grain, running sum at type
    grain) — never an unpartitioned one."""
    from real_time_big_data_architect_spark.operators import windows as W
    from real_time_big_data_architect_spark.plans import explain

    plan = explain.formatted_plan(W.window_count_distinct(spark, sf_small))
    assert plan.count("Window") >= 2
    # every window spec carries a partition key
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected window specs in plan"
    for spec in specs:
        args = [a.strip() for a in spec.split(",")]
        # partition columns precede the sort spec; an unpartitioned
        # window starts directly with the order-by expression ASC/DESC
        assert not args[0].endswith("ASC NULLS FIRST"), spec


def test_no_unpartitioned_windows_in_prefix_and_lead_rewires(spark, sf_small):
    """pareto_frontier's running max, sequence_gaps' successor, and
    vocab_coverage's top-V vocabulary were the LAST unpartitioned
    windows over data-sized relations; all three now use the
    range-partitioned two-pass primitives (or TakeOrderedAndProject).
    Every window spec remaining in these plans must carry a partition
    key — a spec that opens with the sort expression means the
    single-task global window snuck back in."""
    import re

    from real_time_big_data_architect_spark.operators import (
        behavioral,
        relational,
        text,
    )
    from real_time_big_data_architect_spark.plans import explain

    for fn in (
        relational.pareto_frontier,
        behavioral.sequence_gaps,
        text.vocab_coverage,
    ):
        plan = explain.formatted_plan(fn(spark, sf_small))
        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        for spec in specs:
            args = [a.strip() for a in spec.split(",")]
            assert not args[0].endswith("ASC NULLS FIRST"), (
                fn.__name__, spec,
            )
            assert not args[0].endswith("DESC NULLS LAST"), (
                fn.__name__, spec,
            )
    # non-vacuous: the two rewired operators DO plan partitioned windows
    plan = explain.formatted_plan(behavioral.sequence_gaps(spark, sf_small))
    assert "windowspecdefinition" in plan
