"""Aggregations — absent from the reference (only ``len(df)``, app.py:196).

North-star set NS2 (SURVEY §2.5): hash aggregation (TPC-H Q1 shape),
distinct counts, rollup/cube, pivot, approximate distinct.

Scale notes: every groupBy here is a partial (map-side) aggregation
followed by one hash shuffle on the grouping key — the canonical 100 TB
shape. Money sums accumulate in exact decimal so results are
order-independent and hash-match the DuckDB oracle; hot-path queries
(group_agg) use narrow decimal(8,2) inputs whose Long-backed
accumulators are ~1.6× faster, wider functions/numeric.py helpers cover
sums that can exceed the 10^16 bound. ``approx_count_distinct`` (HLL)
is the scale path when an exact distinct would force a per-key dedup
shuffle of raw values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_time_big_data_architect_spark.functions.numeric import dec_sum
from real_time_big_data_architect_spark.functions.ranking import (
    quantile_partitioned_rank_sum,
)
from real_time_big_data_architect_spark.tables import fan_out, load_table


def group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped hash aggregation over lineitem (NS2).

    Narrow decimal(8,2) inputs keep every SUM accumulator at precision
    ≤ 18, which Spark stores as an unscaled Long (compact fast path) —
    measured 0.57 s vs 0.92 s with decimal(30,4) accumulators at sf0.1.
    Values are exact either way, so the oracle hash is unchanged. The
    Long-backed accumulator bounds the total at 10^16: fine for ~10^11
    rows of 6-digit prices; past that, widen with functions.numeric
    dec_sum (ANSI mode turns overflow into an error, never a silent
    wrap). No fan_out: the sums partial-aggregate map-side, so a
    pre-shuffle of full rows costs more than the extra cores recover;
    input splits set the parallelism on a real lake.
    """
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(8,2)")
    price = F.col("l_extendedprice").cast("decimal(8,2)")
    disc = F.col("l_discount").cast("decimal(8,2)")
    one = F.lit(1).cast("decimal(8,2)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (one - disc)).cast("double").alias("sum_disc_price"),
            (F.sum(qty).cast("double") / F.count("l_quantity")).alias("avg_qty"),
            (F.sum(price).cast("double") / F.count("l_extendedprice")).alias(
                "avg_price"
            ),
            (F.sum(disc).cast("double") / F.count("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT user_id) per event_type (NS2)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct, oracle-certified against its own exact
    pass — the 100 TB path with its error bound made hash-checkable.

    The estimate itself is HLL++-implementation-specific, so it can
    never hash against DuckDB directly. Instead the declared query
    co-computes the EXACT distinct count (one multi-agg pass; Catalyst
    expands both aggregates over a single scan) and emits the exact
    value plus a boolean certifying the estimate landed inside 3×rsd
    (+1 for single-digit groups). The oracle recomputes the exact count
    and asserts the boolean TRUE — a hash match therefore proves both
    the exact plumbing AND the sketch's accuracy contract. Production
    at 100 TB runs the approx aggregate alone (constant-memory,
    mergeable partials); the exact twin here is the certification
    harness. Spark's HLL++ is hash-based and order-insensitive, so the
    boolean is deterministic for a given fixture.
    """
    ev = load_table(spark, sf_dir, "events")
    rsd = 0.05
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        (
            F.abs(
                F.approx_count_distinct("user_id", rsd)
                - F.countDistinct("user_id")
            )
            <= 3 * rsd * F.countDistinct("user_id") + F.lit(1)
        ).alias("hll_in_bounds"),
    )


def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over returnflag, linestatus (NS2): subtotals + grand total."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(dec_sum("l_quantity", "sum_qty"), F.count("*").alias("n_rows"))
    )


def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over orderstatus × orderpriority (NS2): all grouping sets.

    fan_out first: CUBE's Expand replicates each row 4× map-side
    before the partial agg — compute-dense enough that the one-task
    fixture scan ran it serial (tools/parallelcheck.py)."""
    o = fan_out(
        load_table(spark, sf_dir, "orders").select(
            "o_orderstatus", "o_orderpriority", "o_totalprice"
        )
    )
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(dec_sum("o_totalprice", "sum_price"), F.count("*").alias("n_orders"))
    )


def pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot linestatus into columns per returnflag (NS2).

    Explicit pivot values keep the plan to one pass (no distinct-values
    pre-query) — the right call at 100 TB.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.count(F.lit(1)))
        .withColumnRenamed("O", "n_open")
        .withColumnRenamed("F", "n_finished")
        .na.fill(0, ["n_open", "n_finished"])
    )


def minmax_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max/count per group — exact regardless of fp order (NS2)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
        F.count("*").alias("n_rows"),
    )


def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): pure filter + global agg.

    The pushdown showcase — every predicate reaches the parquet scan
    (year range, discount band, quantity cap) and one partial+final agg
    computes the answer; no shuffle of any width beyond a single row.
    """
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(price * disc).cast("double").alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (finer than rollup/cube): totals by
    (returnflag, linestatus), by returnflag alone, and grand total —
    but NOT by linestatus alone."""
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n_rows
        FROM {lineitem}
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


def rollup_time_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: one pass produces the
    hour-grain rows plus their day-level and grand-total rollups
    (``ROLLUP(day, hour)``) — the multi-resolution materialization a
    timeseries store keeps per hypertable.

    Spark computes this with partial aggregation at every level before
    the single shuffle; sums accumulate in exact decimal so the rolled
    values are order-independent and hash-match the oracle.
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        F.date_trunc("day", "ts").alias("day"),
        F.date_trunc("hour", "ts").alias("hour"),
        "value",
    )
    return d.rollup("day", "hour").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(30,4)")).cast("double").alias("sum_value"),
    )


def percentile_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event_type (NS2).

    Spark's ``percentile`` and DuckDB's ``quantile_cont`` both compute
    the linear-interpolation quantile at index (n-1)*p over the sorted
    values, so the result is oracle-exact. At 100 TB exact percentiles
    require a per-group sort — ``approx_quantiles`` below is the
    sketch-based scale path.
    """
    ev = load_table(spark, sf_dir, "events")
    # + 0.0 canonicalizes SIGNED ZERO (-0.0 -> +0.0; exact identity for
    # every other finite double): with both zeros present in a group,
    # Spark's percentile can emit -0.0 where DuckDB's quantile_cont
    # emits +0.0 for the same quantile (r12 tied-pair plant shifted
    # view's p25 onto the zero boundary and exposed it). IEEE equality
    # says the two are equal; emitting the canonical representative
    # makes the output deterministic. Oracle mirrors with value + 0.0.
    v = F.col("value") + F.lit(0.0)
    return (
        ev.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.percentile(v, F.lit(0.25)).alias("p25"),
            F.percentile(v, F.lit(0.5)).alias("p50"),
            F.percentile(v, F.lit(0.9)).alias("p90"),
            F.count("*").alias("n"),
        )
    )


APPROX_PCT_ACCURACY = 10000  # GK sketch accuracy → rank error ≤ N/accuracy


def approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles via the Greenwald-Khanna sketch, with
    the sketch's RANK-ERROR guarantee certified in the same query.

    The sketch values are implementation-specific (never directly
    DuckDB-hashable), but the guarantee is checkable: the returned
    element's rank must lie within (q ± 1/accuracy)·N. Pass 1 builds
    the per-type sketches (mergeable partials, no per-group sort — the
    100 TB path); pass 2 broadcasts the dimension-sized sketch results
    back over events and counts, tie-robustly, how many values fall
    strictly below / at-or-below each estimate. The emitted booleans
    assert the rank interval [cnt_lt+1, cnt_le] overlaps the guarantee
    window (±1 rank of fp slack). The oracle recomputes the group
    cardinalities and asserts TRUE — a hash match proves the sketch met
    its contract on this fixture.
    """
    # event_type IS NOT NULL too (r11 adversarial finding): a per-type
    # sketch needs a type — and the certify join below is an equi-join
    # that silently drops the NULL-type group on the engine side while
    # the oracle's GROUP BY keeps it
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    sk = ev.groupBy("event_type").agg(
        F.approx_percentile(
            "value", F.lit(0.5), F.lit(APPROX_PCT_ACCURACY)
        ).alias("ap50"),
        F.approx_percentile(
            "value", F.lit(0.95), F.lit(APPROX_PCT_ACCURACY)
        ).alias("ap95"),
    )
    eps = 1.0 / APPROX_PCT_ACCURACY
    counted = (
        ev.join(F.broadcast(sk), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_values"),
            F.sum((F.col("value") < F.col("ap50")).cast("long")).alias("lt50"),
            F.sum((F.col("value") <= F.col("ap50")).cast("long")).alias("le50"),
            F.sum((F.col("value") < F.col("ap95")).cast("long")).alias("lt95"),
            F.sum((F.col("value") <= F.col("ap95")).cast("long")).alias("le95"),
        )
    )
    n = F.col("n_values")

    def rank_ok(q: float, lt, le):
        lo = F.floor((F.lit(q) - eps) * n) - F.lit(1)
        hi = F.ceil((F.lit(q) + eps) * n) + F.lit(1)
        return (lt + F.lit(1) <= hi) & (le >= lo)

    return counted.select(
        "event_type",
        "n_values",
        rank_ok(0.5, F.col("lt50"), F.col("le50")).alias("p50_rank_ok"),
        rank_ok(0.95, F.col("lt95"), F.col("le95")).alias("p95_rank_ok"),
    )


def corr_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + OLS slope/intercept of extendedprice vs
    quantity per returnflag — the statistical aggregates (NS2).

    Built-in ``corr``/``regr_slope`` accumulate doubles in partition
    order, which is not reproducible cross-engine; instead the five
    moment sums run in exact decimal (values carry <=2 decimals, so the
    decimal cast is lossless), and the closed-form estimators are
    evaluated in double with an expression tree mirrored token-for-token
    in the oracle — every fp op is then IEEE-correctly-rounded from
    identical inputs, so the result hash-matches. Map-side partial
    aggregation applies to every sum; one shuffle of 3×6 cells.
    """
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(7,2)")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    sums = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(qty).cast("double").alias("sx"),
        F.sum(price).cast("double").alias("sy"),
        F.sum(qty * qty).cast("double").alias("sxx"),
        F.sum(price * price).cast("double").alias("syy"),
        F.sum(qty * price).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = cov_n / var_x
    # correlation/slope are undefined for degenerate groups (single
    # row, or zero variance in either variable) — they are dropped,
    # mirrored in the oracle's WHERE; dividing would error under ANSI
    sums = sums.filter((var_x > 0) & (var_y > 0))
    return sums.select(
        "l_returnflag",
        n.cast("bigint").alias("n_rows"),
        (cov_n / (F.sqrt(var_x) * F.sqrt(var_y))).alias("corr_qty_price"),
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
    )


def histogram_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals: floor(x / 25000) bins.

    The profiling staple. The bin key is computed from the raw double
    (one correctly-rounded divide + floor, identical cross-engine), so
    the groupBy shuffles an int key; counts and min/max pass through
    exactly, and the per-bin sum runs in lossless decimal.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.withColumn(
            "bin", F.floor(F.col("o_totalprice") / F.lit(25000.0)).cast("int")
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.sum(F.col("o_totalprice").cast("decimal(30,4)"))
            .cast("double")
            .alias("sum_price"),
        )
    )


N_AGG_SALTS = 16


def agg_skew_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation for pathologically hot keys (NS2).

    Phase 1 aggregates on (key, salt) — a hot key's rows spread over
    ``N_AGG_SALTS`` reducer partitions instead of melting one — and
    phase 2 re-aggregates the per-salt partials on the key alone. For
    algebraic aggregates Spark's map-side partial agg already bounds
    per-reducer input, so this pattern earns its extra shuffle only for
    holistic/expensive states (collect-based, exact-distinct) or skew
    so extreme a single reducer partition spills; it is demonstrated on
    sums/counts because those make the equivalence oracle-exact (decimal
    accumulation is order-independent, so salting cannot drift the
    hash).
    """
    li = load_table(spark, sf_dir, "lineitem")
    salted = li.withColumn(
        "salt", F.pmod(F.xxhash64("l_orderkey", F.lit(42)), F.lit(N_AGG_SALTS))
    )
    partial = salted.groupBy("l_returnflag", "salt").agg(
        F.sum(F.col("l_quantity").cast("decimal(30,4)")).alias("s_qty"),
        F.count("*").alias("n"),
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("s_qty").cast("double").alias("sum_qty"),
        F.sum("n").alias("n_rows"),
    )


def mode_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE per group: most frequent o_orderpriority per
    order status, ties broken by the value itself (NS2). Built from
    count + argmax via ``max_by`` on a (count, value) struct — struct
    ordering gives the exact tie-break the oracle replays, where a bare
    ``mode()`` is tie-nondeterministic in both engines.
    """
    o = load_table(spark, sf_dir, "orders")
    counted = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n")
    )
    return counted.groupBy("o_orderstatus").agg(
        F.max(F.struct(F.col("n"), F.col("o_orderpriority"))).alias("m")
    ).select(
        "o_orderstatus",
        F.col("m.o_orderpriority").alias("mode_priority"),
        F.col("m.n").alias("n_occurrences"),
    )


def string_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG / string_agg: region names per... nations per region,
    comma-joined in sorted order (NS2). ``collect_list`` alone is
    partition-order-nondeterministic; ``array_sort`` before the join
    makes it exact — the only safe way to string-agg distributed data.
    """
    n = load_table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.concat_ws(
            ",", F.array_sort(F.collect_list("n_name"))
        ).alias("nations_csv"),
        F.count("*").alias("n_nations"),
    )


def argminmax_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / min_by plus the bitwise and boolean aggregate surface
    (NS2): per event_type, the value carried by the newest/oldest
    event (ordering on the UNIQUE event_id, so the answer is
    deterministic — max_by over a tie-able ordering column is not),
    bit_and/bit_or/bit_xor over user ids, and every/bool_or
    predicates. All are single-pass hash aggregates with map-side
    partials — the same one-shuffle shape as group_agg.
    Oracle: DuckDB arg_max/arg_min and its matching bit/bool aggs.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    return ev.groupBy("event_type").agg(
        F.max_by("value", "event_id").alias("newest_value"),
        F.min_by("value", "event_id").alias("oldest_value"),
        F.bit_and("user_id").alias("uid_bit_and"),
        F.bit_or("user_id").alias("uid_bit_or"),
        F.bit_xor("user_id").alias("uid_bit_xor"),
        F.every(F.col("value") > F.lit(0.0)).alias("all_positive"),
        F.bool_or(F.col("value") > F.lit(50.0)).alias("any_gt50"),
    )


def period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue deltas per market segment — the KPI
    reporting staple (current, previous, absolute and percent change).

    One broadcast dim join (customer segment), one partial-agg shuffle
    to (segment, month) — after which the series is dimension-sized, so
    the lag window is effectively free. Revenue accumulates in exact
    decimal; the MoM ratio is a single double division at the end, the
    same expression tree the oracle runs.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    monthly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            "c_mktsegment",
            F.date_trunc("month", "o_orderdate").alias("month"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )
    # Explicit NULLS FIRST: a NULL month (unknown order date) sorts as
    # the series base on both engines (Spark defaults NULLS FIRST,
    # DuckDB NULLS LAST — the oracle pins the same direction).
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("month").asc_nulls_first()
    )
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "c_mktsegment",
        "month",
        "revenue",
        "n_orders",
        prev.alias("prev_revenue"),
        ((F.col("revenue") - prev) / prev).alias("mom_pct"),
    )


def ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total reporting (Oracle's RATIO_TO_REPORT): each market
    segment's revenue as a fraction of the grand total, plus its rank.

    One partial-agg shuffle to segment grain (5 rows), then an empty-
    frame window computes the total WITHOUT a second scan or a scalar-
    subquery rejoin — on dimension-sized aggregates the window is free,
    and the corpus is read exactly once. Revenue in exact decimal; the
    share is one double division mirrored in the oracle.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    seg = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("rev")
        )
    )
    w_all = Window.partitionBy()
    total = F.sum("rev").over(w_all)
    return seg.select(
        "c_mktsegment",
        F.col("rev").cast("double").alias("revenue"),
        (F.col("rev").cast("double") / total.cast("double")).alias(
            "revenue_share"
        ),
        F.rank()
        .over(Window.partitionBy().orderBy(F.desc("rev"), "c_mktsegment"))
        .alias("revenue_rank"),
    )


def weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median per event type: the value at which cumulative
    weight first reaches half the total — robust center for
    importance-weighted data, which plain ``percentile`` can't express.

    One window pass per group (cumulative weight over the value sort)
    + a min-over-qualifying pick via one more aggregation — no
    self-join, no second scan. Weights accumulate in exact decimal so
    the half-total boundary is bit-stable; the deterministic
    (value, event_id) sort pins ties identically in both engines.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    wdec = F.abs(F.col("value")).cast("decimal(30,4)")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    cum = ev.select(
        "event_type",
        "value",
        F.sum(wdec).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cumw"
        ),
        F.sum(wdec).over(
            Window.partitionBy("event_type").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("totw"),
    )
    qualifying = cum.filter(
        F.col("cumw") * 2 >= F.col("totw")
    )
    # min over value canonicalizes signed zero (value + 0.0): a
    # {-0.0, 0.0} tie at the qualifying minimum would otherwise return
    # the first-arrival representative in BOTH engines — partition-
    # order-dependent in Spark (r12 probe; same fix as percentile_agg)
    return qualifying.groupBy("event_type").agg(
        F.min(F.col("value") + F.lit(0.0)).alias("weighted_median"),
        F.max(F.col("totw").cast("double")).alias("total_weight"),
    )


def auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact AUC by rank sum (Mann-Whitney U): how well a deterministic
    linear score separates the binary label over the embeddings — the
    distributed model-eval primitive (no sklearn, no sampling: the
    EXACT statistic from one global sort).

    score = fixed-plane dot fold (JVM), label = label % 2; AUC =
    (Σ ranks(positives) − n₊(n₊+1)/2) / (n₊·n₋). The global rank is
    the range-partitioned two-pass row_number (functions/ranking.py)
    — a parallel range shuffle + broadcast offsets, never one
    WindowExec task holding the whole corpus — with vec_id tiebreak
    pinning ties identically cross-engine; then one aggregate.
    Integer arithmetic until the final division, so the statistic is
    bit-exact and the ROW_NUMBER-based oracle hashes unchanged.
    """
    from real_time_big_data_architect_spark.operators.similarity import (
        _dot,
        _proj_array_sql,
    )

    # a row with no label is not an eval example and a row with no
    # embedding has no score: both are excluded BEFORE ranking (r12
    # adversarial plant — a NULL score would rank NULLS-FIRST in Spark
    # but NULLS-LAST in DuckDB, shifting every positive's rank, and a
    # NULL pos falls to the negative count in the oracle's CASE but out
    # of the engine's sum). Mirrored in _auc_oracle's WHERE.
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & F.col("label").isNotNull()
    )
    score = _dot("embedding", _proj_array_sql())
    scored = emb.select(
        "vec_id",
        (F.col("label") % 2 == 0).alias("pos"),
        score.alias("score"),
    )
    # Fused rank-sum (functions/ranking.py): AUC needs Σ ranks of
    # positives, NOT per-row ranks, so the per-pid local sums aggregate
    # straight out of the windowed pass and the cross-pid offsets fold
    # over a partition-count-sized relation — two input passes (bounds
    # + windowed scan) instead of the generic helper's three, no
    # broadcast join back onto the corpus, no persist anywhere, and
    # still bit-identical to row_number() OVER (ORDER BY score, vec_id)
    # (property-tested in tests/test_ranking.py).
    agg = quantile_partitioned_rank_sum(
        scored, "score", "vec_id", "pos"
    ).select(
        "rank_sum",
        F.col("n_true").alias("n_pos"),
        F.col("n_false").alias("n_neg"),
    )
    auc = (
        F.col("rank_sum").cast("double")
        - (
            F.col("n_pos").cast("double")
            * (F.col("n_pos") + 1).cast("double")
        )
        / F.lit(2.0)
    ) / (F.col("n_pos").cast("double") * F.col("n_neg").cast("double"))
    return agg.select("n_pos", "n_neg", auc.alias("auc"))


#: backlog aging band edges in days (closed on the left)
AGING_BANDS = ((0, 30), (31, 90), (91, 365), (366, None))


def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging — the classic receivables/fulfilment
    BI report: open orders banded by days outstanding against the
    corpus's latest order date, with counts and exact-decimal value
    totals per band.

    One filter + a 1-row broadcast anchor + a map-side CASE band + a
    4-key aggregate; shares divide exact longs. Nothing here scales
    with anything but the scan.
    """
    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("anchor_d"))
    aged = (
        o.filter(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(anchor))
        .withColumn(
            "days_open",
            F.datediff(
                F.col("anchor_d").cast("date"),
                F.col("o_orderdate").cast("date"),
            ),
        )
    )
    band = F.lit(None).cast("int")
    label = F.lit(None).cast("string")
    for i, (lo, hi) in reversed(list(enumerate(AGING_BANDS))):
        cond = (
            (F.col("days_open") >= lo)
            if hi is None
            else (F.col("days_open") >= lo) & (F.col("days_open") <= hi)
        )
        name = f"{lo}-{hi}d" if hi is not None else f"{lo}+d"
        band = F.when(cond, F.lit(i)).otherwise(band)
        label = F.when(cond, F.lit(name)).otherwise(label)
    per = aged.groupBy(band.alias("band_idx"), label.alias("band")).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("total_price"),
    )
    total = per.agg(F.sum("n_orders").alias("n_open"))
    return per.crossJoin(F.broadcast(total)).select(
        "band_idx",
        "band",
        "n_orders",
        "total_price",
        (F.col("n_orders").cast("double") / F.col("n_open").cast("double"))
        .alias("share"),
    )


QUERIES = {
    "orders_backlog_aging": orders_backlog_aging,
    "argminmax_agg": argminmax_agg,
    "group_agg": group_agg,
    "agg_skew_twophase": agg_skew_twophase,
    "mode_agg": mode_agg,
    "string_agg_sorted": string_agg_sorted,
    "distinct_count": distinct_count,
    "approx_distinct": approx_distinct,
    "rollup_agg": rollup_agg,
    "cube_agg": cube_agg,
    "pivot_agg": pivot_agg,
    "minmax_agg": minmax_agg,
    "percentile_agg": percentile_agg,
    "approx_quantiles": approx_quantiles,  # rows-only (sketch estimates)
    "tpch_q6": tpch_q6,
    "grouping_sets_agg": grouping_sets_agg,
    "rollup_time_hierarchy": rollup_time_hierarchy,
    "corr_regression": corr_regression,
    "histogram_fixed": histogram_fixed,
    "period_over_period": period_over_period,
    "ratio_to_report": ratio_to_report,
    "weighted_median": weighted_median,
    "auc_rank": auc_rank,
}


def _auc_oracle() -> str:
    from real_time_big_data_architect_spark.operators.similarity import (
        _PROJ_COEFS,
    )

    coefs = ", ".join(repr(c) for c in _PROJ_COEFS)
    return f"""
        WITH scored AS (
            SELECT vec_id, (label % 2 = 0) AS pos,
                   list_reduce(list_transform(range(1, 65),
                       i -> CAST(embedding[i] AS DOUBLE) * ([{coefs}])[i]),
                       (x, y) -> x + y) AS score
            FROM embeddings
            -- mirrors the engine's not-null eval-example contract
            WHERE embedding IS NOT NULL AND label IS NOT NULL
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (ORDER BY score, vec_id) AS rnk
            FROM scored
        ),
        agg AS (
            SELECT CAST(SUM(CASE WHEN pos THEN rnk ELSE 0 END) AS BIGINT)
                       AS rank_sum,
                   CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_pos,
                   CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT)
                       AS n_neg
            FROM ranked
        )
        SELECT n_pos, n_neg,
               (CAST(rank_sum AS DOUBLE)
                - (CAST(n_pos AS DOUBLE) * CAST(n_pos + 1 AS DOUBLE)) / 2.0)
               / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS auc
        FROM agg
    """

_Q1_DEC = "CAST(SUM(CAST({x} AS DECIMAL(30,4))) AS DOUBLE)"

def _aging_oracle() -> str:
    cases_idx, cases_lbl = [], []
    for i, (lo, hi) in enumerate(AGING_BANDS):
        if hi is None:
            cond = f"days_open >= {lo}"
            name = f"{lo}+d"
        else:
            cond = f"days_open >= {lo} AND days_open <= {hi}"
            name = f"{lo}-{hi}d"
        cases_idx.append(f"WHEN {cond} THEN {i}")
        cases_lbl.append(f"WHEN {cond} THEN '{name}'")
    return f"""
        WITH anchor AS (SELECT MAX(o_orderdate) AS anchor_d FROM orders),
        aged AS (
            SELECT o.*,
                   datediff('day', CAST(o.o_orderdate AS DATE),
                            CAST(a.anchor_d AS DATE)) AS days_open
            FROM orders o CROSS JOIN anchor a
            WHERE o.o_orderstatus = 'O'
        ),
        per AS (
            SELECT CAST(CASE {" ".join(cases_idx)} END AS INT) AS band_idx,
                   CASE {" ".join(cases_lbl)} END AS band,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                        AS DOUBLE) AS total_price
            FROM aged GROUP BY 1, 2
        ),
        t AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS n_open FROM per)
        SELECT band_idx, band, n_orders, total_price,
               CAST(n_orders AS DOUBLE) / CAST(t.n_open AS DOUBLE) AS share
        FROM per, t
    """


ORACLE = {
    "orders_backlog_aging": _aging_oracle(),
    "auc_rank": _auc_oracle(),
    # Sketch-certification oracles: the engine emits exact values plus
    # booleans asserting its sketch estimates met their published error
    # bounds; the oracle recomputes the exact side and asserts TRUE, so
    # a hash match certifies the approximation contract.
    "approx_distinct": """
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
               TRUE AS hll_in_bounds
        FROM events GROUP BY event_type
    """,
    "approx_quantiles": """
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_values,
               TRUE AS p50_rank_ok,
               TRUE AS p95_rank_ok
        FROM events
        WHERE value IS NOT NULL AND event_type IS NOT NULL
        GROUP BY event_type
    """,
    "weighted_median": """
        WITH cum AS (
            SELECT event_type, value,
                   SUM(CAST(abs(value) AS DECIMAL(30,4))) OVER (
                       PARTITION BY event_type ORDER BY value, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cumw,
                   SUM(CAST(abs(value) AS DECIMAL(30,4))) OVER (
                       PARTITION BY event_type
                   ) AS totw
            FROM events WHERE value IS NOT NULL
        )
        SELECT event_type, MIN(value + 0.0) AS weighted_median,
               MAX(CAST(totw AS DOUBLE)) AS total_weight
        FROM cum WHERE cumw * 2 >= totw
        GROUP BY event_type
    """,
    "ratio_to_report": """
        WITH seg AS (
            SELECT c_mktsegment,
                   SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        )
        SELECT c_mktsegment,
               CAST(rev AS DOUBLE) AS revenue,
               CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER () AS DOUBLE)
                   AS revenue_share,
               CAST(RANK() OVER (ORDER BY rev DESC, c_mktsegment) AS INT)
                   AS revenue_rank
        FROM seg
    """,
    "period_over_period": """
        WITH monthly AS (
            SELECT c_mktsegment,
                   date_trunc('month', o_orderdate) AS month,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                        AS DOUBLE) AS revenue,
                   CAST(COUNT(*) AS BIGINT) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1, 2
        )
        SELECT c_mktsegment, month, revenue, n_orders,
               LAG(revenue) OVER w AS prev_revenue,
               (revenue - LAG(revenue) OVER w) / LAG(revenue) OVER w
                   AS mom_pct
        FROM monthly
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY month NULLS FIRST)
    """,
    "argminmax_agg": """
        SELECT event_type,
               arg_max(value, event_id) AS newest_value,
               arg_min(value, event_id) AS oldest_value,
               bit_and(user_id) AS uid_bit_and,
               bit_or(user_id) AS uid_bit_or,
               bit_xor(user_id) AS uid_bit_xor,
               bool_and(value > 0.0) AS all_positive,
               bool_or(value > 50.0) AS any_gt50
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type
    """,
    "mode_agg": """
        SELECT o_orderstatus,
               (MAX(struct_pack(n := n, v := o_orderpriority))).v
                 AS mode_priority,
               (MAX(struct_pack(n := n, v := o_orderpriority))).n
                 AS n_occurrences
        FROM (SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
              FROM orders GROUP BY 1, 2)
        GROUP BY o_orderstatus
    """,
    "string_agg_sorted": """
        SELECT n_regionkey,
               string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
               COUNT(*) AS n_nations
        FROM nation
        GROUP BY n_regionkey
    """,
    "agg_skew_twophase": """
        SELECT l_returnflag,
               CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
    """,
    "group_agg": f"""
        SELECT l_returnflag, l_linestatus,
               {_Q1_DEC.format(x='l_quantity')} AS sum_qty,
               {_Q1_DEC.format(x='l_extendedprice')} AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                    AS DOUBLE) AS sum_disc_price,
               {_Q1_DEC.format(x='l_quantity')} / COUNT(l_quantity) AS avg_qty,
               {_Q1_DEC.format(x='l_extendedprice')} / COUNT(l_extendedprice) AS avg_price,
               {_Q1_DEC.format(x='l_discount')} / COUNT(l_discount) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "distinct_count": """
        SELECT event_type,
               COUNT(DISTINCT user_id) AS n_users,
               COUNT(*) AS n_events
        FROM events
        GROUP BY event_type
    """,
    "rollup_agg": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "cube_agg": """
        SELECT o_orderstatus, o_orderpriority,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS sum_price,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "pivot_agg": """
        SELECT l_returnflag,
               COUNT(*) FILTER (WHERE l_linestatus = 'O') AS n_open,
               COUNT(*) FILTER (WHERE l_linestatus = 'F') AS n_finished
        FROM lineitem
        GROUP BY l_returnflag
    """,
    "tpch_q6": """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1994-01-01'
          AND l_shipdate < TIMESTAMP '1995-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    "rollup_time_hierarchy": """
        SELECT day, hour, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS sum_value
        -- DuckDB date_trunc('day') yields DATE; Spark yields TIMESTAMP
        FROM (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                     date_trunc('hour', ts) AS hour, value
              FROM events)
        GROUP BY ROLLUP(day, hour)
    """,
    "grouping_sets_agg": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    "percentile_agg": """
        SELECT event_type,
               -- value + 0.0: canonicalize signed zero (engine mirror)
               quantile_cont(value + 0.0, 0.25) AS p25,
               quantile_cont(value + 0.0, 0.5) AS p50,
               quantile_cont(value + 0.0, 0.9) AS p90,
               COUNT(*) AS n
        FROM events
        WHERE value IS NOT NULL
        GROUP BY event_type
    """,
    "minmax_agg": """
        SELECT l_returnflag,
               MIN(l_quantity) AS min_qty,
               MAX(l_quantity) AS max_qty,
               MIN(l_shipdate) AS first_ship,
               MAX(l_shipdate) AS last_ship,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
    """,
    # expression tree mirrors corr_regression token-for-token: exact
    # decimal moment sums -> double, then IEEE-rounded arithmetic
    "corr_regression": """
        WITH sums AS (
            SELECT l_returnflag,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(7,2))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(7,2))
                            * CAST(l_quantity AS DECIMAL(7,2))) AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                            * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(7,2))
                            * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy
            FROM lineitem
            GROUP BY l_returnflag
        )
        SELECT l_returnflag,
               CAST(n AS BIGINT) AS n_rows,
               (n * sxy - sx * sy)
                   / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
                   AS corr_qty_price,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
               (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
                   AS intercept
        FROM sums
        WHERE (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
    """,
    "histogram_fixed": """
        SELECT CAST(FLOOR(o_totalprice / 25000.0) AS INT) AS bin,
               COUNT(*) AS n_orders,
               MIN(o_totalprice) AS min_price,
               MAX(o_totalprice) AS max_price,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE)
                   AS sum_price
        FROM orders
        GROUP BY 1
    """,
}
