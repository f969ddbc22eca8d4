"""Joins — absent from the reference (SURVEY §2.5 NS1), built Spark-first.

Strategy per join, chosen for 100 TB:

- fact ⋈ fact (orders⋈customer, lineitem⋈orders): sort-merge / shuffle
  hash on the key — Catalyst + AQE pick; both sides shuffle once. At
  lake scale these would be bucketed on the join key to skip the shuffle.
- fact ⋈ dim (nation, region, supplier): explicit ``broadcast()`` — the
  dim side is KBs even at 100 TB fact scale, so the join is a map-side
  hash probe with zero shuffle of the big side.
- semi/anti: ``left_semi`` / ``left_anti`` — Spark never materializes
  the probe side's payload columns, unlike an EXISTS rewrite by hand.
- star: chained broadcasts over the dim spine; only the lineitem⋈orders
  edge shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from real_time_big_data_architect_spark.tables import (
    fan_out,
    jvm_local_df,
    load_table,
)


def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join orders⋈customer (NS1)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment"
    )


def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast join nation⋈region: dim side ships to every task (NS1)."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name", "r_name"
    )


def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join: every customer, order count may be 0 (NS1)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join: customers that have at least one order (EXISTS)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join: customers with no orders (NOT EXISTS)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


def join_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way star join: revenue by region (NS1).

    lineitem⋈orders shuffles on orderkey; customer joins on custkey;
    nation and region broadcast. Revenue accumulates in exact decimal
    so the hash matches the oracle; decimal(8,2) inputs keep the
    per-row product Long-backed (precision 17 ≤ 18 — measured
    1.63 s → 1.15 s at sf0.1; values exact either way, 6-digit prices
    fit with headroom).
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    price = F.col("l_extendedprice").cast("decimal(8,2)")
    disc = F.col("l_discount").cast("decimal(8,2)")
    net = (price * (F.lit(1).cast("decimal(8,2)") - disc)).alias("net")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(F.col("r_name").alias("region_name"), net)
        .groupBy("region_name")
        .agg(
            F.sum("net").cast("double").alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of) join: for each purchase event, the same
    user's most recent view at-or-before it — the attribution /
    timeseries primitive Spark lacks natively.

    Spark-first composition: tag both streams, union, then
    ``last(..., ignorenulls)`` over a user-partitioned, time-ordered
    window. ONE hash shuffle on user_id + an in-partition sort — no
    inequality-join explosion (a naive ``t1.ts <= t2.ts`` range join is
    O(n·m) per user and melts at 100 TB). Views are deduped to one row
    per (user, ts) with max(event_id) so the match is deterministic.
    Oracle: DuckDB's native ASOF LEFT JOIN.

    ts IS NOT NULL on both sides (r11 review): a timeless event has no
    as-of position — and the engines would disagree on one (the window
    replay sorts a NULL-ts purchase LAST and matches it to the user's
    latest view, while DuckDB's ASOF ``v.ts <= p.ts`` never matches a
    NULL; latent, the fixtures carry no NULL ts).
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    tagged = views.select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),  # views sort before same-ts purchases
        F.lit(None).cast("long").alias("event_id"),
        "view_event_id",
    ).unionByName(
        purchases.select(
            "user_id",
            "ts",
            F.lit(1).alias("kind"),
            "event_id",
            F.lit(None).cast("long").alias("view_event_id"),
        )
    )
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").asc_nulls_last(), F.col("kind").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    matched = tagged.withColumn(
        "matched_view_id", F.last("view_event_id", ignorenulls=True).over(w)
    ).withColumn(
        "matched_view_ts",
        F.last(F.when(F.col("kind") == 0, F.col("ts")), ignorenulls=True).over(w),
    )
    return matched.filter(F.col("kind") == 1).select(
        "event_id",
        "user_id",
        "ts",
        F.col("matched_view_id").alias("view_event_id"),
        F.col("matched_view_ts").alias("view_ts"),
        (F.unix_micros("ts") - F.unix_micros("matched_view_ts")).alias("gap_us"),
    )


def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): NULL
    keys match NULL keys — the semantics MERGE/dedup pipelines need
    when the business key is nullable (a plain equi-join silently drops
    every NULL row from both sides).

    Planted nullable keys (every 7th event's json k, else NULL) joined
    null-safely against a small dim of (k, label) that includes a NULL
    row. Spark's ``eqNullSafe`` compiles to the same hash join as ``=``
    — NULLs hash to a bucket like any value — so the plan stays a
    broadcast hash join, no null-handling penalty at scale.
    """
    ev = load_table(spark, sf_dir, "events")
    # try_cast, not cast (r12 overflow plant): the session runs ANSI
    # mode, where casting an int64-overflow digit string to BIGINT
    # THROWS — one poisoned props payload would kill the join;
    # try_cast nulls it, and the oracle's TRY_CAST replays it
    k = F.when(
        F.col("event_id") % 7 == 0,
        F.get_json_object("props", "$.k").try_cast("bigint") % 5,
    )
    left = ev.select("event_id", k.alias("k"))
    dim = spark.range(5).select(
        F.col("id").alias("k"), F.concat(F.lit("bucket_"), "id").alias("label")
    ).unionByName(
        spark.range(1).select(
            F.lit(None).cast("bigint").alias("k"),
            F.lit("bucket_null").alias("label"),
        )
    )
    return left.join(
        F.broadcast(dim), left["k"].eqNullSafe(dim["k"])
    ).select("event_id", left["k"].alias("k"), "label")


def asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-neighbor time join: each purchase matched to the same
    user's closest view in EITHER direction (backward asof_join's
    harder sibling — sensor alignment and event reconciliation need
    nearest, not latest-prior).

    Same one-shuffle composition as asof_join — union both streams,
    one user-ordered window — but TWO ignorenulls frames (last view
    at-or-before, first view at-or-after) and a final min-by-gap pick
    with a deterministic backward tiebreak. No inequality join, no
    per-purchase scan; the oracle replays the identical two-frame
    construction. ts IS NOT NULL on both sides — a timeless event has
    no nearest neighbor (the asof_join convention).
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    tagged = views.select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        F.lit(None).cast("long").alias("event_id"),
        "view_event_id",
    ).unionByName(
        purchases.select(
            "user_id",
            "ts",
            F.lit(1).alias("kind"),
            "event_id",
            F.lit(None).cast("long").alias("view_event_id"),
        )
    )
    base = W.partitionBy("user_id").orderBy(F.col("ts").asc_nulls_last(), F.col("kind").asc())
    wb = base.rowsBetween(W.unboundedPreceding, 0)
    wf = base.rowsBetween(0, W.unboundedFollowing)
    view_ts = F.when(F.col("kind") == 0, F.col("ts"))
    prev_id = F.last("view_event_id", ignorenulls=True).over(wb)
    prev_ts = F.last(view_ts, ignorenulls=True).over(wb)
    next_id = F.first("view_event_id", ignorenulls=True).over(wf)
    next_ts = F.first(view_ts, ignorenulls=True).over(wf)
    marked = (
        tagged.withColumn("prev_id", prev_id)
        .withColumn("prev_ts", prev_ts)
        .withColumn("next_id", next_id)
        .withColumn("next_ts", next_ts)
        .filter(F.col("kind") == 1)
    )
    gap_prev = F.unix_micros("ts") - F.unix_micros("prev_ts")
    gap_next = F.unix_micros("next_ts") - F.unix_micros("ts")
    use_prev = F.col("next_ts").isNull() | (
        F.col("prev_ts").isNotNull() & (gap_prev <= gap_next)
    )
    return marked.select(
        "event_id",
        "user_id",
        "ts",
        F.when(use_prev, F.col("prev_id"))
        .otherwise(F.col("next_id"))
        .alias("view_event_id"),
        F.when(use_prev, gap_prev).otherwise(-gap_next).alias("signed_gap_us"),
    )


def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): the canonical join+agg+top-k shape.

    customer(BUILDING) ⋈ orders ⋈ lineitem, revenue per (order, date,
    priority), top 10 by revenue. Spark plan: two shuffled joins + hash
    agg + TakeOrderedAndProject — the classic interactive-BI query at
    any scale. Revenue in exact decimal for hash stability.
    """
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    net = price * (F.lit(1).cast("decimal(18,2)") - disc)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(net).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the 6-table join with the
    customer-nation = supplier-nation correlation — the hardest join
    ordering in the small TPC-H set.

    Plan posture at scale: lineitem⋈orders⋈customer shuffle on their
    keys; supplier joins on (suppkey) then the nation/region dims
    broadcast; the c_nationkey = s_nationkey correlation is a residual
    equi-condition, not an extra shuffle. Fixture order dates span
    1995-2001, so the selective year is 1996 (reference Q5 uses 1994).
    """
    cu = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    one = F.lit(1).cast("decimal(18,2)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cu, o.o_custkey == cu.c_custkey)
        .join(
            su,
            (li.l_suppkey == su.s_suppkey)
            & (cu.c_nationkey == su.s_nationkey),
        )
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(price * (one - disc)).cast("double").alias("revenue"))
    )


def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): which customers returned the
    most revenue in a quarter — join + agg + global top-20.

    lineitem(R) ⋈ orders(quarter) ⋈ customer ⋈ broadcast(nation); the
    final top-20 runs as TakeOrderedAndProject (no full result sort).
    Fixture order dates span 1995-2001, so the quarter is 1996-Q1.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    one = F.lit(1).cast("decimal(18,2)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cu, o.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(price * (one - disc)).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


Q18_MIN_QTY = 250  # ≈ p99 of per-order quantity in the fixture


def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): HAVING-filtered aggregate
    feeding a semi-join — orders whose total quantity exceeds the
    threshold, with their customer and full quantity.

    The qualifying-keys aggregate is tiny (p99 cut), so it broadcasts
    into the semi-join; lineitem is scanned twice (qualify + re-agg),
    the standard Q18 shape — at scale the first pass is a partial agg
    whose output is keys only.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    qualifying = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(30,4)")).alias("q"))
        .filter(F.col("q") > Q18_MIN_QTY)
        .select("l_orderkey")
    )
    return (
        li.join(F.broadcast(qualifying), "l_orderkey", "left_semi")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(cu, o.o_custkey == cu.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(30,4)"))
            .cast("double")
            .alias("sum_qty")
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


def subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped correlated EXISTS (the fixtures lack commit/receipt
    dates, so the correlated predicate is ``l_shipdate > o_orderdate``).

    A correlated EXISTS with a non-equi conjunct is more than a plain
    semi join on keys: Catalyst plans it as a left-semi hash join with
    the inequality as a join residual — no subquery re-execution per
    row, one shuffle on the order key.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    shipped_late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return (
        shipped_late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subqueries through the SQL surface: parts
    priced above the global average.

    The comparison is the multiplication form ``price·n > sum`` in
    exact decimal — dividing would put a double rounding boundary
    between engines right where rows are kept or dropped. Catalyst
    plans the two scalar subqueries once each (ReusedSubquery), then
    broadcasts the 1-row results into the scan's filter.
    """
    return spark.sql(
        """
        SELECT p_partkey, p_name, p_retailprice
        FROM {part}
        WHERE CAST(p_retailprice AS DECIMAL(18,2))
              * (SELECT COUNT(*) FROM {part})
              > (SELECT SUM(CAST(p_retailprice AS DECIMAL(18,2)))
                 FROM {part})
        """,
        part=load_table(spark, sf_dir, "part"),
    )


def subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested IN + scalar subquery through the SQL surface: suppliers in
    EUROPE nations. Catalyst rewrites the IN to a semi join and the
    scalar to a broadcast 1-row filter — subqueries are plan sugar,
    not per-row re-execution."""
    return spark.sql(
        """
        SELECT s_suppkey, s_name, s_nationkey
        FROM {supplier}
        WHERE s_nationkey IN (
            SELECT n_nationkey FROM {nation}
            WHERE n_regionkey = (SELECT r_regionkey FROM {region}
                                 WHERE r_name = 'EUROPE')
        )
        """,
        supplier=load_table(spark, sf_dir, "supplier"),
        nation=load_table(spark, sf_dir, "nation"),
        region=load_table(spark, sf_dir, "region"),
    )


PRICE_BAND = 1.0  # range-join half-width; also the bucket width


def range_join_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric range self-join via bucket banding — the scalable plan
    for ``|a.value - b.value| <= band`` predicates Spark would otherwise
    execute as a nested-loop O(n·m) join.

    Bucket = ``floor(price / band)``; the probe side explodes to its own
    bucket ±1, the build side keeps one bucket, and the join becomes an
    equi-join on the bucket id followed by the exact band filter. Each
    qualifying pair matches in exactly one probe bucket (the build row's
    bucket is unique), so no dedup pass is needed. This is the same
    strategy range-join optimizers apply internally; at 100 TB it
    shuffles on a dense integer key instead of looping per row.
    """
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    probe = part.select(
        F.col("p_partkey").alias("a_key"),
        F.col("p_retailprice").alias("a_price"),
        F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("off"),
    ).select(
        "a_key",
        "a_price",
        (F.floor(F.col("a_price") / PRICE_BAND) + F.col("off")).alias("bucket"),
    )
    build = part.select(
        F.col("p_partkey").alias("b_key"),
        F.col("p_retailprice").alias("b_price"),
        F.floor(F.col("p_retailprice") / PRICE_BAND).alias("bucket"),
    )
    return (
        probe.join(build, "bucket")
        .filter(
            (F.col("a_key") < F.col("b_key"))
            & (F.abs(F.col("a_price") - F.col("b_price")) <= PRICE_BAND)
        )
        .select(
            "a_key",
            "b_key",
            "a_price",
            "b_price",
            (F.col("b_price") - F.col("a_price")).alias("price_delta"),
        )
    )


N_SALTS = 8


def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join via key salting — enrich every event with its
    type's total count.

    ``event_type`` has 5 values over 100k+ rows: a textbook skewed key.
    The fact side appends a deterministic salt (``xxhash64(event_id)
    mod 8``); the dim side replicates 8× (one row per salt); the join
    key becomes ``(event_type, salt)``, spreading each hot key over 8
    reducers. The oracle is the plain unsalted join — salting must not
    change semantics.

    WHEN to salt (decision rule, measured in SCALING.md "Skew posture"
    r9): salting costs ~1.5× when skew is absent, so it is the THIRD
    resort, applied only when the ``skew_stats`` diagnostic reports a
    hot key whose partition would exceed
    ``skewedPartitionThresholdInBytes`` (skew_ratio ≫ the
    skewedPartitionFactor, bytes above threshold) AND one of:
    (1) the dim cannot broadcast; (2) the plan shape disables AQE's
    splitter — a downstream operator reusing the join's partitioning,
    or a dim whose own partitioning already satisfies the join (both
    measured blockers, SCALING.md); (3) the consumer NEEDS the join's
    partitioning (split would break it, so AQE correctly won't).
    Otherwise leave it to AQE: the probe shows the splitter halving
    the skewed join's wall (0.84 → 0.40 s at ×16) exactly when the
    partition crosses the threshold.
    """
    ev = load_table(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(F.count("*").alias("n_type_events"))
    salted_fact = ev.select(
        "event_id",
        "event_type",
        F.pmod(F.xxhash64("event_id"), F.lit(N_SALTS)).alias("salt"),
    )
    salted_dim = dim.select(
        "event_type",
        "n_type_events",
        F.explode(F.array(*[F.lit(s) for s in range(N_SALTS)])).alias("salt"),
    )
    return salted_fact.join(salted_dim, ["event_type", "salt"]).select(
        "event_id", "event_type", "n_type_events"
    )


#: Bloom runtime filter: bits and hash count. m = 2^16 bits keeps the
#: false-positive rate under 1% for dim sides up to ~5k keys with k=3
#: hashes; at 100 TB you size m to the dim key count the same way —
#: the broadcast payload stays m bits regardless of fact size.
BLOOM_M = 1 << 16
BLOOM_SEEDS = (1, 2, 3)


def bloom_prune(fact: DataFrame, fact_key: str, dim: DataFrame,
                dim_key: str) -> DataFrame:
    """Prune ``fact`` to rows whose ``fact_key`` MAY appear in
    ``dim[dim_key]``, via a k-hash Bloom filter expressed relationally:
    the filter's set bit positions are a distinct (pos) relation per
    seed, and each probe is a broadcast LEFT SEMI join — map-side, no
    fact shuffle. Sound (never drops a true match); false positives at
    the configured m/k rate survive for a downstream exact join."""
    pruned = fact
    for s in BLOOM_SEEDS:
        bits = dim.select(
            F.pmod(F.xxhash64(F.col(dim_key), F.lit(s)), F.lit(BLOOM_M))
            .alias("pos")
        ).distinct()
        probe_pos = F.pmod(
            F.xxhash64(F.col(fact_key), F.lit(s)), F.lit(BLOOM_M)
        )
        pruned = pruned.join(
            F.broadcast(bits), probe_pos == bits.pos, "left_semi"
        )
    return pruned


def bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning: ASIA-customer order revenue
    by priority, with the fact side pre-filtered by a Bloom filter
    built from the dim side's join keys (NS1 scale pattern).

    The pattern Spark's own AQE runtime filters
    (``spark.sql.optimizer.runtimeFilter.bloomFilter.enabled``) inject
    automatically, expressed explicitly as dataflow: the selective dim
    side (customers in ASIA) is hashed k=3 ways into bit positions; the
    fact side (orders) computes the same positions and is pruned by k
    broadcast LEFT SEMI probes — all map-side, ZERO shuffle of the fact
    — before the exact join removes Bloom false positives. At 100 TB
    the win is that only ~1/5 of orders reach the exact join's
    shuffle, bought with an m-bit broadcast instead of broadcasting
    the (possibly huge) dim table itself. Semantically transparent:
    the oracle is the plain join+filter+aggregate.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    # persisted: four consumers (one bit relation per seed + the final
    # exact join) would otherwise each re-run the dim-side join chain
    dim = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .select("c_custkey")
        .persist()
    )
    pruned = bloom_prune(o, "o_custkey", dim, "c_custkey")
    agg = (
        pruned.join(dim, pruned.o_custkey == dim.c_custkey)  # exact: drops FPs
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )
    # materialize the priority-sized (≤5-row) result via collect, then
    # release the dim cache and return a JVM-side literal relation: no
    # persisted relation escapes the call (r11 advisor: the returned
    # .persist() was never unpersisted by any caller, pinning one
    # storage entry per invocation for the life of the session)
    rows = [
        (r["o_orderpriority"], r["n_orders"], r["revenue"])
        for r in agg.collect()
    ]
    dim.unpersist()
    return jvm_local_df(
        spark, rows, "o_orderpriority string, n_orders bigint, revenue double"
    )


#: spatial geometry: points live on a [0,1000)² plane at 0.1 resolution
#: (derived deterministically from user_id md5, so both engines place
#: every point identically); radius and grid pitch coincide so a 3×3
#: neighborhood provably covers every candidate pair.
GEO_SPAN = 10000  # 0.1-unit lattice points per axis
GEO_RADIUS = 15.0


def _geo_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic (x, y) point per distinct user."""
    ev = load_table(spark, sf_dir, "events")
    # a NULL user_id is no entity and gets no point (r11 adversarial
    # finding: the oracle's null-skipping concat('0x', md5(NULL))
    # would crash the BIGINT cast; Spark's conv(NULL) row would carry
    # NULL coordinates into the grid join)
    users = ev.filter(F.col("user_id").isNotNull()).select("user_id").distinct()
    hx = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    hy = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 9, 8), 16, 10
    ).cast("bigint")
    return users.select(
        "user_id",
        ((hx % GEO_SPAN).cast("double") / F.lit(10.0)).alias("x"),
        ((hy % GEO_SPAN).cast("double") / F.lit(10.0)).alias("y"),
    )


def grid_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius self-join via grid binning — all point pairs
    within GEO_RADIUS, without a cross join.

    The scale-defining trick: each point hashes to a ⌊x/R⌋×⌊y/R⌋ grid
    cell; since the cell pitch equals the radius, any pair within R
    lies in the same or an adjacent cell. One side explodes its 9-cell
    neighborhood (a constant ×9 fan-out, NOT ×N), the equi-join runs on
    the (cellx, celly) key — an ordinary hash-shuffle join Catalyst and
    AQE treat like any other — and the exact distance predicate prunes
    the candidates. At 100 TB this is the standard geospatial
    bin-and-verify plan; a naive crossJoin would be O(N²). user_id
    ordering dedups the symmetric pair. sqrt is IEEE-correctly-rounded,
    so the emitted distance is bit-identical across engines.
    """
    # fan_out: the md5-derived coordinates are compute-dense per row
    # and otherwise evaluate inside the one-task fixture scan
    pts = fan_out(_geo_points(spark, sf_dir))
    r = F.lit(GEO_RADIUS)
    cellx = F.floor(F.col("x") / r)
    celly = F.floor(F.col("y") / r)
    binned = pts.select(
        "user_id", "x", "y", cellx.alias("cx"), celly.alias("cy")
    )
    offsets = spark.range(9).select(
        (F.col("id") % 3 - 1).alias("ox"),
        ((F.col("id") / 3).cast("long") - 1).alias("oy"),
    )
    probe = binned.crossJoin(F.broadcast(offsets)).select(
        F.col("user_id").alias("user_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        (F.col("cx") + F.col("ox")).alias("cx"),
        (F.col("cy") + F.col("oy")).alias("cy"),
    )
    build = binned.select(
        F.col("user_id").alias("user_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        "cx",
        "cy",
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        probe.join(build, ["cx", "cy"])
        .filter(
            (F.col("user_a") < F.col("user_b"))
            & (d2 <= F.lit(GEO_RADIUS * GEO_RADIUS))
        )
        .select(
            "user_a", "user_b", F.sqrt(d2).alias("dist")
        )
    )


#: record-linkage blocking: candidates share c_custkey DIV 16 (the
#: "stable blocking key survives corruption" assumption every real
#: linkage pipeline makes). DIV, not MOD (r6): a modulus fixes the
#: NUMBER of blocks, so block population — and the block self-join —
#: grows quadratically with the corpus (the ×64 probe measured the old
#: mod-1000 plan at 13.7 s → 142.7 s for 4× data); a span fixes block
#: POPULATION at ≤ LINK_BLOCK_SPAN regardless of corpus size, so
#: candidate pairs stay ≤ SPAN × N — linear, the range-bucketing shape.
#: Edit distance above LINK_MAX_LEV is a non-match.
LINK_BLOCK_SPAN = 16
LINK_MAX_LEV = 2
#: corrupted character position: 1-based, derived from the key so the
#: oracle plants the identical dirt
_LINK_POS = "CAST(c_custkey % 8 + 2 AS INT)"


def record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: link corrupted records back to their clean
    master rows — plant → block → score → best-match.

    A deterministic one-character corruption builds the dirty side (the
    oracle plants byte-identical dirt). Candidate pairs come from an
    equi-join on the blocking key, NOT a cross join, and the key is a
    key-range SPAN (custkey DIV 16): block population is bounded at 16
    no matter how large the corpus, so the block join emits ≤ 16·N
    pairs — linear at 100 TB where a fixed-modulus key would go
    quadratic (measured: the ×64 probe caught mod-1000 at 10× wall for
    4× data; the span plan holds flat throughput). Exact
    ``levenshtein`` scores the survivors (JVM-side, no Python), and one
    row_number window keeps the best match per dirty record (min
    distance, key tiebreak).
    """
    c = load_table(spark, sf_dir, "customer")
    blk = F.expr(f"c_custkey DIV {LINK_BLOCK_SPAN}")
    # the folded scoring operands are projected HERE, once per input
    # row, not per candidate pair: a fold inside the post-join
    # withColumn ran the regexp ≤16× per row (the block fan-out) and
    # measured 2.2× on the full-sweep wall (r12)
    dirty = c.select(
        F.col("c_custkey").alias("d_key"),
        F.expr(
            f"concat(substring(c_name, 1, {_LINK_POS} - 1), 'x',"
            f" substring(c_name, {_LINK_POS} + 1))"
        ).alias("d_name"),
        blk.alias("blk"),
    ).withColumn(
        "d_fold", F.regexp_replace("d_name", "[^\\x00-\\x7F]", "?")
    )
    clean = c.select(
        "c_custkey",
        "c_name",
        blk.alias("blk"),
        F.regexp_replace("c_name", "[^\\x00-\\x7F]", "?").alias("c_fold"),
    )
    # thresholded levenshtein (returns -1 past the bound) abandons a
    # row as soon as the running distance exceeds LINK_MAX_LEV — the
    # oracle computes the full distance and filters; values agree on
    # every kept row. Both operands are ASCII-folded first (non-ASCII
    # codepoints → '?', the dedup_levenshtein normalization): Spark's
    # levenshtein counts CODEPOINTS where DuckDB's counts BYTES, so an
    # unfolded multibyte name scores 1 vs 2 when the corrupted char is
    # multibyte ('x' replaces a 2-byte 'ü') — folding makes
    # byte == codepoint and the engines agree exactly (r12 joins
    # review; pinned by the planted position-9-'ü' customer)
    # pin the block join's partitioning: the blk shuffle is only a few
    # MB, so AQE coalesces it to one partition and the ≤16·N pair
    # explosion + levenshtein DP ran serial (~0.9 s at sf0.1,
    # tools/parallelcheck.py). An explicit keyed repartition is exempt
    # from AQE coalescing and satisfies the join's distribution, so no
    # extra exchange is added.
    dirty = dirty.repartition(
        spark.sparkContext.defaultParallelism, "blk"
    )
    cand = (
        dirty.join(clean, "blk")
        .withColumn(
            "lev",
            F.levenshtein("d_fold", "c_fold", LINK_MAX_LEV).cast("int"),
        )
        .filter((F.col("lev") >= 0) & (F.col("lev") <= LINK_MAX_LEV))
    )
    w = W.partitionBy("d_key").orderBy("lev", "c_custkey")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("d_key", "d_name", "c_custkey", "c_name", "lev")
    )


QUERIES = {
    "join_inner": join_inner,
    "join_broadcast": join_broadcast,
    "join_left": join_left,
    "join_semi": join_semi,
    "join_anti": join_anti,
    "join_star": join_star,
    "asof_join": asof_join,
    "range_join_banded": range_join_banded,
    "join_skew_salted": join_skew_salted,
    "tpch_q3": tpch_q3,
    "tpch_q5": tpch_q5,
    "tpch_q10": tpch_q10,
    "tpch_q18": tpch_q18,
    "subquery_exists": subquery_exists,
    "subquery_scalar": subquery_scalar,
    "subquery_in": subquery_in,
    "bloom_join_prune": bloom_join_prune,
    "grid_radius_join": grid_radius_join,
    "record_linkage": record_linkage,
    "join_null_safe": join_null_safe,
    "asof_nearest": asof_nearest,
}

_GEO_PTS_CTE = f"""
    pts AS (
        SELECT user_id,
               CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                                             1, 8)) AS BIGINT)
                    % {GEO_SPAN} AS DOUBLE) / 10.0 AS x,
               CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                                             9, 8)) AS BIGINT)
                    % {GEO_SPAN} AS DOUBLE) / 10.0 AS y
        FROM (SELECT DISTINCT user_id FROM events
              WHERE user_id IS NOT NULL)
    )
"""

ORACLE = {
    "join_null_safe": """
        WITH lft AS (
            SELECT event_id,
                   -- TRY_CAST (r12 overflow plant): the engine's
                   -- string-path cast('9…9' AS BIGINT) nulls an int64
                   -- overflow; DuckDB renders the overflowed JSON
                   -- number as a DOUBLE string and a bare CAST crashes
                   CASE WHEN event_id % 7 = 0
                        THEN TRY_CAST(props->>'$.k' AS BIGINT) % 5
                        END AS k
            FROM events
        ),
        dim AS (
            SELECT CAST(i AS BIGINT) AS k,
                   'bucket_' || CAST(i AS VARCHAR) AS label
            FROM (SELECT unnest(range(5)) AS i)
            UNION ALL
            SELECT NULL, 'bucket_null'
        )
        SELECT l.event_id, l.k, d.label
        FROM lft l JOIN dim d ON l.k IS NOT DISTINCT FROM d.k
    """,
    "asof_nearest": """
        WITH views AS (
            SELECT user_id, ts, MAX(event_id) AS view_event_id
            FROM events WHERE event_type = 'view' AND ts IS NOT NULL
            GROUP BY user_id, ts
        ),
        purchases AS (
            SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'purchase' AND ts IS NOT NULL
        ),
        tagged AS (
            SELECT user_id, ts, 0 AS kind,
                   CAST(NULL AS BIGINT) AS event_id, view_event_id
            FROM views
            UNION ALL
            SELECT user_id, ts, 1, event_id, NULL FROM purchases
        ),
        marked AS (
            SELECT *,
                   LAST_VALUE(view_event_id IGNORE NULLS) OVER wb AS prev_id,
                   LAST_VALUE(CASE WHEN kind = 0 THEN ts END IGNORE NULLS)
                       OVER wb AS prev_ts,
                   FIRST_VALUE(view_event_id IGNORE NULLS) OVER wf AS next_id,
                   FIRST_VALUE(CASE WHEN kind = 0 THEN ts END IGNORE NULLS)
                       OVER wf AS next_ts
            FROM tagged
            WINDOW wb AS (
                PARTITION BY user_id ORDER BY ts ASC, kind ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ),
            wf AS (
                PARTITION BY user_id ORDER BY ts ASC, kind ASC
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
            )
        )
        SELECT event_id, user_id, ts,
               CASE WHEN next_ts IS NULL OR (prev_ts IS NOT NULL AND
                         epoch_us(ts) - epoch_us(prev_ts)
                         <= epoch_us(next_ts) - epoch_us(ts))
                    THEN prev_id ELSE next_id END AS view_event_id,
               CASE WHEN next_ts IS NULL OR (prev_ts IS NOT NULL AND
                         epoch_us(ts) - epoch_us(prev_ts)
                         <= epoch_us(next_ts) - epoch_us(ts))
                    THEN epoch_us(ts) - epoch_us(prev_ts)
                    ELSE -(epoch_us(next_ts) - epoch_us(ts)) END
                   AS signed_gap_us
        FROM marked WHERE kind = 1
    """,
    "record_linkage": f"""
        WITH dirty AS (
            SELECT c_custkey AS d_key,
                   substr(c_name, 1, {_LINK_POS} - 1) || 'x' ||
                   substr(c_name, {_LINK_POS} + 1) AS d_name,
                   c_custkey // {LINK_BLOCK_SPAN} AS blk
            FROM customer
        ),
        clean AS (
            SELECT c_custkey, c_name,
                   c_custkey // {LINK_BLOCK_SPAN} AS blk
            FROM customer
        ),
        cand AS (
            -- ASCII-fold before scoring (mirrors the engine): DuckDB's
            -- levenshtein counts BYTES, Spark's counts CODEPOINTS —
            -- identical only when byte == codepoint, which the fold
            -- guarantees
            SELECT d.d_key, d.d_name, c.c_custkey, c.c_name,
                   CAST(levenshtein(
                       regexp_replace(d.d_name, '[^\\x00-\\x7F]', '?', 'g'),
                       regexp_replace(c.c_name, '[^\\x00-\\x7F]', '?', 'g')
                   ) AS INT) AS lev
            FROM dirty d JOIN clean c USING (blk)
            WHERE levenshtein(
                      regexp_replace(d.d_name, '[^\\x00-\\x7F]', '?', 'g'),
                      regexp_replace(c.c_name, '[^\\x00-\\x7F]', '?', 'g')
                  ) <= {LINK_MAX_LEV}
        )
        SELECT d_key, d_name, c_custkey, c_name, lev
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY d_key ORDER BY lev, c_custkey) AS rn
            FROM cand
        ) WHERE rn = 1
    """,
    "grid_radius_join": f"""
        WITH {_GEO_PTS_CTE.strip()}
        SELECT a.user_id AS user_a, b.user_id AS user_b,
               sqrt((a.x - b.x) * (a.x - b.x) +
                    (a.y - b.y) * (a.y - b.y)) AS dist
        FROM pts a JOIN pts b ON a.user_id < b.user_id
        WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
              <= {GEO_RADIUS * GEO_RADIUS!r}
    """,
    "bloom_join_prune": """
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY o_orderpriority
    """,
    "join_inner": """
        SELECT o_orderkey, o_totalprice, c_custkey, c_name, c_mktsegment
        FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    "join_broadcast": """
        SELECT n_nationkey, n_name, r_name
        FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
    "join_left": """
        SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey, c_name
    """,
    "join_semi": """
        SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "join_anti": """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "tpch_q3": """
        SELECT o_orderkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                    AS DOUBLE) AS revenue,
               o_orderdate, o_orderpriority
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-03-15'
          AND l_shipdate > TIMESTAMP '1995-03-15'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC NULLS LAST, o_orderkey
        LIMIT 10
    """,
    "range_join_banded": """
        SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
               a.p_retailprice AS a_price, b.p_retailprice AS b_price,
               b.p_retailprice - a.p_retailprice AS price_delta
        FROM part a JOIN part b
          ON a.p_partkey < b.p_partkey
         AND abs(a.p_retailprice - b.p_retailprice) <= 1.0
    """,
    "tpch_q5": """
        SELECT n_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2))
                           - CAST(l_discount AS DECIMAL(18,2))))
                    AS DOUBLE) AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey
          AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey
          AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey
          AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name
    """,
    "tpch_q10": """
        SELECT c_custkey, c_name, revenue, c_acctbal, n_name
        FROM (
            SELECT c_custkey, c_name, c_acctbal, n_name,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (CAST(1 AS DECIMAL(18,2))
                               - CAST(l_discount AS DECIMAL(18,2))))
                        AS DOUBLE) AS revenue
            FROM customer, orders, lineitem, nation
            WHERE c_custkey = o_custkey
              AND l_orderkey = o_orderkey
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-04-01'
              AND l_returnflag = 'R'
              AND c_nationkey = n_nationkey
            GROUP BY c_custkey, c_name, c_acctbal, n_name
        )
        ORDER BY revenue DESC NULLS LAST, c_custkey
        LIMIT 20
    """,
    "tpch_q18": """
        SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
               CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE)
                   AS sum_qty
        FROM customer, orders, lineitem
        WHERE o_orderkey IN (
                SELECT l_orderkey FROM lineitem
                GROUP BY l_orderkey
                HAVING SUM(CAST(l_quantity AS DECIMAL(30,4))) > 250)
          AND c_custkey = o_custkey
          AND o_orderkey = l_orderkey
        GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC NULLS LAST, o_orderkey
        LIMIT 100
    """,
    "join_skew_salted": """
        SELECT e.event_id, e.event_type, c.n_type_events
        FROM events e
        JOIN (SELECT event_type, COUNT(*) AS n_type_events
              FROM events GROUP BY event_type) c
          USING (event_type)
    """,
    "asof_join": """
        WITH v AS (
            SELECT user_id, ts, MAX(event_id) AS view_event_id
            FROM events WHERE event_type = 'view' AND ts IS NOT NULL
            GROUP BY user_id, ts
        ),
        p AS (
            SELECT event_id, user_id, ts
            FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
        )
        SELECT p.event_id, p.user_id, p.ts,
               v.view_event_id, v.ts AS view_ts,
               date_diff('microsecond', v.ts, p.ts) AS gap_us
        FROM p ASOF LEFT JOIN v
          ON p.user_id = v.user_id AND v.ts <= p.ts
    """,
    "join_star": """
        SELECT r_name AS region_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                    AS DOUBLE) AS revenue,
               COUNT(*) AS n_lineitems
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
    "subquery_exists": """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
    """,
    "subquery_scalar": """
        SELECT p_partkey, p_name, p_retailprice
        FROM part
        WHERE CAST(p_retailprice AS DECIMAL(18,2))
              * (SELECT COUNT(*) FROM part)
              > (SELECT SUM(CAST(p_retailprice AS DECIMAL(18,2))) FROM part)
    """,
    "subquery_in": """
        SELECT s_suppkey, s_name, s_nationkey
        FROM supplier
        WHERE s_nationkey IN (
            SELECT n_nationkey FROM nation
            WHERE n_regionkey = (SELECT r_regionkey FROM region
                                 WHERE r_name = 'EUROPE')
        )
    """,
}
