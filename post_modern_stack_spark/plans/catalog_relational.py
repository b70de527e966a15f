"""Relational operator queries over the TPC-H-ish tables
(SURVEY.md §2 A1-A17, E2/E3 exercised at classic relational scale).

Plan hygiene per query (verified via .explain("formatted")):
- filters/projections reach the parquet scan (PushedFilters/ReadSchema);
- dimension joins broadcast (region/nation/customer/part ≪ fact side);
- aggregates run partial+final; top-K windows use WindowGroupLimit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from post_modern_stack_spark.functions.core import cents, sum128
from post_modern_stack_spark.plans.entryflow import query
from post_modern_stack_spark.registry import load_table


@query(
    "pricing_summary",
    oracle="""
    WITH li AS (
        SELECT l_returnflag, l_linestatus, l_quantity,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
               CAST(round(l_discount * 100) AS BIGINT)      AS disc_c,
               CAST(round(l_tax * 100) AS BIGINT)           AS tax_c
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-01-01 00:00:00'
    )
    SELECT l_returnflag,
           l_linestatus,
           round(sum(l_quantity), 2)                              AS sum_qty,
           round(sum(price_c) / 100.0, 2)                         AS sum_base_price,
           round(sum(price_c * (100 - disc_c)) / 10000.0, 2)      AS sum_disc_price,
           round(sum(price_c * (100 - disc_c) * (100 + tax_c)) / 1000000.0, 2)
                                                                  AS sum_charge,
           round(avg(l_quantity), 4)                              AS avg_qty,
           round(sum(price_c) / 100.0 / count(*), 4)              AS avg_price,
           round(sum(disc_c) / 100.0 / count(*), 4)               AS avg_disc,
           count(*)                                               AS count_order
    FROM li
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → pushed filter → hash agg (A3/A8/A10).

    The classic partial-aggregate showcase: ~6 output groups mean the
    map-side combine collapses virtually all rows before the shuffle.

    Money aggregates run on exact integer cents (``functions.core.
    cents``): double sums of 2dp/4dp/6dp fixed-point totals depend on
    partial-merge order and can flip a boundary rounding between runs
    (NOTES_r5 landmine); integer sums are order-independent and exact.
    PRODUCT sums (disc_price, charge) accumulate as decimal(38,0)
    int128 (``functions.core.sum128``): per-row products fit int64 but
    a 100 TB group sum does not (triple product overflows long near
    8e7 rows/group — an ANSI runtime ARITHMETIC_OVERFLOW on Spark,
    where DuckDB widens to HUGEINT). l_quantity is integer-valued, so
    its double sum is already exact (< 2^53).
    """
    li = load_table(spark, sf_dir, "lineitem")
    price_c, disc_c, tax_c = (
        cents("l_extendedprice"),
        cents("l_discount"),
        cents("l_tax"),
    )
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-01-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(price_c) / 100.0, 2).alias("sum_base_price"),
            F.round(sum128(price_c * (100 - disc_c)) / 10000.0, 2).alias(
                "sum_disc_price"
            ),
            F.round(
                sum128(price_c * (100 - disc_c) * (100 + tax_c)) / 1000000.0, 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.sum(price_c) / 100.0 / F.count(F.lit(1)), 4).alias("avg_price"),
            F.round(F.sum(disc_c) / 100.0 / F.count(F.lit(1)), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "top_customers",
    oracle="""
    SELECT c.c_custkey,
           c.c_name,
           round(sum(o.o_totalprice), 2) AS revenue,
           count(*)                      AS n_orders,
           row_number() OVER (ORDER BY round(sum(o.o_totalprice), 2) DESC, c.c_custkey) AS rank
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    QUALIFY rank <= 10
    """,
)
def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast equi-join + agg + deterministic top-K (A6/A8/E2).

    Ranks on the ROUNDED revenue with c_custkey tie-break so engine and
    oracle order identically even under double summation-order drift.
    The final rank window is global but runs over customer-grain rows
    (fact table already aggregated away) — WindowGroupLimit keeps only
    10 rows per partition before the single-partition sort.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    agg = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    w = Window.orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return agg.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 10)


@query(
    "regional_revenue",
    oracle="""
    SELECT r.r_name,
           round(sum(o.o_totalprice), 2) AS revenue,
           count(*)                      AS n_orders,
           count(DISTINCT c.c_custkey)   AS n_customers
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    GROUP BY r.r_name
    """,
)
def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-join rollup (A6 chain): every dimension broadcasts, the
    orders fact never shuffles until the final 5-group aggregate."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
            F.count_distinct(F.col("c_custkey")).alias("n_customers"),
        )
    )


@query(
    "brand_revenue",
    oracle="""
    SELECT p.p_brand,
           round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                 / 10000.0, 2)                                   AS revenue,
           round(sum(CAST(round(l.l_discount * 100) AS BIGINT))
                 / 100.0 / count(*), 4)                          AS avg_discount,
           count(*)                                              AS n_items
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def q_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-dimension broadcast join over the widest fact table;
    revenue expression stays inside whole-stage codegen."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            # exact cents math: see pricing_summary / functions.core.cents
            F.round(
                sum128(cents("l_extendedprice") * (100 - cents("l_discount")))
                / 10000.0,
                2,
            ).alias("revenue"),
            F.round(F.sum(cents("l_discount")) / 100.0 / F.count(F.lit(1)), 4).alias(
                "avg_discount"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "order_priority_count",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
      AND o_orderstatus IN ('F', 'O')
    GROUP BY o_orderpriority
    """,
)
def q_order_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-open date-range + IN-list predicates (A11/A13) — both push
    down to the parquet scan (min/max row-group skipping)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
            & F.col("o_orderstatus").isin("F", "O")
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) / 10000.0, 2) AS revenue,
           strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d')     AS orderdate,
           o.o_orderpriority,
           row_number() OVER (
             ORDER BY round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) / 10000.0, 2) DESC,
                      l.l_orderkey) AS rank
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1999-06-01 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1999-06-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    QUALIFY rank <= 10
    """,
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension filter broadcast into a
    two-fact join chain, then grouped revenue + deterministic top-10.
    The c_mktsegment filter prunes the customer build side before
    broadcast; both date predicates push to the fact scans."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-06-01 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1999-06-01 00:00:00").cast("timestamp")
    )
    agg = (
        li.join(F.broadcast(o.join(F.broadcast(c), o.o_custkey == c.c_custkey)),
                li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                sum128(cents("l_extendedprice") * (100 - cents("l_discount")))
                / 10000.0,
                2,
            ).alias("revenue")
        )
    )
    w = Window.orderBy(F.desc("revenue"), F.asc("l_orderkey"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
            "rank",
        )
    )


@query(
    "returned_items_by_nation",
    oracle="""
    SELECT n.n_name,
           round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) / 10000.0, 2) AS lost_revenue,
           count(DISTINCT c.c_custkey)                           AS n_customers,
           count(*)                                              AS n_items
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY n.n_name
    """,
)
def q_returned_items_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-items rollup through a 4-table chain.
    orders is the only non-broadcastable side at real scale — at sf it
    broadcasts too; the plan keeps lineitem (widest) shuffle-free."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                sum128(cents("l_extendedprice") * (100 - cents("l_discount")))
                / 10000.0,
                2,
            ).alias("lost_revenue"),
            F.count_distinct("c_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "customer_order_gaps",
    oracle="""
    SELECT o_custkey,
           count(*) AS n_orders,
           round(avg(epoch_ms(o_orderdate)
                     - lag_ms), 2) AS avg_gap_ms
    FROM (
      SELECT o_custkey, o_orderdate,
             lag(epoch_ms(o_orderdate)) OVER (PARTITION BY o_custkey
                                              ORDER BY o_orderdate, o_orderkey)
               AS lag_ms
      FROM orders
    )
    GROUP BY o_custkey
    """,
)
def q_customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead analytic family (A9 generalization): inter-order gap
    per customer — lag window then grouped average. One shuffle, reused
    by both the window and the aggregation (same key)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    # o_orderdate is TIMESTAMP_NTZ; unix_millis needs TIMESTAMP — the
    # cast is wall-clock-preserving under the pinned UTC session tz,
    # matching DuckDB's epoch_ms on the ntz value.
    od_ms = F.unix_millis(F.col("o_orderdate").cast("timestamp"))
    with_lag = o.select(
        "o_custkey",
        od_ms.alias("od_ms"),
        F.lag(od_ms).over(w).alias("lag_ms"),
    )
    return with_lag.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.avg(F.col("od_ms") - F.col("lag_ms")), 2).alias("avg_gap_ms"),
    )


@query(
    "order_priority_exists",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '2000-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > TIMESTAMP '2000-06-01 00:00:00')
    GROUP BY o.o_orderpriority
    """,
)
def q_order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → ``left_semi`` join. The semi-join
    carries no payload columns from the probe side and deduplicates
    during the join itself — never a join-then-distinct."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("2000-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("2000-06-01 00:00:00").cast("timestamp")
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "customers_without_orders",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_mktsegment
    """,
)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated NOT EXISTS with a build-side predicate →
    filter-then-``left_anti`` (TPC-H Q22 family).

    Originally "customers with no orders at all", but the synthetic
    data gives every customer at least one order — the round-1 green
    row matched on 0 rows (vacuous, same class VERDICT round 3 flagged
    on sql_param_extract). Scoped to '1-URGENT' orders the anti-join
    has real survivors at every SF (203 at sf0.01), so the next driver
    row value-checks the anti-join semantics. The predicate lands on
    the build side BEFORE the join — at 100 TB the anti-join's
    build/shuffle carries only urgent orders' custkeys.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "priority_shipmode_counts",
    oracle="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '2000-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def q_priority_shipmode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional aggregation (CASE inside sum) —
    two complementary counts in one pass, no second scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-01-01 00:00:00").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "promo_revenue_ratio",
    oracle="""
    SELECT round(CAST(100.0 AS DOUBLE)
                 * sum(CASE WHEN p_type LIKE 'PROMO%%'
                            THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                                 * (100 - CAST(round(l_discount * 100) AS BIGINT))
                            ELSE 0 END)
                 / sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(round(l_discount * 100) AS BIGINT))),
                 4) AS promo_pct
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1999-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1999-09-01 00:00:00'
    """,
)
def q_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: ratio of conditional to total aggregate in a
    single aggregation (LIKE-prefix predicate inside the CASE).

    Both sums run on exact scaled-integer revenue (the 1e-4 scale
    cancels in the ratio), so the quotient is a deterministic double —
    a ratio of two 4dp totals CAN land exactly on a 4dp rounding
    boundary, where merge-order noise would flip the digit."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-09-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev_c = cents("l_extendedprice") * (100 - cents("l_discount"))
    promo = F.col("p_type").startswith("PROMO")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * sum128(F.when(promo, rev_c).otherwise(F.lit(0).cast("long")))
                / sum128(rev_c),
                4,
            ).alias("promo_pct")
        )
    )


@query(
    "small_quantity_orders",
    oracle="""
    WITH part_avg AS (
      SELECT l_partkey, 0.5 * avg(l_quantity) AS half_avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT count(*)                       AS n_small_lines,
           round(sum(l.l_extendedprice), 2) AS blocked_revenue
    FROM lineitem l
    JOIN part_avg pa ON pa.l_partkey = l.l_partkey
    WHERE l.l_quantity < pa.half_avg_qty
    """,
)
def q_small_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    threshold) decorrelated into an aggregate + self-join — the
    classic rewrite Catalyst expects; threshold side is the small
    aggregated frame, so it broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    part_avg = li.groupBy("l_partkey").agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg_qty")
    )
    return (
        li.join(F.broadcast(part_avg), "l_partkey")
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            F.count(F.lit(1)).alias("n_small_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("blocked_revenue"),
        )
    )


@query(
    "revenue_rollup",
    oracle="""
    SELECT coalesce(r.r_name, 'ALL')  AS region,
           coalesce(n.n_name, 'ALL')  AS nation,
           round(sum(o.o_totalprice), 2) AS revenue,
           count(*)                   AS n_orders
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level aggregation: ROLLUP(region, nation) produces
    per-nation, per-region, and grand-total rows in ONE pass (Catalyst
    Expand) instead of three scans + union."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            "revenue",
            "n_orders",
        )
    )


@query(
    "status_priority_cube",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL')    AS status,
           coalesce(o_orderpriority, 'ALL')  AS priority,
           count(*)                          AS n_orders,
           round(sum(o_totalprice), 2)       AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_status_priority_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE companion to revenue_rollup: all four grouping-set grains
    (status×priority, status, priority, grand total) from one Expand
    pass — the full cross-dimensional rollup without four scans."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n_orders",
            "revenue",
        )
    )


@query(
    "orders_vs_lineitem_custkeys",
    oracle="""
    SELECT 'both' AS bucket, count(*) AS n FROM (
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
      INTERSECT
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
    )
    UNION ALL
    SELECT 'f_only' AS bucket, count(*) AS n FROM (
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
      EXCEPT
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
    )
    """,
)
def q_orders_vs_lineitem_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators: INTERSECT / EXCEPT over key sets + UNION ALL of
    the bucketed counts (Catalyst plans these as semi/anti joins)."""
    o = load_table(spark, sf_dir, "orders")
    f_keys = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    o_keys = o.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    both = f_keys.intersect(o_keys).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("both").alias("bucket"), "n"
    )
    f_only = f_keys.exceptAll(o_keys).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("f_only").alias("bucket"), "n"
    )
    return both.unionAll(f_only)


@query(
    "supplier_balance_rank",
    oracle="""
    SELECT n.n_name,
           s.s_name,
           round(s.s_acctbal, 2) AS acctbal,
           row_number() OVER (PARTITION BY n.n_name
                              ORDER BY round(s.s_acctbal, 2) DESC, s.s_suppkey) AS rank
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    QUALIFY rank <= 3
    """,
)
def q_supplier_balance_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-K via row_number window (E2 relational form)."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    joined = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "n_name", "s_name", F.round(F.col("s_acctbal"), 2).alias("acctbal"), "s_suppkey"
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("acctbal"), F.asc("s_suppkey"))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("n_name", "s_name", "acctbal", "rank")
    )


@query(
    "nation_volume_shipping",
    oracle="""
    SELECT n1.n_name                                         AS supp_nation,
           n2.n_name                                         AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT)                AS l_year,
           round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) / 10000.0, 2) AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders   o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation  n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation  n2 ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31 23:59:59'
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q_nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: fact ⋈ two independent dimension chains with a
    cross-pair predicate, grouped by (nation, nation, year).

    Scale shape: both nation joins broadcast; the nation-pair disjunction
    is applied AFTER the broadcasts so it never blocks pushdown of the
    shipdate range (which reaches the lineitem scan). orders⋈lineitem is
    the only shuffle pair — at 100 TB that is the co-partition/bucketing
    candidate (sources/layout.write_bucketed).
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    lo = (
        li.filter(
            F.col("l_shipdate").between("1995-01-01", "1996-12-31 23:59:59")
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return lo.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
    ).agg(
        F.round(
            sum128(cents("l_extendedprice") * (100 - cents("l_discount"))) / 10000.0, 2
        ).alias(
            "revenue"
        )
    )


@query(
    "large_volume_customers",
    oracle="""
    SELECT c.c_name,
           c.c_custkey,
           o.o_orderkey,
           strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d') AS orderdate,
           round(o.o_totalprice, 2)                          AS totalprice,
           round(sum(l.l_quantity), 2)                       AS sum_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 300
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, orderdate, totalprice
    """,
)
def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered IN-subquery over the fact table,
    re-joined to dimensions.

    Spark-first: the subquery is the same lineitem aggregate — compute
    it once, filter (> 300 collapses it to a tiny key set), and
    broadcast it as a semi-join filter into the fact join, so the big
    side is scanned once and never shuffled against itself.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__q"))
        .filter(F.col("__q") > 300)
        .select("l_orderkey")
    )
    return (
        li.join(F.broadcast(big_orders), "l_orderkey", "left_semi")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
        )
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


@query(
    "min_cost_supplier",
    oracle="""
    WITH costs AS (
      SELECT l_partkey,
             l_suppkey,
             round(l_extendedprice / l_quantity, 6) AS unit_cost
      FROM lineitem
    ),
    min_costs AS (
      SELECT l_partkey, min(unit_cost) AS min_cost
      FROM costs GROUP BY l_partkey
    )
    SELECT p.p_partkey, p.p_brand, s.s_name, c.unit_cost AS min_cost
    FROM costs c
    JOIN min_costs m ON c.l_partkey = m.l_partkey AND c.unit_cost = m.min_cost
    JOIN part p ON p.p_partkey = c.l_partkey
    JOIN supplier s ON s.s_suppkey = c.l_suppkey
    WHERE p.p_size <= 5
    """,
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated MIN subquery (the supplier achieving
    each part's minimum unit cost), decorrelated into an aggregate +
    equi-join (reference has no hand-written decorrelation — dbt/
    Snowflake planners do this; SURVEY.md §2 A-family).

    Spark-first: the correlated `= (SELECT min(..) WHERE pk = outer.pk)`
    becomes groupBy(partkey).min() re-joined on (partkey, cost): one
    shuffle on l_partkey feeds BOTH the aggregate and the probe side
    (same key → AQE reuses the exchange), and the part/supplier dims
    broadcast. Unit cost rounds to 6dp on both sides so the float
    equality join matches the oracle bit-for-bit.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    s = load_table(spark, sf_dir, "supplier")
    costs = li.select(
        "l_partkey",
        "l_suppkey",
        F.round(F.col("l_extendedprice") / F.col("l_quantity"), 6).alias("unit_cost"),
    )
    # aliased output columns: a self-derived join on same-named columns
    # would lean on Spark's ambiguous-self-join disambiguation (and log
    # a "trivially true predicate" warning); distinct names are robust
    min_costs = costs.groupBy("l_partkey").agg(
        F.min("unit_cost").alias("mc_min_cost")
    ).select(F.col("l_partkey").alias("mc_partkey"), "mc_min_cost")
    return (
        costs.join(
            min_costs,
            (F.col("l_partkey") == F.col("mc_partkey"))
            & (F.col("unit_cost") == F.col("mc_min_cost")),
        )
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            F.col("unit_cost").alias("min_cost"),
        )
    )


@query(
    "part_value_share",
    oracle="""
    SELECT l_partkey,
           round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0, 2) AS part_value
    FROM lineitem
    GROUP BY l_partkey
    HAVING round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0, 2) >
           (SELECT round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                                  * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                              AS DOUBLE)
                         / 10000.0 * CAST(0.0005 AS DOUBLE), 2)
            FROM lineitem)
    """,
)
def q_part_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: HAVING against a global scalar subquery (share-
    of-total threshold).

    Spark-first: the scalar total is its own tiny aggregate, attached
    via a broadcast nested-loop cross join of ONE row — the fact table
    aggregates once per grouping, never twice, and AQE reuses the
    scan. At 100 TB the per-part aggregate is the only shuffle; the
    threshold compare is map-side against the broadcast scalar.
    """
    li = load_table(spark, sf_dir, "lineitem")
    value_c = cents("l_extendedprice") * (100 - cents("l_discount"))
    # both compare sides are exact scaled-integer sums, so the
    # threshold compare is between deterministic doubles — membership
    # cannot flip on merge-order drift on either engine
    per_part = li.groupBy("l_partkey").agg(
        F.round(sum128(value_c) / 10000.0, 2).alias("__v")
    )
    total = li.agg(
        F.round(sum128(value_c) / 10000.0 * F.lit(0.0005), 2).alias("__threshold")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("__v") > F.col("__threshold"))
        .select("l_partkey", F.col("__v").alias("part_value"))
    )


@query(
    "top_revenue_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey,
             round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0, 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM revenue r
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: scalar MAX over an aggregated view, selecting
    the row(s) that achieve it.

    Spark-first: the revenue "view" is one shuffled aggregate; the MAX
    is a single-row broadcast joined back as an equality filter —
    Spark computes `revenue` once per branch but the quarter filter is
    pushed into both scans, so the duplicate work is one pruned scan +
    partial agg, not a self-join of shuffles. Revenue rounds to 2dp
    before MAX so ties and the float equality match the oracle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(
            sum128(cents("l_extendedprice") * (100 - cents("l_discount"))) / 10000.0, 2
        ).alias(
                "total_revenue"
            )
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("__max"))
    return (
        revenue.join(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("__max"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "brand_supplier_counts",
    oracle="""
    SELECT p.p_brand,
           p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND l.l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
          )
    GROUP BY p.p_brand, p.p_size
    """,
)
def q_brand_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN subquery (excluded-supplier list) +
    COUNT(DISTINCT) grouped by dimension attributes.

    Spark-first: NOT IN over a non-nullable key column is a broadcast
    left_anti join (no null-semantics trap: s_suppkey is a PK).
    COUNT(DISTINCT suppkey) expands to a two-phase partial-distinct
    aggregate — Spark dedups (brand, size, suppkey) map-side before
    the shuffle, so distinct-counting survives 100 TB fact tables.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#1")
    bad_supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(
            F.broadcast(bad_supp),
            li.l_suppkey == bad_supp.s_suppkey,
            "left_anti",
        )
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "heavy_part_suppliers",
    oracle="""
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small %')
      GROUP BY l_suppkey
      HAVING sum(l_quantity) > 50
    )
    """,
)
def q_heavy_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested IN-subquery chain (part-name filter → fact
    aggregate with HAVING → supplier semi-join).

    Spark-first: each IN level is a semi-join — the part-name filter
    broadcasts into the fact scan as a left_semi (pruning before the
    aggregate shuffle), and the HAVING-qualified supplier keys
    broadcast into the supplier dim. The fact table is touched once.
    """
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small %"))
        .select("p_partkey")
    )
    heavy = (
        li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("__q"))
        .filter(F.col("__q") > 50)
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(heavy), s.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


@query(
    "sole_latest_shipper",
    oracle="""
    WITH supp_ship AS (
      SELECT l_orderkey, l_suppkey, max(l_shipdate) AS last_ship
      FROM lineitem
      GROUP BY l_orderkey, l_suppkey
    )
    SELECT t.l_suppkey AS s_suppkey, count(*) AS numwait
    FROM supp_ship t
    WHERE EXISTS (
            SELECT 1 FROM supp_ship o
            WHERE o.l_orderkey = t.l_orderkey AND o.l_suppkey <> t.l_suppkey
          )
      AND NOT EXISTS (
            SELECT 1 FROM supp_ship o
            WHERE o.l_orderkey = t.l_orderkey AND o.l_suppkey <> t.l_suppkey
              AND o.last_ship >= t.last_ship
          )
    GROUP BY t.l_suppkey
    """,
)
def q_sole_latest_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + correlated NOT EXISTS over a self-
    joined fact derivative (the supplier who strictly last-shipped each
    multi-supplier order).

    Spark-first: both correlated quantifiers collapse into window
    functions over (orderkey) — supplier count and max-ship-date per
    order decide EXISTS/NOT EXISTS without any self-join. Physical
    cost: two data-bearing exchanges — the (orderkey, suppkey)
    aggregate (map-side combined, ~lines-per-supplier-order reduction)
    and the orderkey re-distribution for the window (agg-grain rows,
    already reduced) — plus a tiny supplier-grain final agg. A
    self-join formulation would instead shuffle the fact derivative
    twice AND join it; the window form halves the probe-side traffic.
    The semantics match the quantifier pair: keep rows whose order has
    >1 supplier AND whose last_ship is strictly greater than every
    other supplier's.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supp_ship = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("last_ship")
    )
    w = Window.partitionBy("l_orderkey")
    flagged = supp_ship.select(
        "l_orderkey",
        "l_suppkey",
        "last_ship",
        F.count(F.lit(1)).over(w).alias("__n_supp"),
        F.max("last_ship").over(w).alias("__max_ship"),
        F.sum(
            (F.col("last_ship") == F.max("last_ship").over(w)).cast("int")
        ).over(w).alias("__n_at_max"),
    )
    return (
        flagged.filter(
            (F.col("__n_supp") > 1)
            & (F.col("last_ship") == F.col("__max_ship"))
            & (F.col("__n_at_max") == 1)
        )
        .groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "rich_idle_customers",
    oracle="""
    SELECT c.c_nationkey,
           count(*)                 AS numcust,
           round(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) / 100.0, 2)
                                    AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT))
                                / 100.0 / count(*)
                         FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= DATE '2000-01-01')
    GROUP BY c.c_nationkey
    """,
)
def q_rich_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar AVG subquery threshold + NOT EXISTS
    anti-join (high-balance customers with no RECENT order).

    Originally "never ordered", but the synthetic data gives every
    customer at least one order, so the round-1 green row matched on
    0 rows (vacuous — same class VERDICT round 3 flagged on
    sql_param_extract). "Idle" is now "no order since 2000-01-01",
    which has real survivors at every SF (5 / 55 / 646 customers at
    sf0.001/0.01/0.1), so the next driver row value-checks the scalar
    threshold AND the anti-join semantics on real rows.

    Spark-first: the average is a one-row broadcast; NOT EXISTS is a
    left_anti against the orders key set. The date predicate lands on
    the build side BEFORE the join (pushed to the orders scan), so at
    100 TB the anti-join shuffles only recent orders' custkeys, and
    the customer-side filter runs map-side against the broadcast
    scalar.
    """
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("date"))
        .select("o_custkey")
    )
    # threshold via exact integer-cents sum (functions.core.cents): the
    # quotient is then a deterministic double on both engines, so the
    # filter selects identical rows on every run — no rounding needed
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            (F.sum(cents("c_acctbal")) / 100.0 / F.count(F.lit(1))).alias("__avg")
        )
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(cents("c_acctbal")) / 100.0, 2).alias("totacctbal"),
        )
    )


@query(
    "status_priority_sets",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL')   AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*)                         AS n_orders,
           round(sum(o_totalprice), 2)      AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
)
def q_status_priority_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (the asymmetric grain list neither
    ROLLUP nor CUBE expresses: detail + status-only + grand total,
    but NOT priority-only).

    Same single-Expand execution as rollup/cube — one scan fans each
    row into its 3 grains, then one hash aggregate; at 100 TB the cost
    is grains × shuffle rows, so pruning unneeded grains (vs CUBE's
    2^n) is exactly what GROUPING SETS is for.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n_orders",
            "revenue",
        )
    )


@query(
    "lineitem_measures_long",
    oracle="""
    SELECT l_orderkey,
           l_linenumber,
           measure,
           amount
    FROM (
      SELECT l_orderkey, l_linenumber,
             round(l_quantity, 2)      AS quantity,
             round(l_extendedprice, 2) AS price,
             round(l_discount, 2)      AS discount,
             round(l_tax, 2)           AS tax
      FROM lineitem
      WHERE l_orderkey < 100
    )
    UNPIVOT (amount FOR measure IN (quantity, price, discount, tax))
    """,
)
def q_lineitem_measures_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide → long, the pivot inverse / pandas ``melt``):
    per-line measures unpacked into (measure, amount) rows.

    ``DataFrame.unpivot`` plans as a single Expand over the scan — the
    row count multiplies by the measure count but nothing shuffles;
    the measure-name column is a literal, so downstream groupBys on it
    aggregate partially map-side.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    wide = li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_quantity", 2).alias("quantity"),
        F.round("l_extendedprice", 2).alias("price"),
        F.round("l_discount", 2).alias("discount"),
        F.round("l_tax", 2).alias("tax"),
    )
    return wide.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["quantity", "price", "discount", "tax"],
        "measure",
        "amount",
    )


@query(
    "customer_order_flags",
    oracle="""
    SELECT o_custkey,
           bool_or(o_orderpriority = '1-URGENT')  AS any_urgent,
           bool_and(o_totalprice > 1000)          AS all_above_1k,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
                                                  AS n_finished
    FROM orders
    GROUP BY o_custkey
    """,
)
def q_customer_order_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (``any``/``every`` — SQL bool_or/bool_and):
    per-customer order-quality flags. Partial aggregation applies
    (booleans merge associatively), so the flags survive fact scale.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_above_1k"),
        F.sum(
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        ).alias("n_finished"),
    )


@query(
    "customer_order_histogram",
    oracle="""
    WITH c_orders AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT OUTER JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '5-LOW'
      GROUP BY c.c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM c_orders
    GROUP BY c_count
    """,
)
def q_customer_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join with a join-side predicate
    (not a WHERE — customers with zero qualifying orders must survive
    with count 0), then a count-distribution histogram.

    Spark-first: the filter rides IN the join condition so the outer
    semantics hold; `count(o_orderkey)` counts only matched rows (null
    doesn't count) — the standard outer-join-count idiom. Two
    aggregations: per-customer (fact-sized shuffle, map-side combined)
    then the tiny histogram.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "discounted_brand_revenue",
    oracle="""
    SELECT round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) / 10000.0, 2) AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity >= 5 AND l.l_quantity <= 40)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity >= 10 AND l.l_quantity <= 50)
    """,
)
def q_discounted_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive (OR-of-ANDs) mixed-table predicate
    over a join — the case that defeats naive per-table pushdown.

    Spark-first: Catalyst factors the table-local parts of the
    disjunction out of the join condition: the part side gets
    `brand IN (...) AND size BETWEEN 1 AND 35` and the lineitem side
    `quantity BETWEEN 1 AND 50` pushed to the scans (the union bounds
    of the OR arms), while the full disjunction evaluates post-join.
    The part side still broadcasts.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return (
        joined.filter(
            arm("Brand#1", 15, 1, 30) | arm("Brand#2", 25, 5, 40) | arm("Brand#3", 35, 10, 50)
        )
        .agg(
            F.round(
                sum128(cents("l_extendedprice") * (100 - cents("l_discount")))
                / 10000.0,
                2,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "forecast_revenue",
    oracle="""
    SELECT round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                     * CAST(round(l_discount * 100) AS BIGINT)) / 10000.0, 2)
               AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity < 24
    """,
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate, zero joins — the
    predicate-pushdown benchmark. All three filters reach the parquet
    scan as PushedFilters (range on l_shipdate prunes row groups via
    min/max stats); the single-row aggregate is one partial+final pass,
    no wide shuffle. Reference parity: pure-SQL revenue aggregates in
    the dbt layer (reference src/dbt/models sources)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.04, 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                sum128(cents("l_extendedprice") * cents("l_discount")) / 10000.0, 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "nation_market_share",
    oracle="""
    SELECT o_year,
           round(sum(CASE WHEN s_nation = 'NATION_4' THEN volume_c ELSE 0 END)
                 / sum(volume_c), 6) AS mkt_share
    FROM (
      SELECT year(o.o_orderdate) AS o_year,
             CAST(round(l.l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS volume_c,
             ns.n_name AS s_nation
      FROM lineitem l
      JOIN orders   o  ON o.o_orderkey  = l.l_orderkey
      JOIN customer c  ON c.c_custkey   = o.o_custkey
      JOIN nation   nc ON nc.n_nationkey = c.c_nationkey
      JOIN region   r  ON r.r_regionkey  = nc.n_regionkey
      JOIN supplier s  ON s.s_suppkey    = l.l_suppkey
      JOIN nation   ns ON ns.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'ASIA'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    GROUP BY o_year
    """,
)
def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of regional order
    volume per year — a 7-table star with conditional aggregation.

    Spark-first: lineitem⋈orders is the only fact-fact shuffle;
    customer joins shuffle on custkey; every dimension (nation ×2,
    region, supplier) broadcasts, so the region filter prunes BEFORE
    the big join via the broadcast hash table. The share is computed
    with sum(CASE)/sum — one aggregation pass, no self-join."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    nc = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    ns = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("s_nation")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), c.c_nationkey == nc.c_nkey)
        .join(F.broadcast(r), nc.c_rkey == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), s.s_nationkey == ns.s_nkey)
    )
    # exact scaled-integer volume (functions.core.cents): the share is
    # then a ratio of exact integers — a ratio of two 4dp totals can
    # land exactly on the 6dp rounding boundary, where float noise flips
    vol_c = cents("l_extendedprice") * (100 - cents("l_discount"))
    return (
        joined.select(
            F.year("o_orderdate").alias("o_year"), vol_c.alias("volume_c"), "s_nation"
        )
        .groupBy("o_year")
        .agg(
            F.round(
                sum128(
                    F.when(F.col("s_nation") == "NATION_4", F.col("volume_c")).otherwise(
                        F.lit(0).cast("long")
                    )
                )
                / sum128(F.col("volume_c")),
                6,
            ).alias("mkt_share")
        )
    )


@query(
    "product_profit_by_nation_year",
    oracle="""
    SELECT nation, o_year, round(sum(amount) / 10000.0, 2) AS sum_profit
    FROM (
      SELECT ns.n_name AS nation,
             year(o.o_orderdate) AS o_year,
             CAST(round(l.l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
               - CAST(round(p.p_retailprice * 100) AS BIGINT)
                 * CAST(l.l_quantity AS BIGINT) * 100 AS amount
      FROM lineitem l
      JOIN part     p  ON p.p_partkey    = l.l_partkey
      JOIN supplier s  ON s.s_suppkey    = l.l_suppkey
      JOIN nation   ns ON ns.n_nationkey = s.s_nationkey
      JOIN orders   o  ON o.o_orderkey   = l.l_orderkey
      WHERE p.p_type = 'PROMO'
    )
    GROUP BY nation, o_year
    """,
)
def q_product_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape, adapted: per-(supplier-nation, year) profit on a
    product line. The testdata carries no partsupp table, so
    ps_supplycost is replaced by p_retailprice * quantity as the cost
    term — same plan shape (4-way star on the fact, two fact-grain
    joins, grouped agg), different constant semantics.

    part is filtered to ~1/6 of rows BEFORE the broadcast, shrinking
    both the broadcast and (via the join) the fact rows that survive
    into the orders shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = load_table(spark, sf_dir, "supplier")
    ns = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("nation")
    )
    o = load_table(spark, sf_dir, "orders")
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), s.s_nationkey == ns.s_nkey)
        .join(o, li.l_orderkey == o.o_orderkey)
    )
    # exact 1e-4-unit integer amount: revenue (4dp) minus cost (2dp
    # price x integer quantity, rescaled) stays integer end-to-end
    amount = cents("l_extendedprice") * (100 - cents("l_discount")) - cents(
        "p_retailprice"
    ) * F.col("l_quantity").cast("long") * 100
    return (
        joined.select("nation", F.year("o_orderdate").alias("o_year"), amount.alias("amount"))
        .groupBy("nation", "o_year")
        .agg(F.round(sum128(F.col("amount")) / 10000.0, 2).alias("sum_profit"))
    )


@query(
    "cohort_retention",
    oracle="""
    WITH m AS (
      SELECT o_custkey,
             strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS order_month
      FROM orders
    ),
    f AS (
      SELECT o_custkey, min(order_month) AS cohort_month
      FROM m GROUP BY o_custkey
    )
    SELECT f.cohort_month,
           m.order_month,
           count(DISTINCT m.o_custkey) AS n_active
    FROM m JOIN f USING (o_custkey)
    GROUP BY f.cohort_month, m.order_month
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-retention matrix: customers cohorted by first-order month,
    counted distinct per (cohort, activity month) — the standard
    product-analytics rollup the reference's Snowflake users run on the
    session tables (SURVEY.md §2 A8/A9 composition).

    Spark-first: the cohort derivation is a min() window over the
    already-shuffled custkey grain — NOT a separate groupBy+join, so
    the fact shuffles once on o_custkey and the (cohort, month) agg
    reuses tiny month-grain rows. count(DISTINCT) is fine here because
    the distinct key (custkey) is the partition key of the first
    shuffle — no second expansion."""
    o = load_table(spark, sf_dir, "orders")
    m = o.select(
        "o_custkey", F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
    )
    w = Window.partitionBy("o_custkey")
    cohorts = m.withColumn("cohort_month", F.min("order_month").over(w))
    return cohorts.groupBy("cohort_month", "order_month").agg(
        F.count_distinct("o_custkey").alias("n_active")
    )


@query(
    "salted_join_revenue",
    oracle="""
    SELECT o.o_orderstatus,
           round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) / 10000.0, 2) AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def q_salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation surface (SURVEY §7 watch-list 6): the
    lineitem⋈orders revenue rollup executed through
    ``skew.salted_join`` — the oracle is the PLAIN join, proving the
    salted plan is semantics-preserving. 8 buckets spread any hot
    orderkey over 8 reducers while replicating the orders projection
    8×; the follow-on agg is salted-safe because sum/count are
    algebraic."""
    from post_modern_stack_spark.operators.skew import salted_join, widen_narrow_scan

    # salt + probe + partial agg all live in the scan stage; widen the
    # single-row-group fact scan so they parallelize (no-op on wide
    # scans; guide §2.5)
    li = widen_narrow_scan(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    joined = salted_join(li, o, on="l_orderkey", buckets=8)
    return joined.groupBy("o_orderstatus").agg(
        F.round(
            sum128(cents("l_extendedprice") * (100 - cents("l_discount"))) / 10000.0, 2
        ).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "cdc_latest_state",
    oracle="""
    WITH snap AS (
      SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price,
             0 AS seq, 'U' AS op
      FROM orders
    ),
    chg AS (
      SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) + 10.0 AS price,
             1 AS seq,
             CASE WHEN o_orderkey % 9 = 0 THEN 'D' ELSE 'U' END AS op
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    u AS (SELECT * FROM snap UNION ALL SELECT * FROM chg),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                   ORDER BY seq DESC, op ASC) AS rn
      FROM u
    )
    SELECT o_orderkey, o_orderstatus, price
    FROM r WHERE rn = 1 AND op != 'D'
    """,
)
def q_cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE semantics without a table format: a change feed
    (a flat re-price on every third order, deletes every ninth) applied
    to the orders snapshot via operators/cdc.apply_cdc — latest-wins
    per key in ONE window pass, replacing the reference's destructive
    full reload (upload_to_snowflake.py:152-207). The oracle restates
    the union + row_number plan in SQL."""
    from post_modern_stack_spark.operators.cdc import apply_cdc

    o = load_table(spark, sf_dir, "orders")
    snap = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("price"),
        F.lit(0).alias("seq"),
    )
    chg = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        (F.round("o_totalprice", 2) + 10.0).alias("price"),
        F.lit(1).alias("seq"),
        F.when(F.col("o_orderkey") % 9 == 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
    )
    return apply_cdc(snap, chg, ["o_orderkey"], "seq").select(
        "o_orderkey", "o_orderstatus", "price"
    )


@query(
    "custkey_multiset_ops",
    oracle="""
    SELECT 'except_all' AS op,
           count(*) AS n_rows,
           count(DISTINCT k) AS n_keys
    FROM (SELECT o_custkey AS k FROM orders
          EXCEPT ALL
          SELECT c_custkey FROM customer)
    UNION ALL
    SELECT 'intersect_all' AS op,
           count(*) AS n_rows,
           count(DISTINCT k) AS n_keys
    FROM (SELECT o_custkey AS k FROM orders
          INTERSECT ALL
          SELECT c_custkey FROM customer)
    """,
)
def q_custkey_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) set operators — EXCEPT ALL / INTERSECT ALL keep
    duplicate multiplicity, unlike the distinct-set variants in
    orders_vs_lineitem_custkeys. Spark's exceptAll/intersectAll plan as
    a count-difference aggregation + generator replay, one shuffle per
    operator, no row-by-row anti-join."""
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))

    def agg(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.lit(tag).alias("op"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("k").alias("n_keys"),
        ).select("op", "n_rows", "n_keys")

    return agg(o.exceptAll(c), "except_all").unionByName(
        agg(o.intersectAll(c), "intersect_all")
    )


@query(
    "lateral_top_orders",
    oracle="""
    SELECT c.c_custkey,
           o.o_orderkey,
           round(o.o_totalprice, 2) AS price
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
    """,
)
def q_lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT (each
    customer's two priciest orders) — the SQL-surface twin of the
    window top-K (supplier_balance_rank). Catalyst decorrelates the
    lateral into a ranked window join, so the executed plan is the
    same WindowGroupLimit shape, not a per-customer re-scan; exercised
    through spark.sql over the registered views to cover the LATERAL
    parser/decorrelation path."""
    from post_modern_stack_spark.registry import register_views

    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(
        """
        SELECT c.c_custkey,
               o.o_orderkey,
               round(o.o_totalprice, 2) AS price
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        """
    )


@query(
    "co_ordered_part_pairs",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a,
           b.l_partkey AS part_b,
           count(*)    AS n_orders
    FROM items a
    JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING count(*) >= 2
    """,
)
def q_co_ordered_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: pairs of parts appearing in the
    same order at least twice — the support-counting stage of frequent
    itemset mining (and the edge-builder the item graph queries eat).

    Work is bounded by sum over orders of C(basket,2), not |lineitem|²:
    one shuffle groups each order's items into a sorted set, then the
    pair space (a < b halved) is enumerated in-plan with nested array
    transforms — no self-join, no second exchange. Baskets here are
    TPC-H-small (≤7 lines); for power-law baskets the standard remedy
    is capping or salting the hot basket before enumeration (a 10k-item
    basket would emit 50M pairs from one row).
    """
    li = load_table(spark, sf_dir, "lineitem")
    # one shuffle: per-order distinct item set (collect_set's map-side
    # partial dedup), then pair enumeration IN-PLAN via nested
    # transforms — no second pass over lineitem, no self-join exchange
    # (measured 2.2 s -> 1.5 s at sf0.1 vs the distinct+self-join form;
    # same plan-shape win the scale notes record for apply_cdc)
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = baskets.select(
        F.explode(
            F.flatten(
                F.expr(
                    """
                    transform(parts, (x, i) ->
                        transform(slice(parts, i + 2, size(parts)), y ->
                            struct(x AS part_a, y AS part_b)))
                    """
                )
            )
        ).alias("p")
    )
    return (
        pairs.groupBy(F.col("p.part_a").alias("part_a"), F.col("p.part_b").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


@query(
    "monthly_revenue_growth",
    oracle="""
    WITH monthly AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders
        GROUP BY 1
    )
    SELECT month,
           revenue,
           round(coalesce(100.0 * (revenue - lag(revenue) OVER (ORDER BY month))
                          / lag(revenue) OVER (ORDER BY month), 0.0), 4) AS growth_pct,
           round(sum(revenue) OVER (ORDER BY month
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_revenue
    FROM monthly
    """,
)
def q_monthly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month growth + running total over an aggregated
    series: the KPI-dashboard shape (agg → lag → pct-change → cumsum).

    The window runs over the POST-aggregate frame (one row per month),
    so the unpartitioned ORDER BY is a few-dozen-row sort on one task
    — deliberately after the shuffle-reducing groupBy, never on the
    raw fact table.
    """
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.orderBy("month")
    cum = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "revenue",
        F.round(
            F.coalesce(100.0 * (F.col("revenue") - prev) / prev, F.lit(0.0)), 4
        ).alias("growth_pct"),
        F.round(F.sum("revenue").over(cum), 2).alias("cum_revenue"),
    )


@query(
    "weighted_sample_orders",
    oracle="""
    WITH wts AS (
        SELECT o_orderpriority, o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS wt
        FROM orders
    ),
    acc AS (
        SELECT o_orderpriority, o_orderkey, wt,
               sum(wt) OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(wt) OVER (PARTITION BY o_orderpriority) AS total
        FROM wts
    )
    SELECT o_orderpriority, o_orderkey,
           CAST(((cum - wt) * 10) // total + 1 AS BIGINT) AS smp_rank
    FROM acc
    WHERE (cum * 10) // total > ((cum - wt) * 10) // total
      AND wt > 0
      AND ((cum - wt) * 10) // total + 1 <= 10
    """,
)
def q_weighted_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (systematic PPS): 10 orders per
    priority class picked proportionally to o_totalprice — the
    training-data curation primitive for importance-weighted corpus
    subsampling. Weights are quantized to integer cents so the pick
    set is pure integer arithmetic — engine-replayable bit-for-bit
    (operators/shaping.pps_systematic_sample docstring records why
    float windowed sums and u^(1/w) keys both fail cross-engine)."""
    from post_modern_stack_spark.operators.shaping import pps_systematic_sample

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "wt", F.round(F.col("o_totalprice") * 100).cast("long")
    )
    return pps_systematic_sample(
        orders, ["o_orderpriority"], "wt", "o_orderkey", 10
    ).select("o_orderpriority", "o_orderkey", "smp_rank")


@query(
    "reconcile_orders_lineitem",
    oracle="""
    WITH o AS (
        SELECT o_orderkey AS okey, o_totalprice AS expect_total
        FROM orders WHERE o_orderkey % 7 <> 0
    ),
    l AS (
        SELECT l_orderkey AS okey,
               CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                         * (100 - CAST(round(l_discount * 100) AS BIGINT))
                         * (100 + CAST(round(l_tax * 100) AS BIGINT)))
                     + 5000) // 10000 AS DOUBLE) / 100 AS got_total
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT coalesce(o.okey, l.okey) AS okey,
           CASE
               WHEN o.okey IS NULL THEN 'missing_in_source'
               WHEN l.okey IS NULL THEN 'missing_in_target'
               WHEN abs(o.expect_total - l.got_total) > 0.01 * o.expect_total
                   THEN 'value_mismatch'
               ELSE 'ok'
           END AS status,
           round(o.expect_total, 2) AS expect_total,
           l.got_total
    FROM o FULL OUTER JOIN l ON o.okey = l.okey
    WHERE o.okey IS NULL OR l.okey IS NULL
       OR abs(o.expect_total - l.got_total) > 0.01 * o.expect_total
    """,
)
def q_reconcile_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source/target reconciliation — the validation join every CDC /
    migration pipeline runs: FULL OUTER join of the order header total
    against the recomputed lineitem total, classifying each key as
    missing on either side or drifted beyond 1%. (A filtered orders
    side guarantees 'missing_in_source' rows exist on the synthetic
    data.) FULL OUTER requires a shuffle on both sides — no broadcast
    path exists in any engine — so both inputs pre-aggregate/project
    to key grain BEFORE the join; the exchange then moves two narrow
    key-grain relations, not facts.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("okey_o"),
        F.col("o_totalprice").alias("expect_total_raw"),
    )
    # exact 1e-6-unit integer charge (functions.core.cents): the
    # recomputed total is deterministic, so the 1% drift classification
    # cannot flip on merge-order float noise. The group sum stays an
    # int128 integer (sum128 without its cast to double) so both sides
    # round it to cents half-up in integers: round() of the double
    # disagreed at half cents (8446.925: Spark rounds the decimal string
    # up, DuckDB the binary double down).
    l = li.groupBy(F.col("l_orderkey").alias("okey_l")).agg(
        F.sum(
            (
                cents("l_extendedprice")
                * (100 - cents("l_discount"))
                * (100 + cents("l_tax"))
            ).cast("decimal(38,0)")
        ).alias("charge")
    ).select(
        "okey_l",
        F.expr("CAST((charge + 5000) DIV 10000 AS DOUBLE) / 100").alias("got_total"),
    )
    j = o.join(l, o["okey_o"] == l["okey_l"], "full_outer")
    status = (
        F.when(F.col("okey_o").isNull(), F.lit("missing_in_source"))
        .when(F.col("okey_l").isNull(), F.lit("missing_in_target"))
        .when(
            F.abs(F.col("expect_total_raw") - F.col("got_total"))
            > 0.01 * F.col("expect_total_raw"),
            F.lit("value_mismatch"),
        )
        .otherwise(F.lit("ok"))
    )
    return (
        j.select(
            F.coalesce(F.col("okey_o"), F.col("okey_l")).alias("okey"),
            status.alias("status"),
            F.round(F.col("expect_total_raw"), 2).alias("expect_total"),
            "got_total",
        )
        .filter(F.col("status") != "ok")
    )


@query(
    "table_profile",
    oracle="""
    WITH a AS (
        SELECT count(*) AS n_rows,
               CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS q_nulls,
               count(DISTINCT l_quantity) AS q_distinct,
               CAST(min(l_quantity) AS VARCHAR) AS q_min,
               CAST(max(l_quantity) AS VARCHAR) AS q_max,
               CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS d_nulls,
               count(DISTINCT l_discount) AS d_distinct,
               CAST(min(l_discount) AS VARCHAR) AS d_min,
               CAST(max(l_discount) AS VARCHAR) AS d_max,
               CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS r_nulls,
               count(DISTINCT l_returnflag) AS r_distinct,
               min(l_returnflag) AS r_min,
               max(l_returnflag) AS r_max,
               CAST(sum(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS s_nulls,
               count(DISTINCT l_linestatus) AS s_distinct,
               min(l_linestatus) AS s_min,
               max(l_linestatus) AS s_max
        FROM lineitem
    )
    SELECT 'l_quantity' AS column, n_rows, q_nulls AS n_nulls,
           q_distinct AS n_distinct, q_min AS min_s, q_max AS max_s FROM a
    UNION ALL
    SELECT 'l_discount', n_rows, d_nulls, d_distinct, d_min, d_max FROM a
    UNION ALL
    SELECT 'l_returnflag', n_rows, r_nulls, r_distinct, r_min, r_max FROM a
    UNION ALL
    SELECT 'l_linestatus', n_rows, s_nulls, s_distinct, s_min, s_max FROM a
    """,
)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler (the warehouse `SUMMARIZE` / dbt-docs stats
    pass): null count, exact distinct count, min/max per column — the
    catalog/oracle instance of ``operators/profile.summarize`` (one
    Expand-pass scan, see that module for the 100 TB shape)."""
    from post_modern_stack_spark.operators.profile import summarize

    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_discount", "l_returnflag", "l_linestatus"]
    return summarize(li, cols).select(
        "column", "n_rows", "n_nulls", "n_distinct", "min_s", "max_s"
    )


@query(
    "rank_family_compare",
    oracle="""
    SELECT s_nationkey,
           s_suppkey,
           round(s_acctbal, 2) AS bal,
           rank()       OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           row_number() OVER (PARTITION BY s_nationkey
                              ORDER BY round(s_acctbal, 2) DESC, s_suppkey)
               AS rn
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY round(s_acctbal, 2) DESC)
    QUALIFY rank() OVER w <= 3
    """,
)
def q_rank_family_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three ranking functions side by side on one window (top-3
    per nation by balance, TIES KEPT): rank() gaps on ties,
    dense_rank() doesn't, row_number() breaks them — the reference
    sheet for choosing a top-K semantics. Ties are made reachable by
    ranking on the ROUNDED balance; row_number alone gets the
    deterministic s_suppkey tie-break so output hashes are stable.
    All three share one sort in one window pass."""
    sup = load_table(spark, sf_dir, "supplier")
    bal = F.round("s_acctbal", 2)
    w = Window.partitionBy("s_nationkey").orderBy(F.desc("bal"))
    wrn = Window.partitionBy("s_nationkey").orderBy(
        F.desc("bal"), F.asc("s_suppkey")
    )
    return (
        sup.select("s_nationkey", "s_suppkey", bal.alias("bal"))
        .select(
            "s_nationkey",
            "s_suppkey",
            "bal",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.row_number().over(wrn).alias("rn"),
        )
        .filter(F.col("rnk") <= 3)
    )


@query(
    "association_rules",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM items),
    item_supp AS (
        SELECT l_partkey, count(*) AS c FROM items GROUP BY l_partkey
    ),
    pair_supp AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS c_ab
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 3
    )
    SELECT p.part_a, p.part_b, p.c_ab,
           round(p.c_ab::DOUBLE / n.n, 6) AS support,
           round(p.c_ab::DOUBLE / sa.c, 6) AS confidence_a_to_b,
           round(p.c_ab::DOUBLE * n.n / (sa.c * sb.c), 6) AS lift
    FROM pair_supp p
    JOIN item_supp sa ON sa.l_partkey = p.part_a
    JOIN item_supp sb ON sb.l_partkey = p.part_b
    CROSS JOIN n_orders n
    """,
)
def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over the basket pairs: support,
    confidence(A→B), and lift for part pairs co-ordered ≥3 times —
    the Apriori scoring stage on top of the in-plan pair enumeration
    (no self-join; see co_ordered_part_pairs). Item supports are a
    part-grain aggregate that broadcasts onto the pair table; the
    basket count is a 1-row broadcast — nothing after the basket
    shuffle is fact-sized."""
    li = load_table(spark, sf_dir, "lineitem")
    # ONE fact-grain exchange (r11, guide §2.4 "share one exchange"):
    # the old shape shuffled lineitem twice (items.distinct + the
    # basket collect_set) and paid a countDistinct Expand for the
    # basket count. Every aggregate below derives from the SAME
    # baskets frame, so ReuseExchange materializes the lineitem
    # shuffle once: n_orders = count of basket rows (each distinct
    # order is one row), item_supp = explode of the deduped basket
    # arrays (collect_set already deduped (order, part)). Values are
    # identical; the oracle is untouched.
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n"))
    item_supp = (
        baskets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = baskets.select(
        F.explode(
            F.flatten(
                F.expr(
                    """
                    transform(parts, (x, i) ->
                        transform(slice(parts, i + 2, size(parts)), y ->
                            struct(x AS part_a, y AS part_b)))
                    """
                )
            )
        ).alias("p")
    )
    pair_supp = (
        pairs.groupBy(
            F.col("p.part_a").alias("part_a"), F.col("p.part_b").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 3)
    )
    sa = item_supp.select(
        F.col("l_partkey").alias("part_a"), F.col("c").alias("c_a")
    )
    sb = item_supp.select(
        F.col("l_partkey").alias("part_b"), F.col("c").alias("c_b")
    )
    return (
        pair_supp.join(F.broadcast(sa), "part_a")
        .join(F.broadcast(sb), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "c_ab",
            F.round(F.col("c_ab") / F.col("n"), 6).alias("support"),
            F.round(F.col("c_ab") / F.col("c_a"), 6).alias("confidence_a_to_b"),
            F.round(
                F.col("c_ab") * F.col("n") / (F.col("c_a") * F.col("c_b")), 6
            ).alias("lift"),
        )
    )


@query(
    "revenue_pareto",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey, sum(o_totalprice) AS rev
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT rev,
               row_number() OVER (ORDER BY rev DESC, o_custkey) AS i,
               count(*) OVER () AS n,
               sum(rev) OVER () AS tot
        FROM per_cust
    )
    SELECT CAST(any_value(n) AS BIGINT) AS n_customers,
           round(sum(CASE WHEN i <= ceil(0.1 * n) THEN rev ELSE 0 END)
                 / any_value(tot), 6) AS top10pct_share,
           round(sum(CASE WHEN i <= ceil(0.2 * n) THEN rev ELSE 0 END)
                 / any_value(tot), 6) AS top20pct_share
    FROM ranked
    """,
)
def q_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration: the revenue share of the top-10% / top-20%
    customers (the 80/20 check every revenue review asks for). Ranking
    runs at CUSTOMER grain — post-aggregate, never over the fact — with
    a key tie-break so the decile boundary is engine-deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("rev")
    )
    wall = Window.partitionBy()
    ranked = per_cust.select(
        "rev",
        F.row_number()
        .over(Window.orderBy(F.desc("rev"), F.asc("o_custkey")))
        .alias("i"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("rev").over(wall).alias("tot"),
    )
    def share(frac, name):
        return F.round(
            F.sum(
                F.when(
                    F.col("i") <= F.ceil(frac * F.col("n")), F.col("rev")
                ).otherwise(F.lit(0.0))
            )
            / F.first("tot"),
            6,
        ).alias(name)

    return ranked.agg(
        F.first("n").alias("n_customers"),
        share(0.1, "top10pct_share"),
        share(0.2, "top20pct_share"),
    )


@query(
    "order_cycle_time",
    oracle="""
    WITH cycle AS (
        SELECT o.o_orderkey,
               o.o_orderpriority,
               date_diff('day', CAST(o.o_orderdate AS DATE),
                         max(CAST(l.l_shipdate AS DATE))) AS days_to_ship
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
    )
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round(avg(days_to_ship), 4) AS avg_days,
           CAST(quantile_cont(days_to_ship, 0.5) AS DOUBLE) AS median_days,
           CAST(max(days_to_ship) AS BIGINT) AS max_days
    FROM cycle
    GROUP BY o_orderpriority
    """,
)
def q_order_cycle_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order fulfillment cycle time: days from order date to the
    LAST line shipment, summarized per priority (the operations SLA
    report). The per-order max collapses lineitem at the join key
    grain before the priority rollup — two aggs, the second over
    order-grain rows only."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cycle = (
        li.select("l_orderkey", F.to_date("l_shipdate").alias("ship"))
        .groupBy("l_orderkey")
        .agg(F.max("ship").alias("last_ship"))
        .join(
            orders.select(
                F.col("o_orderkey").alias("l_orderkey"),
                "o_orderpriority",
                F.to_date("o_orderdate").alias("odate"),
            ),
            "l_orderkey",
        )
        .select(
            "o_orderpriority",
            F.datediff("last_ship", "odate").alias("days_to_ship"),
        )
    )
    return cycle.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.avg("days_to_ship"), 4).alias("avg_days"),
        F.percentile("days_to_ship", F.lit(0.5)).alias("median_days"),
        F.max("days_to_ship").cast("bigint").alias("max_days"),
    )


@query(
    "priority_grouping_sets",
    oracle="""
    SELECT coalesce(o_orderpriority, 'ALL') AS priority,
           coalesce(o_orderstatus, 'ALL') AS status,
           grouping(o_orderpriority) * 2 + grouping(o_orderstatus)
             AS grouping_id,
           count(*)::BIGINT AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus),
                            (o_orderpriority, o_orderstatus), ())
    """,
)
def q_priority_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping_id disambiguation (the one
    grouping construct cube/rollup queries don't exercise), run
    through the SQL surface over registered views — mirroring how the
    reference's dbt models are SQL against named relations. A single
    Expand + one hash agg; the NULL-vs-'ALL' collapse keys on
    grouping(), not on data NULLs."""
    from post_modern_stack_spark.registry import register_views

    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        """
        SELECT coalesce(o_orderpriority, 'ALL') AS priority,
               coalesce(o_orderstatus, 'ALL') AS status,
               grouping(o_orderpriority) * 2 + grouping(o_orderstatus)
                 AS grouping_id,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus),
                                (o_orderpriority, o_orderstatus), ())
        """
    ).withColumn("grouping_id", F.col("grouping_id").cast("long"))


@query(
    "latency_percentiles",
    oracle="""
    WITH lat AS (
      SELECT o.o_orderpriority,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT o_orderpriority,
           count(*)::BIGINT AS n,
           round(quantile_cont(days, 0.5), 4) AS p50,
           round(quantile_cont(days, 0.9), 4) AS p90,
           round(quantile_cont(days, 0.99), 4) AS p99,
           max(days)::BIGINT AS p_max
    FROM lat GROUP BY o_orderpriority
    """,
)
def q_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ship-latency percentiles per order priority (order→ship
    days): the SLA-reporting form with EXACT linear-interpolated
    percentiles (Spark `percentile` ≡ DuckDB `quantile_cont` on the
    same integer days). One equi-join + one hash agg; at fact scale
    swap in percentile_approx (the sketch path approx_sketches
    registers)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("o_orderpriority", days.alias("days"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.expr("percentile(days, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(days, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(days, 0.99)"), 4).alias("p99"),
            F.max("days").cast("long").alias("p_max"),
        )
    )
