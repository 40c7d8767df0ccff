"""TPC-H-shaped analytical queries.

Each ``@query`` function maps ``(spark, sf_dir)`` to a lazy DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .common import _dec_disc, _dec_ep, _dec_qty, _t, query


# ---------------------------------------------------------------------------
# TPC-H-shaped pipelines (multi-operator coverage)
# ---------------------------------------------------------------------------

@query(oracle=(
    "SELECT l_returnflag, l_linestatus, "
    "CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty, "
    "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_base_price, "
    "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_disc_price, "
    "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_charge, "
    "round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) "
    "/ count(*), 4) AS avg_qty, "
    "round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) "
    "/ count(*), 4) AS avg_price, "
    "round(CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) "
    "/ count(*), 4) AS avg_disc, "
    "count(*) AS count_order "
    "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
    "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
))
def _q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # the money columns are exact 2-decimal values: decimal arithmetic
    # makes every sum exact and summation-order-independent, so results
    # can't flip at an FP rounding boundary when partitioning changes
    ep = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast("decimal(12,2)")), 2)
            .cast("double").alias("sum_qty"),
            F.round(F.sum(ep), 2).cast("double").alias("sum_base_price"),
            F.round(F.sum(ep * (1 - disc)), 2)
            .cast("double").alias("sum_disc_price"),
            F.round(F.sum(ep * (1 - disc) * (1 + tax)), 2)
            .cast("double").alias("sum_charge"),
            # avgs as exact-decimal sum / count, divided as doubles: the
            # operands are order-independent so the quotient is too
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(12,2)"))
                .cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_qty"),
            F.round(
                F.sum(ep).cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_price"),
            F.round(
                F.sum(disc).cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )

@query(oracle=(
    "SELECT l_orderkey, o_orderdate, o_orderpriority, "
    "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue "
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "WHERE c_mktsegment = 'BUILDING' "
    "AND o_orderdate < TIMESTAMP '1998-03-15' "
    "AND l_shipdate > TIMESTAMP '1998-03-15' "
    "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
    "ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"
))
def _q3_shipping_priority(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(12,2)")
                    * (1 - F.col("l_discount").cast("decimal(4,2)"))
                ),
                2,
            ).cast("double").alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )

@query(oracle=(
    "SELECT n_name, "
    "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue "
    "FROM customer, orders, lineitem, supplier, nation, region "
    "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey "
    "AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
    "AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey "
    "AND r_name = 'ASIA' GROUP BY n_name ORDER BY revenue DESC, n_name"
))
def _q5_region_volume(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(12,2)")
                    * (1 - F.col("l_discount").cast("decimal(4,2)"))
                ),
                2,
            ).cast("double").alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )

@query(oracle=(
    "SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * "
    "CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue "
    "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
    "AND l_shipdate < TIMESTAMP '1997-01-01' "
    "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"
))
def _q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: pure scan+filter+agg — the pushdown showcase
    (all three predicates reach the parquet scan)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(12,2)")
                    * F.col("l_discount").cast("decimal(4,2)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )

@query(oracle=(
    "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
    "CAST(year(l_shipdate) AS INT) AS l_year, "
    "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * "
    "(1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue "
    "FROM lineitem, orders, customer, supplier, nation n1, nation n2 "
    "WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey "
    "AND l_suppkey = s_suppkey AND s_nationkey = n1.n_nationkey "
    "AND c_nationkey = n2.n_nationkey "
    "AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') "
    "OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) "
    "GROUP BY 1, 2, 3"
))
def _q7_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape: bilateral trade volume by year — self-aliased
    nation dim joined twice (both broadcast), disjunctive nation-pair
    predicate, decimal-exact revenue."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    vol = F.col("l_extendedprice").cast("decimal(12,2)") * (
        1 - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.round(F.sum(vol), 2).cast("double").alias("revenue"))
    )

@query(oracle=(
    "SELECT CAST(year(o_orderdate) AS INT) AS o_year, "
    "round(CAST(sum(CASE WHEN n2.n_name = 'NATION_2' THEN "
    "CAST(l_extendedprice AS DECIMAL(12,2)) * "
    "(1 - CAST(l_discount AS DECIMAL(4,2))) END) AS DOUBLE) / "
    "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * "
    "(1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 6) "
    "AS mkt_share "
    "FROM lineitem, orders, customer, supplier, part, "
    "nation n1, nation n2, region "
    "WHERE l_partkey = p_partkey AND p_type = 'PROMO' "
    "AND l_orderkey = o_orderkey AND o_custkey = c_custkey "
    "AND l_suppkey = s_suppkey AND c_nationkey = n1.n_nationkey "
    "AND n1.n_regionkey = r_regionkey AND r_name = 'ASIA' "
    "AND s_nationkey = n2.n_nationkey "
    "GROUP BY 1"
))
def _q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: national market share = conditional revenue
    ratio per year over a 7-table join (dims broadcast; exact decimal
    numerator/denominator, ratio in double)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice").cast("decimal(12,2)") * (
        1 - F.col("l_discount").cast("decimal(4,2)")
    )
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == region.r_regionkey)
        .join(F.broadcast(n2), supp.s_nationkey == F.col("n2_key"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_2", vol)).cast(
                    "double"
                )
                / F.sum(vol).cast("double"),
                6,
            ).alias("mkt_share")
        )
    )

@query(oracle=(
    "SELECT c_custkey, c_name, c_acctbal, n_name, "
    "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * "
    "(1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue "
    "FROM lineitem, orders, customer, nation "
    "WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey "
    "AND c_nationkey = n_nationkey AND l_returnflag = 'R' "
    "AND o_orderdate >= TIMESTAMP '1996-01-01' "
    "AND o_orderdate < TIMESTAMP '1996-04-01' "
    "GROUP BY c_custkey, c_name, c_acctbal, n_name "
    "ORDER BY revenue DESC, c_custkey LIMIT 20"
))
def _q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: revenue lost to returns per customer, top 20."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            # decimal arithmetic: exact, summation-order-independent, so
            # per-group cents can't land on an FP rounding boundary
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,4)")
                    * (1 - F.col("l_discount").cast("decimal(18,4)"))
                ),
                2,
            ).cast("double").alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )

@query(oracle=(
    "SELECT l_linestatus, "
    "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
    "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
    "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
    "THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count "
    "FROM lineitem, orders WHERE l_orderkey = o_orderkey "
    "AND l_shipdate >= TIMESTAMP '1996-01-01' "
    "AND l_shipdate < TIMESTAMP '1997-01-01' "
    "GROUP BY l_linestatus"
))
def _q12_priority_lines(spark, sf_dir):
    """TPC-H Q12 shape: conditional counts (case-when inside sum) per
    line status."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    orders = _t(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count"),
        )
    )

@query(oracle=(
    "SELECT round(100.0 * "
    "CAST(sum(CASE WHEN p_type = 'PROMO' "
    "THEN CAST(l_extendedprice AS DECIMAL(12,2)) * "
    "(1 - CAST(l_discount AS DECIMAL(4,2))) "
    "ELSE CAST(0 AS DECIMAL(16,4)) END) AS DOUBLE) / "
    "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * "
    "(1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 4) "
    "AS promo_revenue_pct "
    "FROM lineitem, part WHERE l_partkey = p_partkey "
    "AND l_shipdate >= TIMESTAMP '1996-03-01' "
    "AND l_shipdate < TIMESTAMP '1996-04-01'"
))
def _q14_promo_share(spark, sf_dir):
    """TPC-H Q14 shape: ratio of conditional aggregates after a
    fact-dim join (part broadcasts)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    part = _t(spark, sf_dir, "part")
    # decimal-exact numerator/denominator (order-independent), then one
    # IEEE double division — identical operands give identical quotients
    # in any engine
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        1 - F.col("l_discount").cast("decimal(4,2)")
    )
    zero = F.lit(0).cast("decimal(16,4)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)
                ).cast("double")
                / F.sum(rev).cast("double"),
                4,
            ).alias("promo_revenue_pct")
        )
    )

@query(oracle=(
    "WITH big AS (SELECT l_orderkey, "
    "CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) "
    "AS sum_qty FROM lineitem GROUP BY l_orderkey "
    "HAVING CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) "
    "AS DOUBLE) > 150) "
    "SELECT c_custkey, c_name, o_orderkey, o_orderdate, "
    "round(o_totalprice, 2) AS o_totalprice, sum_qty "
    "FROM big, orders, customer "
    "WHERE o_orderkey = l_orderkey AND o_custkey = c_custkey"
))
def _q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: having-filtered aggregate re-joined to its fact
    — the small post-agg side broadcasts, so the orders/customer tables
    never shuffle for it."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("sum_qty")
        )
        .filter(F.col("sum_qty") > 150)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "sum_qty",
        )
    )

@query(oracle=(
    "SELECT p_partkey, p_name, s_suppkey, s_name, price FROM ("
    "SELECT p_partkey, p_name, s_suppkey, s_name, "
    "round(l_extendedprice, 2) AS price, "
    "row_number() OVER (PARTITION BY p_partkey "
    "ORDER BY round(l_extendedprice, 2), s_suppkey) AS rn "
    "FROM lineitem JOIN part ON l_partkey = p_partkey "
    "JOIN supplier ON l_suppkey = s_suppkey "
    "WHERE p_type = 'LARGE' AND p_size < 10) WHERE rn = 1"
))
def _q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: groupwise-min + join-back — per qualifying part,
    the supplier offering the minimum price (scalar-subquery-per-group
    in SQL; one window rank in Spark, so the fact scans once)."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") < 10)
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    offers = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .select(
            "p_partkey", "p_name", "s_suppkey", "s_name",
            F.round("l_extendedprice", 2).alias("price"),
        )
    )
    w = Window.partitionBy("p_partkey").orderBy("price", "s_suppkey")
    return (
        offers.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("p_partkey")
    )

@query(oracle=(
    "SELECT o_orderpriority, count(*) AS order_count FROM orders "
    "WHERE o_orderdate >= TIMESTAMP '1996-01-01' "
    "AND o_orderdate < TIMESTAMP '1996-07-01' "
    "AND EXISTS (SELECT 1 FROM lineitem "
    "WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate) "
    "GROUP BY o_orderpriority ORDER BY o_orderpriority"
))
def _q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: correlated EXISTS — count orders per priority
    having at least one line shipped after the order date. The EXISTS
    compiles to a left-semi join (no fan-out, no distinct needed)."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    sem = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return (
        sem.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )

@query(oracle=(
    "SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year, "
    "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * "
    "(1 - CAST(l_discount AS DECIMAL(4,2))) - "
    "CAST(p_retailprice AS DECIMAL(12,2)) * "
    "CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS profit "
    "FROM lineitem JOIN part ON l_partkey = p_partkey "
    "JOIN supplier ON l_suppkey = s_suppkey "
    "JOIN orders ON l_orderkey = o_orderkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "WHERE p_name LIKE '%gear%' "
    "GROUP BY n_name, year(o_orderdate)"
))
def _q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape: multi-join profit rollup by supplier nation and
    order year (retail price stands in for supply cost — no partsupp in
    the synthetic schema)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    profit = _dec_ep() * (1 - _dec_disc()) - F.col("p_retailprice").cast(
        "decimal(12,2)"
    ) * _dec_qty()
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 2).cast("double").alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )

@query(oracle=(
    "WITH co AS (SELECT c_custkey, count(o_orderkey) AS c_count "
    "FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
    "GROUP BY c_custkey) "
    "SELECT c_count, count(*) AS custdist FROM co GROUP BY c_count"
))
def _q13_order_distribution(spark, sf_dir):
    """TPC-H Q13: distribution of orders-per-customer (left join keeps
    zero-order customers; two keyed aggregations, both map-side
    partial)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    co = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        co.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )

@query(oracle=(
    "WITH rev AS (SELECT l_suppkey, "
    "sum(CAST(l_extendedprice AS DECIMAL(12,2)) * "
    "(1 - CAST(l_discount AS DECIMAL(4,2)))) AS rev_dec "
    "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
    "AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY l_suppkey) "
    "SELECT s_suppkey, s_name, "
    "CAST(round(rev_dec, 2) AS DOUBLE) AS total_revenue "
    "FROM rev JOIN supplier ON l_suppkey = s_suppkey "
    "WHERE rev_dec = (SELECT max(rev_dec) FROM rev)"
))
def _q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: revenue view + MAX scalar subquery — the max
    travels as a broadcast 1-row frame joined back to the view."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    supp = _t(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(_dec_ep() * (1 - _dec_disc())).alias("rev_dec")
    )
    mx = rev.agg(F.max("rev_dec").alias("mx"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("rev_dec") == F.col("mx"))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round("rev_dec", 2).cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )

@query(oracle=(
    "SELECT p_brand, p_type, p_size, "
    "count(DISTINCT l_suppkey) AS supplier_cnt "
    "FROM lineitem JOIN part ON l_partkey = p_partkey "
    "WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%' "
    "AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35) "
    "GROUP BY p_brand, p_type, p_size"
))
def _q16_supplier_counts(spark, sf_dir):
    """TPC-H Q16 shape: COUNT(DISTINCT supplier) per part descriptor
    with negated predicates (lineitem is the part-supplier bridge)."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )

@query(oracle=(
    "WITH branded AS (SELECT p_partkey, l_quantity, l_extendedprice "
    "FROM lineitem JOIN part ON l_partkey = p_partkey "
    "WHERE p_brand = 'Brand#15'), "
    "thresh AS (SELECT p_partkey, "
    "0.2 * CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) "
    "/ count(*) AS qty_cut FROM branded GROUP BY p_partkey) "
    "SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) "
    "AS DOUBLE) / 7.0, 2) AS avg_yearly "
    "FROM branded JOIN thresh USING (p_partkey) "
    "WHERE l_quantity < qty_cut"
))
def _q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated scalar AVG subquery — weekly revenue
    from small-quantity orders of one brand. The per-part threshold is
    an aggregate joined back (broadcast: one row per qualifying part),
    computed decimal-exact so the < comparison can't flip between
    engines."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#15")
    li = _t(spark, sf_dir, "lineitem")
    branded = li.join(part, li.l_partkey == part.p_partkey).select(
        "p_partkey", "l_quantity", "l_extendedprice"
    )
    thresh = branded.groupBy("p_partkey").agg(
        (
            F.lit(0.2)
            * F.sum(_dec_qty()).cast("double")
            / F.count(F.lit(1))
        ).alias("qty_cut")
    )
    return (
        branded.join(F.broadcast(thresh), on="p_partkey")
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            F.round(F.sum(_dec_ep()).cast("double") / 7.0, 2).alias(
                "avg_yearly"
            )
        )
    )

@query(oracle=(
    "SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * "
    "(1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue "
    "FROM lineitem JOIN part ON l_partkey = p_partkey "
    "WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 "
    "AND l_quantity BETWEEN 1 AND 11) "
    "OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 "
    "AND l_quantity BETWEEN 10 AND 20) "
    "OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 "
    "AND l_quantity BETWEEN 20 AND 30)"
))
def _q19_disjunctive_filter(spark, sf_dir):
    """TPC-H Q19 shape: OR-of-ANDs across join sides — Catalyst still
    pushes the common join key and per-side implied filters down."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(cond).agg(
        F.round(F.sum(_dec_ep() * (1 - _dec_disc())), 2)
        .cast("double")
        .alias("revenue")
    )

@query(oracle=(
    "WITH lines AS (SELECT l_orderkey, l_suppkey, "
    "l_shipdate > o_orderdate + INTERVAL 60 DAY AS late "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), "
    "per_order AS (SELECT l_orderkey, "
    "count(DISTINCT l_suppkey) AS n_supp, "
    "count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp "
    "FROM lines GROUP BY l_orderkey) "
    "SELECT s_name, count(*) AS numwait "
    "FROM lines JOIN per_order USING (l_orderkey) "
    "JOIN supplier ON l_suppkey = s_suppkey "
    "WHERE late AND n_supp > 1 AND n_late_supp = 1 "
    "GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20"
))
def _q21_waiting_supplier(spark, sf_dir):
    """TPC-H Q21 shape: the EXISTS/NOT-EXISTS pair ("another supplier in
    the order, but no OTHER supplier late") expressed as window
    aggregates over the order key — count distinct suppliers and
    distinct late suppliers per order, then keep late lines of the sole
    late supplier in multi-supplier orders. ONE scan of lineitem/orders
    and one order-key shuffle instead of the agg+self-join formulation
    (which scans the fact twice) or three correlated scans."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    lines = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("late"),
    )
    w = Window.partitionBy("l_orderkey")
    waiting = (
        lines.withColumn(
            "n_supp", F.size(F.collect_set("l_suppkey").over(w))
        )
        .withColumn(
            "n_late_supp",
            F.size(
                F.collect_set(
                    F.when(F.col("late"), F.col("l_suppkey"))
                ).over(w)
            ),
        )
        .filter(
            F.col("late")
            & (F.col("n_supp") > 1)
            & (F.col("n_late_supp") == 1)
        )
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
    )
    return (
        waiting.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )

@query(oracle=(
    "WITH shipped AS ("
    "SELECT l_suppkey, "
    "CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS BIGINT) AS qty "
    "FROM lineitem JOIN part ON l_partkey = p_partkey "
    "WHERE p_name LIKE 'small%' "
    "AND l_shipdate >= TIMESTAMP '1996-01-01' "
    "AND l_shipdate < TIMESTAMP '1997-01-01' "
    "GROUP BY l_suppkey "
    "HAVING CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS BIGINT) > 300) "
    "SELECT s_name, n_name, qty FROM supplier "
    "JOIN shipped ON s_suppkey = l_suppkey "
    "JOIN nation ON s_nationkey = n_nationkey"
))
def _q20_excess_volume(spark, sf_dir):
    """q20-shape (adapted: the synthetic schema has no partsupp):
    suppliers that shipped more than 300 units of 'small'-named parts
    in 1996, with their nation — the classic semi-join reduction:
    lineitem aggregates once on (supp, part); the supplier/nation dims
    broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    small_parts = part.filter(F.col("p_name").startswith("small")).select(
        "p_partkey"
    )
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .join(F.broadcast(small_parts), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey")
        # decimal-exact sum (repo float policy): partition-order-proof
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(12,2)"))
            .cast("bigint")
            .alias("qty")
        )
        .filter(F.col("qty") > 300)
    )
    return (
        supp.join(shipped, supp.s_suppkey == shipped.l_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("s_name", "n_name", "qty")
    )

@query(oracle=(
    "WITH pv AS (SELECT l_partkey, "
    "sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS v "
    "FROM lineitem GROUP BY l_partkey), "
    "t AS (SELECT sum(v) AS tot, count(*) AS np FROM pv) "
    "SELECT l_partkey, CAST(round(v, 2) AS DOUBLE) AS value "
    "FROM pv, t WHERE 2 * v * np > 3 * tot "
    "ORDER BY value DESC, l_partkey"
))
def _q11_value_concentration(spark, sf_dir):
    """TPC-H Q11 shape: scalar-subquery HAVING — keep parts whose
    revenue exceeds 1.5x the average part revenue. The share test is
    division-free (`2 * v * n_parts > 3 * total`) over exact DECIMALs
    so it is SF-invariant and engine-exact; the 1-row total broadcasts
    (never a driver collect)."""
    li = _t(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).alias("v")
    )
    total = pv.agg(
        F.sum("v").alias("tot"), F.count(F.lit(1)).alias("np")
    )
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(2 * F.col("v") * F.col("np") > 3 * F.col("tot"))
        .select(
            "l_partkey",
            F.round("v", 2).cast("double").alias("value"),
        )
        .orderBy(F.desc("value"), "l_partkey")
    )

@query(oracle=(
    "WITH p AS (SELECT sum(CAST(c_acctbal AS DECIMAL(12,2))) "
    "AS s, count(*) AS n FROM customer WHERE c_acctbal > 0), "
    "oc AS (SELECT o_custkey, count(*) AS n_orders FROM orders "
    "GROUP BY o_custkey) "
    "SELECT n_name, count(*) AS numcust, "
    "CAST(round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2) "
    "AS DOUBLE) AS totacctbal "
    "FROM customer "
    "LEFT JOIN oc ON c_custkey = o_custkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "WHERE CAST(c_acctbal AS DECIMAL(12,2)) * (SELECT n FROM p) "
    "> (SELECT s FROM p) "
    "AND coalesce(n_orders, 0) <= 5 "
    "GROUP BY n_name ORDER BY n_name"
))
def _q22_idle_customers(spark, sf_dir):
    """TPC-H Q22 shape: wealthy low-activity customers — balance above
    the global positive average (division-free `bal * n > sum` over
    exact decimals, broadcast scalar) with at most 5 orders. (The
    classic NO-orders anti join is structurally empty on this data —
    every customer has orders — so the threshold keeps the check
    populated while preserving the shape: per-customer order counts +
    scalar-subquery filter + dim join.)"""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    pos = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(F.col("c_acctbal").cast("decimal(12,2)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    oc = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    nation = _t(spark, sf_dir, "nation")
    return (
        cust.crossJoin(F.broadcast(pos))
        .filter(F.col("c_acctbal").cast("decimal(12,2)") * F.col("n") > F.col("s"))
        .join(oc, cust.c_custkey == oc.o_custkey, "left")
        .filter(F.coalesce(F.col("n_orders"), F.lit(0)) <= 5)
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("n_name")
    )
