"""TPC-H query shapes (SURVEY.md §2.3-2.6) as oracle-checked queries: the
classic multi-join, aggregate and top-k pipelines over the TPC-H tables, each
with a DuckDB oracle in ANSI SQL over the same parquet files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from accident_prediction_montreal_spark.functions.money import dsum
from accident_prediction_montreal_spark.plans.registry import register
from accident_prediction_montreal_spark.sources.registry import load_table


@register(
    "tpch_q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
      CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        AS revenue,
      o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey ASC
    LIMIT 20
    """,
    description="TPC-H Q3 shape: selective 3-way join → revenue agg → global top-k",
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    dec4 = lambda c: c.cast("decimal(18,4)")  # noqa: E731
    return (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, cust.c_custkey == orders.o_custkey)
        .filter(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
        .join(li, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(dec4(F.col("l_extendedprice")) * dec4(F.lit(1) - F.col("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(20)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@register(
    "tpch_q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
      CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey ASC
    LIMIT 20
    """,
    description="TPC-H Q10 shape: returned-items revenue per customer, top 20",
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    dec4 = lambda c: c.cast("decimal(18,4)")  # noqa: E731
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li.filter(F.col("l_returnflag") == "R"), li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(dec4(F.col("l_extendedprice")) * dec4(F.lit(1) - F.col("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select("c_custkey", "c_name", "n_name", "revenue")
    )


@register(
    "tpch_q6_forecast_revenue",
    oracle="""
    SELECT
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        AS revenue,
      COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
    description="TPC-H Q6 shape: tight filter conjunction fully pushed to the "
    "scan + single decimal-exact aggregate",
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    dec4 = lambda c: c.cast("decimal(18,4)")  # noqa: E731
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec4(F.col("l_extendedprice")) * dec4(F.col("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "tpch_q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name,
      CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
    description="TPC-H Q5 shape: 6-way join cycle (customer and supplier must "
    "share a nation), region filter pushed to the broadcast side, "
    "decimal-exact revenue per nation",
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)
    dec4 = lambda c: c.cast("decimal(18,4)")  # noqa: E731
    return (
        cust.join(orders, orders.o_custkey == cust.c_custkey)
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            nation.n_regionkey == region.r_regionkey,
        )
        .groupBy("n_name")
        .agg(
            F.sum(dec4(F.col("l_extendedprice")) * dec4(F.lit(1) - F.col("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "tpch_q14_promo_revenue",
    oracle="""
    SELECT
      ROUND(100.0 * CAST(CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
          THEN CAST(l.l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l.l_discount AS DECIMAL(18,4))
          ELSE CAST(0 AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE)
        / CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE),
      6) AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
      AND l.l_shipdate < TIMESTAMP '1996-04-01'
    """,
    description="TPC-H Q14 shape: conditional decimal-exact aggregate ratio "
    "(promo revenue share), month filter pushed to the scan, part side "
    "broadcast",
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    dec4 = lambda c: c.cast("decimal(18,4)")  # noqa: E731
    disc_price = dec4(F.col("l_extendedprice")) * dec4(F.lit(1) - F.col("l_discount"))
    promo = F.when(
        F.col("p_type").startswith("PROMO"), disc_price
    ).otherwise(F.lit(0).cast("decimal(18,4)"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(disc_price).cast("double"),
                6,
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "tpch_q18_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > 250
    )
    SELECT c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
      CAST(CAST(SUM(CAST(l.l_quantity AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS total_qty
    FROM orders o
    JOIN big ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
    description="TPC-H Q18 shape: HAVING-subquery semi-reduction (big orders by "
    "summed quantity) joined back for customer detail — the aggregate "
    "filter runs BEFORE the wide join, so only qualifying orders shuffle",
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    # Rename the reduction's key: `big` shares lineage with `li`, and a
    # second join against `li` would otherwise be an ambiguous self-join.
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,6)")).alias("q"))
        .filter(F.col("q") > 250)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        orders.join(big, orders.o_orderkey == big.big_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(38,6)"))
            .cast("double")
            .alias("total_qty")
        )
    )


@register(
    "tpch_q4_late_orders",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
    """,
    description="TPC-H Q4 shape (adapted to this schema's dates): EXISTS "
    "decorrelated to a left-semi join with a compound key + theta "
    "condition (l_shipdate > o_orderdate + 60 days) — each order counted "
    "once however many lineitems qualify.",
)
def tpch_q4_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    cond = (F.col("o_orderkey") == F.col("l_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q12_priority_lines",
    oracle="""
    SELECT l.l_linestatus,
      CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
      CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS low_count
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l.l_linestatus
    """,
    description="TPC-H Q12 shape: fact-side date filter pushed to the lineitem "
    "scan, join to orders, conditional-sum pivot on priority class — the "
    "CASE lives inside the aggregate so one pass produces both counters.",
)
def tpch_q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_orderpriority")
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_count"),
        )
    )


@register(
    "tpch_q7_volume_shipping",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
      CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        AS revenue
    FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE n1.n_nationkey <> n2.n_nationkey
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY 1, 2, 3
    """,
    description="TPC-H Q7 shape (all nation pairs, no literal pair filter): "
    "5-way snowflake join fanning out from the lineitem fact — supplier "
    "and customer legs each reach a broadcast nation dim — cross-nation "
    "filter, year extraction from event time, decimal-exact revenue per "
    "(supp_nation, cust_nation, year). The fact-side date range is pushed "
    "to the lineitem scan; every dimension is broadcast so the only "
    "shuffle is the final group-by.",
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    supp = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_nationkey")
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    nation = load_table(spark, "nation", sf_dir)
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    dec4 = lambda c: c.cast("decimal(18,4)")  # noqa: E731
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
        )
        .agg(
            F.sum(dec4(F.col("l_extendedprice")) * dec4(F.lit(1) - F.col("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "tpch_q13_order_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT OUTER JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
    description="TPC-H Q13 shape: customer-order count distribution — LEFT "
    "OUTER join with an extra non-equi predicate INSIDE the join condition "
    "(not a post-filter: customers with only urgent orders must still "
    "appear with count 0), COUNT of a nullable column (nulls don't "
    "count), then a second aggregation over the first's result.",
)
def tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir).select("c_custkey")
    orders = load_table(spark, "orders", sf_dir).select("o_custkey", "o_orderkey", "o_orderpriority")
    cond = (F.col("o_custkey") == F.col("c_custkey")) & (
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cond, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q16_supplier_cnt",
    oracle="""
    SELECT p.p_brand, p.p_size,
      CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size IN (1, 2, 3, 4, 5)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_size
    """,
    description="TPC-H Q16 shape (lineitem as the part-supplier bridge; this "
    "schema has no partsupp): per (brand, size) distinct supplier counts, "
    "excluding a NOT IN subquery of blacklisted suppliers — the NOT IN "
    "decorrelates to a left-anti join (safe here: keys are non-null), the "
    "IN-list prunes parts before the join, and COUNT(DISTINCT) runs as "
    "Spark's two-phase distinct aggregate.",
)
def tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).select("l_partkey", "l_suppkey")
    part = load_table(spark, "part", sf_dir).filter(
        F.col("p_size").isin(1, 2, 3, 4, 5)
    ).select("p_partkey", "p_brand", "p_size")
    bad = load_table(spark, "supplier", sf_dir).filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey")
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q22_global_sales_opportunity",
    oracle="""
    SELECT c_grp, CAST(COUNT(*) AS BIGINT) AS numcust,
      CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
        AS totacctbal
    FROM (
      SELECT CAST(c.c_custkey % 7 AS BIGINT) AS c_grp, c.c_acctbal
      FROM customer c
      WHERE c.c_acctbal > (
          SELECT AVG(c2.c_acctbal) FROM customer c2 WHERE c2.c_acctbal > 0.0
        )
        AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
        )
    )
    GROUP BY c_grp
    """,
    description="TPC-H Q22 shape (custkey%7 stands in for the phone prefix): "
    "customers above the global positive-balance average (uncorrelated "
    "scalar subquery -> one tiny broadcast) with no URGENT orders (NOT "
    "EXISTS with an extra predicate -> left-anti join against the "
    "filtered orders fact), grouped with decimal-exact balance totals.",
)
def tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(F.avg("c_acctbal").alias("a"))
        .select("a")
    )
    rich = cust.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("a"))
    return (
        rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
        .select((F.col("c_custkey") % 7).cast("long").alias("c_grp"), "c_acctbal")
        .groupBy("c_grp")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
    )


@register(
    "tpch_q2_min_cost_supplier",
    oracle="""
    WITH eu AS (
      SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
      FROM supplier s
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'
    ),
    ps AS (
      SELECT l.l_partkey, l.l_suppkey,
        MIN(l.l_extendedprice / l.l_quantity) AS supply_cost
      FROM lineitem l JOIN eu ON eu.s_suppkey = l.l_suppkey
      GROUP BY 1, 2
    )
    SELECT eu.s_acctbal, eu.s_name, eu.n_name, p.p_partkey,
      ROUND(ps.supply_cost, 6) + 0.0 AS supply_cost
    FROM part p
    JOIN ps ON ps.l_partkey = p.p_partkey
    JOIN eu ON eu.s_suppkey = ps.l_suppkey
    WHERE p.p_size = 3 AND p.p_type = 'STANDARD'
      AND ps.supply_cost = (
        SELECT MIN(ps2.supply_cost) FROM ps ps2 WHERE ps2.l_partkey = p.p_partkey
      )
    """,
    description="TPC-H Q2 shape (lineitem as the part-supplier bridge; this "
    "schema has no partsupp): cheapest EUROPEAN supplier per part — as in "
    "the spec, the correlated MIN subquery ranges over the SAME region-"
    "filtered supplier set as the outer query, and decorrelates to a "
    "per-part min aggregate joined back on (partkey, cost-equality). The "
    "region filter broadcasts down to the lineitem scan BEFORE the "
    "per-(part,supplier) aggregate, so the bridge aggregate only touches "
    "the regional slice; unit cost is MIN(price/qty), order-independent "
    "so double math is engine-exact and the equality filter is safe.",
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, "supplier", sf_dir).select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey"
    )
    nation = load_table(spark, "nation", sf_dir).select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load_table(spark, "region", sf_dir).filter(
        F.col("r_name") == "EUROPE"
    ).select("r_regionkey")
    eu = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    ps = (
        li.join(F.broadcast(eu.select("s_suppkey")), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("supply_cost"))
    )
    min_cost = ps.groupBy("l_partkey").agg(F.min("supply_cost").alias("min_cost"))
    part = (
        load_table(spark, "part", sf_dir)
        .filter((F.col("p_size") == 3) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey")
    )
    return (
        ps.join(min_cost, "l_partkey")
        .filter(F.col("supply_cost") == F.col("min_cost"))
        .join(F.broadcast(part), ps.l_partkey == part.p_partkey)
        .join(F.broadcast(eu), ps.l_suppkey == eu.s_suppkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            (F.round("supply_cost", 6) + 0.0).alias("supply_cost"),
        )
    )


@register(
    "tpch_q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
        CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
          AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
    description="TPC-H Q15 shape (the revenue view + uncorrelated MAX "
    "subquery): per-supplier quarterly revenue (decimal-exact, so the "
    "MAX-equality filter compares bit-identical doubles in both engines), "
    "the 1-row max broadcast back over the aggregate — no second scan of "
    "lineitem, matching the view reuse the spec intends.",
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec4 = lambda c: c.cast("decimal(18,4)")  # noqa: E731
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(dec4(F.col("l_extendedprice")) * dec4(F.lit(1) - F.col("l_discount")))
        .cast("double")
        .alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    supp = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "tpch_q17_small_quantity_revenue",
    oracle="""
    WITH pq AS (
      SELECT l_partkey,
        0.2 * CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / COUNT(l_quantity) AS DOUBLE)
          AS qty_lim
      FROM lineitem GROUP BY l_partkey
    )
    SELECT p.p_brand,
      CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / 7.0
        AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pq ON pq.l_partkey = l.l_partkey
    WHERE p.p_brand IN ('Brand#1', 'Brand#2') AND l.l_quantity < pq.qty_lim
    GROUP BY p.p_brand
    """,
    description="TPC-H Q17 shape (small-quantity orders below 20% of the "
    "part's average): the correlated AVG subquery decorrelates to a "
    "per-part aggregate joined back to the fact — computed with the "
    "decimal-exact davg so the 0.2x threshold is bit-identical across "
    "engines (a float AVG would make the < comparison flaky at the "
    "boundary); brand filter broadcast-prunes parts before the join.",
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.functions.money import davg

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    pq = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * davg("l_quantity")).alias("qty_lim")
    )
    part = (
        load_table(spark, "part", sf_dir)
        .filter(F.col("p_brand").isin("Brand#1", "Brand#2"))
        .select("p_partkey", "p_brand")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(pq, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_lim"))
        .groupBy("p_brand")
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double") / 7.0)
            .alias("avg_yearly")
        )
    )


@register(
    "tpch_q21_waiting_supplier",
    oracle="""
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lineitem l1
    JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R'
      )
    GROUP BY s.s_name
    """,
    description="TPC-H Q21 shape (suppliers who kept orders waiting; "
    "l_returnflag='R' stands in for receipt-after-commit, which this "
    "schema lacks): the classic EXISTS + NOT EXISTS double self-join on "
    "the fact — Spark expresses them as a compound-condition left_semi "
    "(another supplier touched the order) then left_anti (no OTHER "
    "supplier was late) against the same lineitem projection, both "
    "shuffling only (orderkey, suppkey, flag) triples; orders filter "
    "prunes to finalized orders before the semi/anti pair, supplier "
    "dimension broadcasts for the final count.",
)
def tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    supp = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_name")
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select("l_orderkey", "l_suppkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    waiting = (
        l1.join(
            l2,
            (l1.l_orderkey == l2.o2) & (l1.l_suppkey != l2.s2),
            "left_semi",
        )
        .join(
            l3,
            (l1.l_orderkey == F.col("o3")) & (l1.l_suppkey != F.col("s3")),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(supp), waiting.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "tpch_q11_important_stock",
    oracle="""
    WITH val AS (
      SELECT l.l_partkey,
        CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * CAST(l.l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
          AS part_value
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_nationkey < 13
      GROUP BY l.l_partkey
    )
    SELECT l_partkey, part_value FROM val
    WHERE part_value > (
      SELECT 1.5 * CAST(CAST(SUM(CAST(part_value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
               / COUNT(part_value)
      FROM val
    )
    """,
    description="TPC-H Q11 shape (lineitem as the part-supplier bridge, one "
    "region's stock value): per-part value sums for half the nations' "
    "suppliers, keeping parts above 1.5x the mean part value — the "
    "uncorrelated scalar subquery over the SAME aggregate. Spark computes "
    "the aggregate once, derives the 1-row threshold from it, and "
    "broadcasts it back — the view-reuse plan Q11 intends (no second "
    "lineitem scan); sums are decimal-exact so the > threshold compares "
    "identically in both engines.",
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec4 = lambda c: c.cast("decimal(18,4)")  # noqa: E731
    supp = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_nationkey")
    nation = load_table(spark, "nation", sf_dir).filter(
        F.col("n_nationkey") < 13
    ).select("n_nationkey")
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    val = (
        li.join(F.broadcast(supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)),
                li.l_suppkey == supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(
            F.sum(dec4(F.col("l_extendedprice")) * dec4(F.col("l_quantity")))
            .cast("double")
            .alias("part_value")
        )
    )
    # decimal-exact mean: part_value doubles are exact DECIMAL(18,4)
    # values, so the threshold is bit-identical in both engines (a plain
    # AVG(double) would be summation-order-dependent).
    thresh = val.agg(
        (
            F.lit(1.5)
            * F.sum(F.col("part_value").cast("decimal(18,4)")).cast("double")
            / F.count("part_value")
        ).alias("t")
    )
    return (
        val.join(F.broadcast(thresh))
        .filter(F.col("part_value") > F.col("t"))
        .select("l_partkey", "part_value")
    )


@register(
    "tpch_q19_discounted_revenue",
    oracle="""
    SELECT
      CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE
      (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
        AND l.l_quantity BETWEEN 1 AND 11)
      OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
        AND l.l_quantity BETWEEN 10 AND 20)
      OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
        AND l.l_quantity BETWEEN 20 AND 30)
    """,
    description="TPC-H Q19 shape (disjunctive mixed-table predicates): an OR "
    "of three (brand, size-range, quantity-range) conjunctions spanning "
    "both join sides. Catalyst splits the disjunction: the part-only "
    "implications (brand IN ..., size <= 15) and lineitem-only "
    "implications (quantity <= 30) push below the join as derived "
    "filters, the full OR evaluates after — the constraint-propagation "
    "shape this query exists to exercise. Revenue decimal-exact.",
)
def tpch_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec4 = lambda c: c.cast("decimal(18,4)")  # noqa: E731
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, "part", sf_dir).select("p_partkey", "p_brand", "p_size")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.sum(dec4(F.col("l_extendedprice")) * dec4(F.lit(1) - F.col("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "tpch_q20_potential_promotion",
    oracle="""
    WITH shipped AS (
      SELECT l_partkey, l_suppkey,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY 1, 2
    ),
    part_avg AS (
      SELECT l_partkey,
        CAST(CAST(SUM(CAST(qty AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / COUNT(qty)
          AS avg_qty
      FROM shipped GROUP BY l_partkey
    ),
    heavy AS (
      SELECT DISTINCT sh.l_suppkey
      FROM shipped sh
      JOIN part_avg pa ON pa.l_partkey = sh.l_partkey
      JOIN part p ON p.p_partkey = sh.l_partkey
      WHERE p.p_type = 'PROMO' AND sh.qty > 1.5 * pa.avg_qty
    )
    SELECT s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM heavy)
    """,
    description="TPC-H Q20 shape (nested correlated chain: suppliers IN "
    "(bridge rows WHERE partkey IN (filtered parts) AND qty > correlated "
    "aggregate)): per-(part,supplier) shipped quantity in 1996 compared "
    "against 1.5x the part's per-supplier average — the correlated "
    "subquery decorrelates to a per-part aggregate joined back — then "
    "the qualifying supplier set applied as a left_semi into the "
    "supplier dimension. The per-part mean is a decimal-exact sum over "
    "exact counts, keeping the 1.5x boundary engine-identical.",
)
def tpch_q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec4 = lambda c: c.cast("decimal(18,4)")  # noqa: E731
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(dec4(F.col("l_quantity"))).cast("double").alias("qty")
    )
    # qty doubles are exact DECIMAL(18,4) values -> decimal-exact mean,
    # keeping the 1.5x boundary engine-identical (plain AVG(double) is
    # summation-order-dependent).
    part_avg = shipped.groupBy("l_partkey").agg(
        (
            F.sum(F.col("qty").cast("decimal(18,4)")).cast("double") / F.count("qty")
        ).alias("avg_qty")
    )
    promo = load_table(spark, "part", sf_dir).filter(
        F.col("p_type") == "PROMO"
    ).select("p_partkey")
    heavy = (
        shipped.join(part_avg, "l_partkey")
        .join(F.broadcast(promo), shipped.l_partkey == promo.p_partkey)
        .filter(F.col("qty") > F.lit(1.5) * F.col("avg_qty"))
        .select("l_suppkey")
    )
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    return (
        supp.join(heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi")
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("s_name", "n_name")
    )


@register(
    "tpch_q8_market_share",
    oracle="""
    WITH vol AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        CAST(l.l_extendedprice AS DECIMAL(18,4))
          * CAST(1 - l.l_discount AS DECIMAL(18,4)) AS volume,
        n2.n_name AS supp_nation
      FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n1.n_regionkey
      WHERE r.r_name = 'EUROPE'
        AND p.p_type = 'PROMO'
        AND o.o_orderdate >= TIMESTAMP '1995-01-01'
        AND o.o_orderdate < TIMESTAMP '1997-01-01'
    )
    SELECT o_year,
      CAST(CAST(SUM(CASE WHEN supp_nation = 'FRANCE' THEN volume
                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE)
        / CAST(CAST(SUM(volume) AS VARCHAR) AS DOUBLE) AS mkt_share
    FROM vol
    GROUP BY o_year
    ORDER BY o_year
    """,
    description="TPC-H Q8 (national market share): 8-way snowflake from the "
    "lineitem fact — part-type filter pushed to the part scan, customer leg "
    "climbs nation->region to pin the EUROPE market, supplier leg reaches "
    "its own nation copy for the share numerator — FRANCE's share of "
    "PROMO-part revenue per order year. Every dimension (part after its "
    "filter, supplier, customer, both nation copies, region) broadcasts; "
    "the only shuffle is the per-year aggregate. Both sums are exact "
    "DECIMAL(18,4) so the share ratio divides two bit-identical doubles "
    "in either engine. Completes the join-DAG family of SURVEY §2.3 "
    "(reference joins peak at 3-way, preprocess.py:313-357; this is the "
    "deepest standard analytic join shape).",
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec4 = lambda c: c.cast("decimal(18,4)")  # noqa: E731
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_partkey", "l_suppkey", "l_orderkey", "l_extendedprice", "l_discount"
    )
    part = (
        load_table(spark, "part", sf_dir)
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    supp = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_nationkey")
    orders = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "EUROPE")
    # customer-side nation restricted to the region; supplier-side copy
    # carries the share-nation name.
    n1 = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_nationkey").alias("c_nk"))
    n2 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    vol = dec4(F.col("l_extendedprice")) * dec4(F.lit(1) - F.col("l_discount"))
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"), "left_semi")
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "FRANCE", vol).otherwise(zero)
                ).cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "tpch_q9_product_profit",
    oracle="""
    SELECT n.n_name AS nation,
      CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
      CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                      * CAST(1 - l.l_discount AS DECIMAL(18,4))
                    - CAST(p.p_retailprice * 0.5 AS DECIMAL(18,4))
                      * CAST(l.l_quantity AS DECIMAL(18,4)))
           AS VARCHAR) AS DOUBLE) AS sum_profit
    FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY 1, 2
    ORDER BY nation, o_year DESC
    """,
    description="TPC-H Q9 (product-type profit): substring LIKE filter on "
    "part name, 5-way join, profit aggregated per (supplier nation, order "
    "year) with DESC year within nation. The testdata has no partsupp "
    "table, so ps_supplycost is substituted by p_retailprice * 0.5 — "
    "exact in both engines because 0.5 is a power of two — preserving "
    "the query's defining shape: a two-sided revenue-minus-cost measure "
    "whose cost factor comes from a SECOND dimension attribute, not the "
    "fact row. Part (post-LIKE), supplier and nation broadcast; orders "
    "joins on the fact key; one shuffle at the aggregate.",
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec4 = lambda c: c.cast("decimal(18,4)")  # noqa: E731
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_partkey", "l_suppkey", "l_orderkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    part = (
        load_table(spark, "part", sf_dir)
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    supp = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_nationkey")
    nation = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_orderdate")
    profit = dec4(F.col("l_extendedprice")) * dec4(F.lit(1) - F.col("l_discount")) - dec4(
        F.col("p_retailprice") * 0.5
    ) * dec4(F.col("l_quantity"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )
