"""Relational operator family (SURVEY.md §2.1-2.10) as oracle-checked queries:
scans and filters, aggregations (grouping sets, pivots, percentiles and the
approximate and sketch aggregates, heavy hitters with their streaming twin),
joins (multi-key, semi/anti, theta, range, interval, null-safe, SCD2, Bloom
and salted skew joins), the basic window functions, set operations, sorts and
limits, SQL surface features (correlated subqueries, recursive CTEs, lateral
top-k) and the scalar, map/array, variant and pandas/UDTF function surface.
The Spark side uses the engine's operators and functions; the oracle side is
plain ANSI SQL for DuckDB over the same parquet tables.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from accident_prediction_montreal_spark import cachereg
from accident_prediction_montreal_spark.functions.cyclic import cyclic_encode
from accident_prediction_montreal_spark.functions.money import davg, dsum
from accident_prediction_montreal_spark.functions.solar import solar_elevation
from accident_prediction_montreal_spark.operators.bloomjoin import (
    bloom_semi_join,
)
from accident_prediction_montreal_spark.operators.heavyhitters import (
    heavy_hitters_exact,
)
from accident_prediction_montreal_spark.operators.windows import (
    cumulative_sum,
    top_k_per_group,
)
from accident_prediction_montreal_spark.plans.registry import checks, register
from accident_prediction_montreal_spark.sources.registry import load_table
from accident_prediction_montreal_spark.streaming.finite import (
    drain,
    read_events_stream,
    two_batch_fixture,
)


# --- S1/S2/P1-P5: scan, project, filter (pushdown-friendly) -----------------

@register(
    "s1_scan_project_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1997-01-01' AND l_quantity > 45
    """,
    description="Parquet scan with pushed filter + column pruning (S1/S2, P1, P4, P5)",
)
def s1_scan_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return li.filter(
        (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_quantity") > 45)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


# --- A1/A2: grouped aggregation (TPC-H Q1 shape) -----------------------------

@register(
    "a1_pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sum_qty,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        AS sum_disc_price,
      CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / COUNT(l_quantity) AS DOUBLE) AS avg_qty,
      CAST(CAST(CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / COUNT(l_discount) AS DOUBLE) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    description="Partial+final hash aggregation, decimal-exact sums (A1/A2)",
)
def a1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    # Products use DECIMAL(18,4): a (38,6)×(38,6) product overflows the
    # 38-digit cap (DuckDB errors; Spark silently reduces scale).
    dec4 = lambda c: c.cast("decimal(18,4)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(dec4(F.col("l_extendedprice")) * dec4(F.lit(1) - F.col("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --- A1 + J5: group-count outer-joined to the dim, zero-filled ---------------
# The reference's accident_count shape (src/preprocess.py:520-528).

@register(
    "a1_group_count_zerofill",
    oracle="""
    SELECT c.c_custkey, CAST(COALESCE(o.n_orders, 0) AS BIGINT) AS n_orders,
           COALESCE(o.max_price, 0.0) AS max_price
    FROM customer c
    LEFT JOIN (SELECT o_custkey, COUNT(*) AS n_orders, MAX(o_totalprice) AS max_price
               FROM orders GROUP BY o_custkey) o
      ON c.c_custkey = o.o_custkey
    """,
    description="Group-count + group-max + outer join to dim + zero-fill "
    "(A1, A3, J5, P10; the reference's accident_count shape "
    "preprocess.py:520-528 and street-length max road_network.py:80-82)",
)
def a1_group_count_zerofill(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    counts = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.max("o_totalprice").alias("max_price"),
    )
    return (
        cust.join(counts, cust.c_custkey == counts.o_custkey, "left")
        .na.fill({"n_orders": 0, "max_price": 0.0})
        .select(
            "c_custkey",
            F.col("n_orders").cast("long").alias("n_orders"),
            "max_price",
        )
    )


# --- A3: group-max (street-length shape, road_network.py:80-82) --------------

@register(
    "a3_group_max",
    oracle="""
    SELECT c_nationkey, MAX(c_acctbal) AS max_bal, MIN(c_acctbal) AS min_bal,
           COUNT(*) AS n_customers
    FROM customer GROUP BY c_nationkey
    """,
    description="Group max/min (A3) — exact on doubles, no rounding needed",
)
def a3_group_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, "customer", sf_dir)
        .groupBy("c_nationkey")
        .agg(
            F.max("c_acctbal").alias("max_bal"),
            F.min("c_acctbal").alias("min_bal"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


# --- A4: pivot (threshold-sweep contract, random_forest.py:174-183) ----------

@register(
    "a4_pivot",
    oracle="""
    SELECT l_returnflag,
      CAST(CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(38,6)) END) AS VARCHAR) AS DOUBLE) AS qty_o,
      CAST(CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(38,6)) END) AS VARCHAR) AS DOUBLE) AS qty_f
    FROM lineitem GROUP BY l_returnflag
    """,
    description="Pivot with pinned value list and explicit aliases (A4)",
)
def a4_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,6)")).cast("double"))
        .select(
            "l_returnflag",
            F.col("O").alias("qty_o"),
            F.col("F").alias("qty_f"),
        )
    )


# --- A8: distinct count ------------------------------------------------------

@register(
    "a8_distinct_count",
    oracle="""
    SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           CAST(1 AS BIGINT) AS approx_ok
    FROM lineitem GROUP BY l_returnflag
    """,
    description="Exact distinct aggregation (A8) plus an oracle-checkable "
    "invariant on the HLL sketch scale path: approx_count_distinct must land "
    "within 10% of the exact count (the sketch itself differs per engine, "
    "so the invariant — not the estimate — is what gets hashed)",
)
def a8_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    out = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
    )
    approx_ok = (
        F.abs(F.col("approx_parts") - F.col("n_parts"))
        <= 0.1 * F.col("n_parts")
    ).cast("long")
    return out.select(
        "l_returnflag", "n_parts", "n_supps", approx_ok.alias("approx_ok")
    )


# --- A9: cube / grouping sets -------------------------------------------------

@register(
    "a9_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    description="CUBE rollup lattice (A9)",
)
def a9_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return li.cube("l_returnflag", "l_linestatus").agg(F.count(F.lit(1)).alias("n"))


# --- J1: equi-join chain with broadcast dims ---------------------------------

@register(
    "j1_join_chain_revenue",
    oracle="""
    SELECT n.n_name, r.r_name,
      CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS revenue,
      COUNT(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
    description="Multi-table equi-join with explicit broadcast of small dims (J1)",
)
def j1_join_chain_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(dsum("o_totalprice").alias("revenue"), F.count(F.lit(1)).alias("n_orders"))
    )


# --- J2: multi-key equi-join ---------------------------------------------------

@register(
    "j2_multikey_join",
    oracle="""
    SELECT l.l_orderkey, l.l_suppkey, COUNT(*) AS n_lines
    FROM lineitem l
    JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem WHERE l_quantity > 40) d
      ON l.l_orderkey = d.l_orderkey AND l.l_suppkey = d.l_suppkey
    GROUP BY l.l_orderkey, l.l_suppkey
    """,
    description="Composite-key equi-join (J2)",
)
def j2_multikey_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    dim = li.filter(F.col("l_quantity") > 40).select("l_orderkey", "l_suppkey").distinct()
    return (
        li.join(dim, ["l_orderkey", "l_suppkey"])
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )


# --- J3: self-join ------------------------------------------------------------

@register(
    "j3_self_join_pairs",
    oracle="""
    SELECT a.l_orderkey, COUNT(*) AS n_pairs
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
    GROUP BY a.l_orderkey
    """,
    description="Self-join pair enumeration within a group (J3, street-length shape)",
)
def j3_self_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_linenumber")
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_linenumber") < F.col("b.l_linenumber")),
        )
        .groupBy(F.col("a.l_orderkey").alias("l_orderkey"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# --- J4: anti / semi join -------------------------------------------------------
# The reference emulates anti-join with left_outer + isnull (preprocess.py:450-461);
# the engine uses the first-class join types.

@register(
    "j4_semi_anti",
    oracle="""
    SELECT c_custkey, 'has_orders' AS which FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    UNION ALL
    SELECT c_custkey, 'no_orders' AS which FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
    description="Left-semi + left-anti join in one tagged output (J4 + its dual; "
    "the reference emulates anti with left_outer+isnull, preprocess.py:450-461)",
)
def j4_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    semi = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey")
        .withColumn("which", F.lit("has_orders"))
    )
    anti = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey")
        .withColumn("which", F.lit("no_orders"))
    )
    return semi.unionByName(anti)


# --- J5: full-outer join + zero-fill -------------------------------------------

@register(
    "j5_full_outer_zerofill",
    oracle="""
    SELECT
      COALESCE(c.c_custkey, o.o_custkey) AS custkey,
      CAST(COALESCE(o.n_orders, 0) AS BIGINT) AS n_orders,
      CASE WHEN c.c_custkey IS NULL THEN 0 ELSE 1 END AS known_customer
    FROM customer c
    FULL OUTER JOIN (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey) o
      ON c.c_custkey = o.o_custkey
    """,
    description="Full outer join with null-side handling (J5, P7, P10)",
)
def j5_full_outer_zerofill(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    counts = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    return (
        cust.join(counts, cust.c_custkey == counts.o_custkey, "outer")
        .select(
            F.coalesce("c_custkey", "o_custkey").alias("custkey"),
            F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
            F.when(F.col("c_custkey").isNull(), 0).otherwise(1).alias("known_customer"),
        )
    )


# --- J6: cross join -------------------------------------------------------------

@register(
    "j6_cross_join_grid",
    oracle="""
    SELECT n.n_nationkey, r.r_regionkey,
      CASE WHEN n.n_regionkey = r.r_regionkey THEN 1 ELSE 0 END AS is_home
    FROM nation n CROSS JOIN region r
    """,
    description="Cartesian grid generation (J6, dates×roads shape preprocess.py:290)",
)
def j6_cross_join_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)
    return nation.crossJoin(region).select(
        "n_nationkey",
        "r_regionkey",
        F.when(F.col("n_regionkey") == F.col("r_regionkey"), 1).otherwise(0).alias("is_home"),
    )


# --- J7: theta (non-equi residual) join ------------------------------------------

@register(
    "j7_theta_join",
    oracle="""
    SELECT p.p_partkey, COUNT(*) AS n_above_retail
    FROM lineitem l JOIN part p
      ON l.l_partkey = p.p_partkey AND l.l_extendedprice > p.p_retailprice
    GROUP BY p.p_partkey
    """,
    description="Equi-join with non-equi residual predicate (J7)",
)
def j7_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    return (
        li.join(
            F.broadcast(part),
            (li.l_partkey == part.p_partkey) & (li.l_extendedprice > part.p_retailprice),
        )
        .groupBy("p_partkey")
        .agg(F.count(F.lit(1)).alias("n_above_retail"))
    )


# --- W1/W2: top-k per group -------------------------------------------------------

@register(
    "w_topk_rank_rownum",
    oracle="""
    SELECT o_custkey, o_orderkey, CAST(rnk AS BIGINT) AS rnk, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT o_custkey, o_orderkey,
             RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rnk,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rnk <= 3
    """,
    description="Top-k per group, both semantics in one window pass: rank() keeps "
    "ties (W1, preprocess.py:74-91), row_number() breaks them "
    "deterministically (W2). rank <= row_number, so filtering on rnk "
    "keeps every row either ranking selects.",
)
def w_topk_rank_rownum(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    ties = top_k_per_group(
        orders,
        ["o_custkey"],
        [F.col("o_totalprice").desc()],
        k=3,
        rank_col="rnk",
        keep_ties=True,
    )
    rn_w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return ties.withColumn("rn", F.row_number().over(rn_w)).select(
        "o_custkey",
        "o_orderkey",
        F.col("rnk").cast("long").alias("rnk"),
        F.col("rn").cast("long").alias("rn"),
    )


# --- W3: rolling frame average ------------------------------------------------------

@register(
    "w3_rolling_avg",
    oracle="""
    SELECT user_id, event_id,
      ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN CURRENT ROW AND 1 FOLLOWING), 6) AS rolling_avg
    FROM events
    """,
    description="Rolling frame avg over next row (W3, midpoint densification shape)",
)
def w3_rolling_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(0, 1)
    return events.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w), 6).alias("rolling_avg"),
    )


# --- W5: cumulative and suffix sums ---------------------------------------------------

@register(
    "w5_running_sums",
    oracle="""
    SELECT o_custkey, o_orderkey,
      CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
           OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running_total,
      CAST(COALESCE(SUM(1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS BIGINT) AS n_later
    FROM orders
    """,
    description="Prefix (running, decimal-exact) + exclusive-suffix window "
    "aggregation over one sort (W5 both frames, random_forest.py:141-145); "
    "one shuffle serves both frames.",
)
def w5_running_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    running = cumulative_sum(
        F.col("o_totalprice").cast("decimal(38,6)"),
        ["o_custkey"],
        ["o_orderdate", "o_orderkey"],
    )
    later = cumulative_sum(
        F.lit(1), ["o_custkey"], ["o_orderdate", "o_orderkey"], reverse_exclusive=True
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        running.cast("double").alias("running_total"),
        F.coalesce(later, F.lit(0)).cast("long").alias("n_later"),
    )


# --- W6: global (unpartitioned) window -------------------------------------------------

@register(
    "w6_global_rank",
    oracle="""
    SELECT n_name, revenue,
           CAST(ROW_NUMBER() OVER (ORDER BY revenue DESC, n_name ASC) AS BIGINT) AS rn
    FROM (
      SELECT n.n_name,
        CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS revenue
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    ) t
    """,
    description="Global ordinal indexing over an aggregate (W6, preprocess.py:553)",
)
def w6_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(dsum("o_totalprice").alias("revenue"))
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    return rev.withColumn("rn", F.row_number().over(w).cast("long"))


# --- O1/O2: order by + limit --------------------------------------------------------------

@register(
    "o1_order_limit",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
    description="Global sort + limit with deterministic tie-break (O1, O2)",
)
def o1_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


# --- U1/U2: set operations ------------------------------------------------------------------

@register(
    "u_set_ops",
    oracle="""
    WITH buyers AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders),
    building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
    rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
    SELECT c_custkey, 'in_union' AS which
    FROM (SELECT * FROM building UNION SELECT * FROM rich)
    UNION ALL
    SELECT c_custkey, 'both' AS which
    FROM (SELECT * FROM building INTERSECT SELECT * FROM buyers)
    UNION ALL
    SELECT c_custkey, 'building_only' AS which
    FROM (SELECT * FROM building EXCEPT SELECT * FROM buyers)
    """,
    description="Set-operation family in one tagged output: unionByName + "
    "distinct (U1; positional-union footgun avoided), INTERSECT and "
    "EXCEPT (U2)",
)
def u_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    buyers = orders.select(F.col("o_custkey").alias("c_custkey")).distinct()
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = cust.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    union = building.unionByName(rich).distinct().withColumn("which", F.lit("in_union"))
    both = building.intersect(buyers).withColumn("which", F.lit("both"))
    only = building.exceptAll(buyers).distinct().withColumn("which", F.lit("building_only"))
    return union.unionByName(both).unionByName(only)


# --- R4: temporal split ------------------------------------------------------------------------

@register(
    "r4_temporal_split",
    oracle="""
    SELECT CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 'train' ELSE 'test' END AS split,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS total
    FROM orders GROUP BY 1
    """,
    description="Temporal train/test split on a date literal (R4, preprocess.py:511-517)",
)
def r4_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    split = F.when(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), "train"
    ).otherwise("test")
    return (
        orders.withColumn("split", split)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("total"))
    )


# --- P6/P8: IN-list filter + conditional bucketing in one pass -----------------------------------

@register(
    "p_filter_bucket",
    oracle="""
    SELECT o_orderpriority,
      CASE WHEN o_totalprice < 50000 THEN 'low'
           WHEN o_totalprice < 150000 THEN 'mid'
           ELSE 'high' END AS price_band,
      COUNT(*) AS n
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_orderstatus <> 'P'
    GROUP BY 1, 2
    """,
    description="IN-list + composed predicates (P5, P6) feeding when/otherwise "
    "conditional bucketing (P8), one scan",
)
def p_filter_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    band = (
        F.when(F.col("o_totalprice") < 50000, "low")
        .when(F.col("o_totalprice") < 150000, "mid")
        .otherwise("high")
    )
    return (
        orders.filter(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            & (F.col("o_orderstatus") != "P")
        )
        .withColumn("price_band", band)
        .groupBy("o_orderpriority", "price_band")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- P11: dedup via distinct ----------------------------------------------------------------------

@register(
    "p11_distinct",
    oracle="SELECT DISTINCT c_nationkey, c_mktsegment FROM customer",
    description="distinct() projection dedup (P11)",
)
def p11_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "customer", sf_dir).select("c_nationkey", "c_mktsegment").distinct()


# --- S9: generated dimension grid ⋈ facts -----------------------------------------------------------
# The reference's date×hour generator (preprocess.py:226-236) re-expressed with
# sequence/explode instead of a driver loop.

@register(
    "s9_generated_grid",
    oracle="""
    WITH grid AS (
      SELECT CAST(d AS DATE) AS day, h AS hour
      FROM (SELECT UNNEST(generate_series(DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY)) AS d)
      CROSS JOIN (SELECT UNNEST(range(0, 24)) AS h)
    ),
    hourly AS (
      SELECT CAST(ts AS DATE) AS day, EXTRACT(hour FROM ts) AS hour, COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT g.day, CAST(g.hour AS BIGINT) AS hour,
           CAST(COALESCE(h.n_events, 0) AS BIGINT) AS n_events
    FROM grid g LEFT JOIN hourly h ON g.day = h.day AND g.hour = h.hour
    """,
    description="Generated date×hour dim grid outer-joined to facts (S9, J5/J6)",
)
def s9_generated_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-01-30").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("day")
    )
    hours = spark.range(0, 24).select(F.col("id").cast("long").alias("hour"))
    grid = days.crossJoin(hours)
    hourly = events.groupBy(
        F.col("ts").cast("date").alias("day"),
        F.hour("ts").cast("long").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return (
        grid.join(hourly, ["day", "hour"], "left")
        .na.fill(0, ["n_events"])
        .select("day", "hour", F.col("n_events").cast("long").alias("n_events"))
    )


# --- scalar functions: JSON/regexp extraction (S-family scalar surface) -----------------------------

@register(
    "f_regexp_json_extract",
    oracle="""
    SELECT event_type,
      CAST(SUM(CAST(CAST(regexp_extract(props, '"k":\\s*([0-9]+)', 1) AS BIGINT) AS DECIMAL(38,6))) AS DOUBLE)
        AS sum_k,
      COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
    description="Regexp field extraction from JSON-ish props + agg (scalar F surface)",
)
def f_regexp_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    k = F.regexp_extract("props", r'"k":\s*([0-9]+)', 1).cast("long")
    return events.groupBy("event_type").agg(
        F.sum(k.cast("decimal(38,6)")).cast("double").alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "j_salted_skew_join",
    oracle="""
    SELECT n.n_name, COUNT(*) AS n_orders,
      CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    description="Salted skew join (X-family scale pattern): the fact side gets a "
    "deterministic per-row salt, the dim side is replicated salt_buckets "
    "times, and the join runs on (key, salt) — so one hot nation key "
    "spreads over salt_buckets tasks instead of one straggler. Salting "
    "must be RESULT-NEUTRAL, which is exactly what the oracle (a plain "
    "unsalted join) verifies.",
)
def j_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.skew import salted_join

    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    enriched = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_totalprice", "c_nationkey"
    )
    salted = salted_join(enriched, nation, key="c_nationkey", salt_buckets=8)
    return salted.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )


@register(
    "sql_correlated_subquery",
    oracle="""
    SELECT c1.c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_above_avg
    FROM customer c1
    WHERE c1.c_acctbal > (
      SELECT AVG(c2.c_acctbal) FROM customer c2
      WHERE c2.c_nationkey = c1.c_nationkey
    )
    GROUP BY c1.c_nationkey
    """,
    description="Correlated scalar subquery through the spark.sql surface: "
    "customers above their nation's average balance. Catalyst decorrelates "
    "the subquery into an aggregate + join — the same ANSI SQL text runs "
    "on both engines, evidencing the SQL entry point, not just the "
    "DataFrame API.",
)
def sql_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "customer", sf_dir).createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c1.c_nationkey, COUNT(*) AS n_above_avg
        FROM customer c1
        WHERE c1.c_acctbal > (
          SELECT AVG(c2.c_acctbal) FROM customer c2
          WHERE c2.c_nationkey = c1.c_nationkey
        )
        GROUP BY c1.c_nationkey
        """
    )


@register(
    "f_apply_in_pandas_zscore",
    oracle="""
    SELECT o_orderkey AS id,
      ROUND((o_totalprice - AVG(o_totalprice) OVER w)
            / STDDEV_SAMP(o_totalprice) OVER w, 6) AS z
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus)
    """,
    description="Batch grouped-map pandas UDF (F-family, applyInPandas): "
    "per-status z-score of order totals computed in Arrow-batched pandas, "
    "value-checked against the SQL window form — same mean/stddev(ddof=1) "
    "semantics, so a broken group boundary or dtype coercion "
    "hash-mismatches. The built-in window IS the right plan for this "
    "math; the query exists to evidence the grouped-map escape hatch.",
)
def f_apply_in_pandas_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.grouped import zscore_by_group

    orders = load_table(spark, "orders", sf_dir)
    out = zscore_by_group(orders, "o_orderstatus", "o_orderkey", "o_totalprice")
    return out.select("id", F.round("z", 6).alias("z"))


@register(
    "a_approx_percentile_invariant",
    oracle="""
    SELECT o_orderstatus,
      ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
      ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75,
      CAST(1 AS BIGINT) AS approx_ok
    FROM orders GROUP BY o_orderstatus
    """,
    description="Sketch-path percentile invariant (A-family scale path): "
    "percentile_approx's median estimate must land between the exact p25 "
    "and p75 per group — the t-digest style sketch differs per engine, so "
    "the ORDERING contract is what gets hashed, alongside the exact "
    "quartiles.",
)
def a_approx_percentile_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    out = orders.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("o_totalprice", F.lit(0.75)), 4).alias("p75"),
        F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(1000)).alias("ap50"),
    )
    ok = ((F.col("ap50") >= F.col("p25")) & (F.col("ap50") <= F.col("p75"))).cast(
        "long"
    )
    return out.select("o_orderstatus", "p25", "p75", ok.alias("approx_ok"))


@register(
    "f_date_parts",
    oracle="""
    SELECT o_orderkey,
      CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS y,
      CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS m,
      CAST(EXTRACT(day FROM o_orderdate) AS BIGINT) AS dom,
      CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
      CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow_spark,
      CAST(o_orderdate AS DATE) AS d
    FROM orders
    """,
    description="Date-part scalar surface: year/month/day/doy/dow/to_date "
    "(§2.9 date family; dow normalized to Spark's Sunday=1 convention)",
)
def f_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    dow = F.dayofweek("o_orderdate")  # Sunday=1 … Saturday=7
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("m"),
        F.dayofmonth("o_orderdate").cast("long").alias("dom"),
        F.dayofyear("o_orderdate").cast("long").alias("doy"),
        # DuckDB dayofweek is Sunday=0…Saturday=6; its +1 in the oracle
        # matches Spark's Sunday=1…Saturday=7 convention directly.
        dow.cast("long").alias("dow_spark"),
        F.col("o_orderdate").cast("date").alias("d"),
    )


@register(
    "f_string_funcs",
    oracle="""
    SELECT c_custkey,
      upper(c_name) AS name_upper,
      substr(c_name, 1, 8) AS name_prefix,
      length(c_name) AS name_len,
      concat(c_mktsegment, '#', CAST(c_nationkey AS VARCHAR)) AS seg_key,
      CAST(split_part(c_name, '#', 2) AS BIGINT) AS name_num
    FROM customer
    """,
    description="String scalar surface: upper/substr/length/concat/split "
    "(§2.9 string family)",
)
def f_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    return cust.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").cast("long").alias("name_len"),
        F.concat("c_mktsegment", F.lit("#"), F.col("c_nationkey").cast("string")).alias("seg_key"),
        F.split("c_name", "#")[1].cast("long").alias("name_num"),
    )


@register(
    "a10_percentiles",
    oracle="""
    SELECT o_orderstatus,
      ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
      ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90
    FROM orders GROUP BY o_orderstatus
    """,
    description="Exact interpolated percentiles per group (A-family extension; "
    "approx sketch variant is a8_approx_distinct's cousin at scale)",
)
def a10_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
    )


@register(
    "a8_approx_distinct",
    oracle="""
    SELECT 'a8_group_rel_err_le_15pct' AS chk, CAST(1 AS BIGINT) AS ok
    UNION ALL SELECT 'a8_global_rel_err_le_15pct', CAST(1 AS BIGINT)
    UNION ALL SELECT 'a8_all_positive', CAST(1 AS BIGINT)
    """,
    description="approx_count_distinct contracts (A8; Spark's HLL++ sketch "
    "differs bit-for-bit from DuckDB's, so the ACCURACY contract is "
    "pinned instead): per-group and global estimates of distinct "
    "l_partkey within 15% relative error of the exact count (default "
    "rsd 0.05, so 15% is 3 sigma), every estimate positive. The sketch "
    "is deterministic given the data, so the checks are stable. Oracle "
    "pins each contract to literal 1.",
)
def a8_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    per_group = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    rel_err = (
        F.abs(F.col("approx_parts") - F.col("exact_parts"))
        / F.col("exact_parts").cast("double")
    )
    row = per_group.agg(
        F.min((rel_err <= 0.15).cast("long")).alias("all_ok"),
        F.min((F.col("approx_parts") > 0).cast("long")).alias("all_pos"),
    ).crossJoin(
        li.agg(
            F.approx_count_distinct("l_partkey").alias("a"),
            F.countDistinct("l_partkey").alias("e"),
        )
    )
    return checks(row, {
        "a8_group_rel_err_le_15pct": F.col("all_ok") == 1,
        "a8_global_rel_err_le_15pct": F.abs(F.col("a") - F.col("e"))
        / F.col("e").cast("double")
        <= 0.15,
        "a8_all_positive": F.col("all_pos") == 1,
    })


@register(
    "j10_range_join",
    oracle="""
    WITH windows AS (
      SELECT s AS start_ts, s + INTERVAL 2 HOUR AS end_ts
      FROM generate_series(TIMESTAMP '2024-01-01 00:00:00',
                           TIMESTAMP '2024-01-30 18:00:00',
                           INTERVAL 6 HOUR) AS t(s)
    )
    SELECT w.start_ts, COUNT(*) AS n_events,
      CAST(CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
        AS value_sum
    FROM events e JOIN windows w
      ON e.ts >= w.start_ts AND e.ts < w.end_ts
    GROUP BY w.start_ts
    """,
    description="Point-in-interval RANGE JOIN (OSS Spark has no native "
    "range-join strategy; naive BETWEEN theta joins plan as nested-loop "
    "products): 2-hour maintenance windows every 6 hours joined to the "
    "events stream via operators/rangejoin.py — intervals exploded into "
    "the >= max-duration time cells they touch, points bucketed to the "
    "same cells, plain equi-join on the cell id, exact BETWEEN predicate "
    "post-filtered on the bounded candidate set. Candidates are bounded "
    "by intervals-per-cell (not total intervals), the hash join is AQE-"
    "sizable/skew-splittable, and the oracle is the naive BETWEEN join — "
    "same semantics, different physical strategy. Event values sum in "
    "DECIMAL(18,2): partition-order-proof.",
)
def j10_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.rangejoin import (
        point_in_interval_join,
    )

    events = load_table(spark, "events", sf_dir).select("ts", "value")
    windows = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01 00:00:00").cast("timestamp_ntz"),
                F.lit("2024-01-30 18:00:00").cast("timestamp_ntz"),
                F.expr("interval 6 hours"),
            )
        ).alias("start_ts")
    ).withColumn("end_ts", F.col("start_ts") + F.expr("interval 2 hours"))
    joined = point_in_interval_join(
        events, windows, ts_col="ts", bucket_seconds=2 * 3600
    )
    return joined.groupBy("start_ts").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
    )


@register(
    "a13_grouping_sets",
    oracle="""
    SELECT event_type,
      CAST(year(ts) * 100 + month(ts) AS BIGINT) AS ym,
      CAST(GROUPING(event_type) * 2 + GROUPING(ym) AS BIGINT) AS gid,
      COUNT(*) AS n,
      CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
        AS value_sum
    FROM events
    GROUP BY GROUPING SETS ((event_type, ym), (event_type), (ym))
    """,
    description="Arbitrary GROUPING SETS (A9's cube/rollup sibling — the "
    "three-set shape neither cube nor rollup produces: (type, month), "
    "(type), (month), but NOT the grand total): one scan, Catalyst's "
    "Expand feeds a single hash aggregate, grouping_id disambiguates the "
    "null-vs-missing dimension exactly as the oracle's GROUPING() bits. "
    "Decimal-exact sums; month key kept numeric (y*100+m) so no date "
    "formatting can drift between engines.",
)
def a13_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    ev.select(
        "event_type",
        (F.year("ts") * 100 + F.month("ts")).cast("long").alias("ym"),
        "value",
    ).createOrReplaceTempView("__gs_events")
    return spark.sql(
        """
        SELECT event_type, ym,
          CAST(grouping(event_type) * 2 + grouping(ym) AS LONG) AS gid,
          COUNT(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        FROM __gs_events
        GROUP BY GROUPING SETS ((event_type, ym), (event_type), (ym))
        """
    )


@register(
    "j12_nullsafe_join",
    oracle="""
    WITH keyed AS (
      SELECT c_custkey,
        CASE WHEN c_custkey % 11 = 0 THEN NULL
             ELSE c_nationkey % 5 END AS bucket
      FROM customer
    ),
    dim AS (
      SELECT DISTINCT bucket,
        COALESCE(CAST(bucket AS VARCHAR), 'unbucketed') AS bucket_name
      FROM keyed
    )
    SELECT d.bucket_name, CAST(COUNT(*) AS BIGINT) AS n
    FROM keyed k JOIN dim d ON k.bucket IS NOT DISTINCT FROM d.bucket
    GROUP BY d.bucket_name
    """,
    description="NULL-safe equi-join (Spark eqNullSafe <=> / SQL IS NOT "
    "DISTINCT FROM): every 11th customer's bucket key is NULL, and the "
    "null-safe join must match those rows to the dimension's NULL bucket "
    "— a plain equi-join silently drops them (the classic missed-rows "
    "bug this operator exists to prevent). Catalyst plans <=> as a "
    "hashable key, so the dim still broadcasts — no nested loop.",
)
def j12_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    keyed = load_table(spark, "customer", sf_dir).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 11 == 0, F.lit(None).cast("long"))
        .otherwise((F.col("c_nationkey") % 5).cast("long"))
        .alias("bucket"),
    )
    # the dim is DERIVED from keyed, so `keyed.bucket <=> dim.bucket`
    # compares two same-lineage attributes — Spark resolves the self-join
    # correctly but logs "trivially true equals predicate, 'bucket ==
    # bucket'" (the r13 verdict's stray-WARN hunt, sibling of the x21
    # emitter). Renaming the build side's key removes the ambiguity.
    dim = keyed.select(F.col("bucket").alias("dim_bucket")).distinct().withColumn(
        "bucket_name",
        F.coalesce(F.col("dim_bucket").cast("string"), F.lit("unbucketed")),
    )
    return (
        keyed.join(
            F.broadcast(dim), F.col("bucket").eqNullSafe(F.col("dim_bucket"))
        )
        .groupBy("bucket_name")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "p12_unpivot",
    oracle="""
    WITH long AS (
      SELECT l_orderkey, 'qty' AS measure, CAST(l_quantity AS DOUBLE) AS v
      FROM lineitem
      UNION ALL
      SELECT l_orderkey, 'price', CAST(l_extendedprice AS DOUBLE) FROM lineitem
      UNION ALL
      SELECT l_orderkey, 'disc', CAST(l_discount AS DOUBLE) FROM lineitem
    )
    SELECT measure, CAST(COUNT(*) AS BIGINT) AS n,
      CAST(CAST(SUM(CAST(v AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total
    FROM long GROUP BY measure
    """,
    description="UNPIVOT / melt (wide -> long reshaping, Spark 4 "
    "df.unpivot): three lineitem measures melted into (measure, value) "
    "rows in ONE scan — Catalyst's Expand emits 3 rows per input without "
    "re-reading the table, vs the naive 3-scan UNION ALL the oracle "
    "spells out — then aggregated per measure with decimal-exact totals. "
    "At 100 TB the single-scan property is the whole point.",
)
def p12_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey",
        F.col("l_quantity").cast("double").alias("qty"),
        F.col("l_extendedprice").cast("double").alias("price"),
        F.col("l_discount").cast("double").alias("disc"),
    )
    long = li.unpivot(
        ids=["l_orderkey"],
        values=["qty", "price", "disc"],
        variableColumnName="measure",
        valueColumnName="v",
    )
    return long.groupBy("measure").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast("decimal(18,4)")).cast("double").alias("total"),
    )


@register(
    "f_map_funcs",
    oracle="""
    WITH kv AS (
      SELECT event_type, unnest(json_keys(props)) AS k, props
      FROM events
    )
    SELECT event_type, k,
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(CAST(json_extract_string(props, '$.' || k) AS INTEGER)) AS BIGINT)
        AS v_sum,
      CAST(MAX(CAST(json_extract_string(props, '$.' || k) AS INTEGER)) AS BIGINT)
        AS v_max
    FROM kv GROUP BY event_type, k
    """,
    description="MapType column surface (schema family the fixed-column "
    "queries never touch): props parsed with from_json into "
    "map<string,long>, entries exploded with explode(map) — Spark's "
    "native key/value generator — and aggregated per (event_type, key) "
    "with integer-exact sums. All JVM-side (from_json + explode), no "
    "Python; the UDTF twin (f_udtf_json_kv) covers the imperative path, "
    "this one the declarative MapType path.",
)
def f_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select("event_type", "props")
    parsed = ev.select(
        "event_type",
        F.from_json(F.col("props"), "map<string,long>").alias("m"),
    )
    return (
        parsed.select("event_type", F.explode("m").alias("k", "v"))
        .groupBy("event_type", "k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("v_sum"),
            F.max("v").alias("v_max"),
        )
    )


@register(
    "j13_scd2_join",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      CAST(COUNT(CASE WHEN user_id % 25 < 20 THEN 1 END) AS BIGINT)
        AS n_matched,
      CAST(SUM(CASE WHEN user_id % 25 < 20
                    THEN (user_id % 25) * 10 + LEAST(2, (day(ts) - 1) // 10)
                    ELSE 0 END) AS BIGINT) AS rate_sum
    FROM events WHERE ts IS NOT NULL GROUP BY event_type
    """,
    description="SCD2 temporal dimension join (J-family extension — the "
    "versioned-dimension join every warehouse feature pipeline needs): "
    "a 20-key x 3-version dimension (10-day [valid_from, valid_to) "
    "windows, open-ended current version) derived from nation, joined "
    "to events at EVENT TIME via the AS-OF strategy "
    "(operators/scd2.py::scd2_join — latest version with valid_from <= "
    "ts through the one-shuffle sort-union as-of join, then a null-out "
    "where the matched window already closed; no interval explosion). "
    "Keys 20-24 are absent from the dim, so unmatched facts must "
    "surface NULL (n vs n_matched). The oracle computes the covering "
    "version closed-form from the event day; a broadcast-BETWEEN "
    "strategy twin is asserted equal in pytest.",
)
def j13_scd2_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.scd2 import scd2_join

    ev = load_table(spark, "events", sf_dir).filter(F.col("ts").isNotNull())
    facts = ev.select(
        "event_type", "ts", (F.col("user_id") % 25).cast("long").alias("nk")
    )
    nation = load_table(spark, "nation", sf_dir).filter(F.col("n_nationkey") < 20)
    base = F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
    dim = (
        nation.select(
            F.col("n_nationkey").cast("long").alias("nk"),
            F.explode(F.sequence(F.lit(0), F.lit(2))).alias("v"),
        )
        .select(
            "nk",
            (base + F.make_interval(days=F.col("v").cast("int") * 10)).alias(
                "valid_from"
            ),
            F.when(
                F.col("v") < 2,
                base + F.make_interval(days=(F.col("v") + 1).cast("int") * 10),
            ).alias("valid_to"),
            (F.col("nk") * 10 + F.col("v")).alias("rate"),
        )
    )
    joined = scd2_join(facts, dim, key="nk", ts_col="ts", strategy="asof")
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("rate_dim").alias("n_matched"),
        F.sum(F.coalesce("rate_dim", F.lit(0))).cast("long").alias("rate_sum"),
    )


@register(
    "f_variant_json",
    oracle="""
    SELECT event_type,
      CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
      CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max,
      CAST(SUM(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS k_nulls,
      CAST(SUM(CASE WHEN json_extract(props, '$.missing') IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS missing_nulls
    FROM events GROUP BY event_type
    """,
    description="Spark 4 VARIANT semi-structured analytics (the §2.9 JSON "
    "surface's shredding-era successor: parse once into the binary "
    "VARIANT encoding, extract typed paths with variant_get — at scale "
    "the parse cost is paid once per row instead of once per "
    "get_json_object call, and Parquet variant shredding makes the "
    "paths column-prunable): events.props parses to VARIANT, $.k is "
    "extracted as a typed bigint (try_variant_get, so malformed or "
    "missing keys surface as NULL, not errors), and an absent path "
    "must be NULL for every row. Oracle uses DuckDB's json_extract on "
    "the same strings — the ENCODING differs, the semantics must not.",
)
def f_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).withColumn(
        "v", F.parse_json("props")
    )
    k = F.try_variant_get("v", "$.k", "bigint")
    missing = F.try_variant_get("v", "$.missing", "bigint")
    return ev.groupBy("event_type").agg(
        F.sum(k).cast("long").alias("k_sum"),
        F.max(k).cast("long").alias("k_max"),
        F.sum(k.isNull().cast("long")).alias("k_nulls"),
        F.sum(missing.isNull().cast("long")).alias("missing_nulls"),
    )


@register(
    "sql_recursive_cte",
    oracle="""
    WITH RECURSIVE walk(suppkey, node, depth) AS (
      SELECT s_suppkey, s_suppkey, 0 FROM supplier
      UNION ALL
      SELECT suppkey, node // 2, depth + 1 FROM walk WHERE node > 1
    )
    SELECT depth, CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(suppkey) AS BIGINT) AS key_sum
    FROM walk GROUP BY depth
    """,
    description="RECURSIVE CTE (Spark 4 WITH RECURSIVE — the iterative "
    "hierarchy walk SQL engines need for org charts / BOM explosions, "
    "previously only expressible as a driver-side loop of joins): every "
    "supplier walks the implicit binary-tree ancestry node -> node/2 "
    "down to the root, emitting one row per (supplier, ancestor-level); "
    "the per-depth rollup counts walkers and sums their keys. Identical "
    "recursive SQL runs on DuckDB (integer division spelled // there, "
    "DIV here), so a wrong fixpoint (missed iteration, premature "
    "termination, duplicated seed) changes row counts at some depth and "
    "hash-mismatches.",
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "supplier", sf_dir).createOrReplaceTempView("rcte_supplier")
    return spark.sql(
        """
        WITH RECURSIVE walk(suppkey, node, depth) AS (
          SELECT s_suppkey, s_suppkey, 0 FROM rcte_supplier
          UNION ALL
          SELECT suppkey, node DIV 2, depth + 1 FROM walk WHERE node > 1
        )
        SELECT depth, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(suppkey) AS BIGINT) AS key_sum
        FROM walk GROUP BY depth
        """
    )


@register(
    "f_array_hof",
    oracle="""
    WITH el AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS x,
             len(embedding) AS n
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, i, n, x,
             CAST(ROUND(ABS(x) * 1000) AS BIGINT) AS absq
      FROM el
    ),
    dot AS (
      SELECT a.vec_id,
             CAST(SUM(CAST(ROUND(a.x * b.x * 1000) AS BIGINT)) AS BIGINT)
               AS revdot_q
      FROM q a JOIN q b ON b.vec_id = a.vec_id AND b.i = a.n + 1 - a.i
      GROUP BY a.vec_id
    ),
    top3 AS (
      SELECT vec_id, CAST(SUM(absq) AS BIGINT) AS top3_q FROM (
        SELECT vec_id, absq,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY absq DESC) AS rn
        FROM q) t WHERE rn <= 3 GROUP BY vec_id
    ),
    base AS (
      SELECT vec_id, CAST(MAX(n) AS INT) AS dim,
        CAST(SUM(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS INT) AS n_pos,
        CAST(SUM(absq) AS BIGINT) AS l1_q
      FROM q GROUP BY vec_id
    )
    SELECT base.vec_id, dim, n_pos, l1_q, revdot_q, top3_q
    FROM base JOIN dot ON dot.vec_id = base.vec_id
    JOIN top3 ON top3.vec_id = base.vec_id
    """,
    description="Higher-order array-function surface (F-family, next to "
    "f_map_funcs/f_udtf): transform / filter / aggregate / zip_with / "
    "reverse / sort_array / slice over the embedding column, all JVM-"
    "side codegen'd lambdas — ZERO Python, zero explode-shuffle: every "
    "per-vector statistic (dimension, positive count, L1 norm, dot with "
    "the reversed vector, top-3 component sum) is computed inside one "
    "narrow projection, where the oracle needs an unnest + self-join + "
    "rank window to say the same thing. Values are quantized to integer "
    "milli-units BEFORE summation (float folds are association-order-"
    "sensitive; integer sums are exact in both engines). Documents the "
    "HOF pitfalls the minhash operator hit: no common-subexpression "
    "elimination inside lambda bodies, so the quantized array is built "
    "ONCE and reused by name, never re-derived per use.",
)
def f_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL embeddings drop (degenerate-vector contract): the oracle's
    # unnest yields no rows for a NULL list, so the mirrored semantics
    # is absence, not a row of NULL statistics (r14 embeddings fuzz).
    emb = (
        load_table(spark, "embeddings", sf_dir)
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    e = F.transform("embedding", lambda x: x.cast("double"))
    out = emb.select(
        "vec_id",
        e.alias("e"),
    ).select(
        "vec_id",
        F.size("e").alias("dim"),
        F.size(F.filter("e", lambda x: x > 0)).alias("n_pos"),
        F.transform("e", lambda x: F.round(F.abs(x) * 1000).cast("long")).alias("absq"),
        F.zip_with(
            "e",
            F.reverse("e"),
            lambda x, y: F.round(x * y * 1000).cast("long"),
        ).alias("dq"),
    ).select(
        "vec_id",
        "dim",
        "n_pos",
        F.aggregate("absq", F.lit(0).cast("long"), lambda acc, x: acc + x).alias("l1_q"),
        F.aggregate("dq", F.lit(0).cast("long"), lambda acc, x: acc + x).alias(
            "revdot_q"
        ),
        F.aggregate(
            F.slice(F.sort_array("absq", asc=False), 1, 3),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("top3_q"),
    )
    return out


# --- §2.9 composites: cyclic + solar features ------------------------------------------

_TWO_PI_24 = 2.0 * math.pi / 24.0


@register(
    "f_cyclic_encode",
    oracle=f"""
    SELECT DISTINCT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
      ROUND(cos(EXTRACT(hour FROM ts) * {_TWO_PI_24!r}), 6) + 0.0 AS hour_cos,
      ROUND(sin(EXTRACT(hour FROM ts) * {_TWO_PI_24!r}), 6) + 0.0 AS hour_sin
    FROM events
    """,
    description="Cyclic (cos, sin) feature encoding (§2.9, preprocess.py:401-419)",
)
def f_cyclic_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    hour = F.hour("ts")
    cos_c, sin_c = cyclic_encode(hour, 24.0)
    return events.select(
        hour.cast("long").alias("hour"),
        # + 0.0 folds IEEE −0.0 into +0.0 (cross-engine repr parity).
        (F.round(cos_c, 6) + 0.0).alias("hour_cos"),
        (F.round(sin_c, 6) + 0.0).alias("hour_sin"),
    ).distinct()


def _solar_oracle() -> str:
    two_pi_365 = 2.0 * math.pi / 365.0
    # DST offset (post-2007 rule): DuckDB dayofweek is Sunday=0, so the
    # first Sunday on/after a date d is d + (7 - dayofweek(d)) % 7 days.
    y = "EXTRACT(year FROM o_orderdate)"
    mar8 = f"make_date(CAST({y} AS INT), 3, 8)"
    nov1 = f"make_date(CAST({y} AS INT), 11, 1)"
    dst_start = (
        f"(CAST({mar8} + to_days(CAST((7 - dayofweek({mar8})) % 7 AS INT)) AS TIMESTAMP)"
        f" + INTERVAL 2 HOUR)"
    )
    dst_end = (
        f"(CAST({nov1} + to_days(CAST((7 - dayofweek({nov1})) % 7 AS INT)) AS TIMESTAMP)"
        f" + INTERVAL 2 HOUR)"
    )
    off = (
        f"(CASE WHEN o_orderdate > {dst_start} AND o_orderdate < {dst_end} "
        f"THEN CAST(-4.0 AS DOUBLE) ELSE CAST(-5.0 AS DOUBLE) END)"
    )
    doy = "dayofyear(o_orderdate)"
    decl = f"radians(-23.45 * cos({two_pi_365!r} * ({doy} + 10)))"
    d = f"({two_pi_365!r} * {doy})"
    eot = f"(-7.655 * sin({d}) + 9.873 * sin({d} * 2 + 3.588))"
    tc = f"(4.0 * ((-73.554) - 15.0 * {off}) + {eot})"
    lsh = f"((o_orderkey % 24) + 0.5 + {tc} / 60.0)"
    ha = f"(0.2618 * ({lsh} - 12.0))"
    elev = (
        f"degrees(asin(sin({decl}) * sin(radians(45.5078)) "
        f"+ cos({decl}) * cos(radians(45.5078)) * cos({ha})))"
    )
    return (
        f"SELECT o_orderkey, {off} AS utc_offset, "
        f"ROUND({elev}, 6) + 0.0 AS solar_elev FROM orders"
    )


@register(
    "f_solar_elevation",
    oracle=_solar_oracle(),
    description="Solar-elevation geometry pipeline with DST-aware local-time "
    "offset (§2.9, solar_features.py:6-79): eastern_utc_offset_hours derives "
    "the −4/−5 UTC offset from the post-2007 DST rule instead of the "
    "reference's hardcoded per-year chain, and feeds the hour-angle chain.",
)
def f_solar_elevation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.functions.solar import (
        eastern_utc_offset_hours,
    )

    orders = load_table(spark, "orders", sf_dir)
    offset = eastern_utc_offset_hours("o_orderdate")
    elev = solar_elevation(
        date="o_orderdate",
        hour=F.col("o_orderkey") % 24,
        lat=F.lit(45.5078),
        lon=F.lit(-73.554),
        utc_offset_hours=offset,
    )
    return orders.select(
        "o_orderkey",
        offset.alias("utc_offset"),
        (F.round(elev, 6) + 0.0).alias("solar_elev"),
    )


@register(
    "f_pandas_grouped_agg",
    oracle="""
    SELECT event_type,
      ROUND(
        CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE)
        / NULLIF(CAST(SUM(CAST(ABS(value) AS DECIMAL(38,6))) AS DOUBLE), 0),
        6) AS selfweighted
    FROM events
    WHERE value IS NOT NULL
    GROUP BY event_type
    """,
    description="GROUPED_AGG pandas UDF (completing the SURVEY 2.10 F7/F8 "
    "pandas surface next to mapInPandas and applyInPandas): a |x|-weighted "
    "mean per event_type computed by an Arrow-batched vectorized aggregate "
    "inside a regular .agg() call. Partial aggregation does not apply to "
    "pandas UDAFs (full shuffle of the group's rows), which is exactly why "
    "the engine keeps them OFF the default path — built-in sum/count pairs "
    "express most reductions; this query documents the escape hatch and "
    "value-checks its arithmetic. The UDAF reduces DECIMAL(38,6)-cast "
    "components (exact, order-independent sums — a double accumulation "
    "over shuffle-ordered rows can flip the 6th decimal between runs) and "
    "divides the exact sums as doubles afterward; an all-zero group "
    "returns NULL, matching SQL division-by-zero.",
)
def f_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _selfweighted(num, den):
        # Arrow hands DECIMAL(38,6) to pandas as exact decimal.Decimal
        # objects: both sums are order-independent integers-scaled-by-1e6,
        # so the ratio is bit-stable across shuffles and matches the
        # oracle's decimal SUMs exactly.
        d = den.sum()
        if d == 0:
            return None
        return float(num.sum()) / float(d)

    # Real (non-string) annotations: this module uses postponed annotation
    # evaluation (PEP 563), which would hand pandas_udf string hints it
    # cannot infer the GROUPED_AGG signature from.
    _selfweighted.__annotations__ = {"num": pd.Series, "den": pd.Series, "return": float}
    selfweighted = pandas_udf(_selfweighted, "double")

    events = load_table(spark, "events", sf_dir).filter(F.col("value").isNotNull())
    events = events.withColumn(
        "_num", (F.col("value") * F.col("value")).cast("decimal(38,6)")
    ).withColumn("_den", F.abs(F.col("value")).cast("decimal(38,6)"))
    return (
        events.groupBy("event_type")
        .agg(F.round(selfweighted("_num", "_den"), 6).alias("selfweighted"))
    )


@register(
    "f_udtf_json_kv",
    oracle="""
    WITH kv AS (
      SELECT event_id, unnest(json_keys(props)) AS k, props
      FROM events
    )
    SELECT k, COUNT(*) AS n,
      CAST(SUM(CAST(json_extract_string(props, '$.' || k) AS INTEGER)) AS BIGINT)
        AS v_sum
    FROM kv GROUP BY k
    """,
    description="REAL Python UDTF (SURVEY §2.10 F-surface completion — the "
    "reference's de-facto UDTF is scalar-UDF-returns-array + explode, "
    "weather.py:161-181; Spark 4's @udtf is the first-class form): a "
    "table function yielding one (key, value) row per JSON property of "
    "the events props column, applied via correlated LATERAL join, then "
    "aggregated per key with an integer-exact value sum. Arrow-batched "
    "like any Python UDF; variable-row-count output per input row is the "
    "part no scalar UDF can express.",
)
def f_udtf_json_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="k string, v string")
    class JsonKV:
        def eval(self, props: str):
            import json

            if props:
                try:
                    for key, val in json.loads(props).items():
                        yield (str(key), str(val))
                except (ValueError, AttributeError):
                    return

    name = "json_kv_r6"
    spark.udtf.register(name, JsonKV)
    ev = load_table(spark, "events", sf_dir).select("event_id", "props")
    ev.createOrReplaceTempView("__udtf_events")
    return spark.sql(
        f"""
        SELECT t.k, COUNT(*) AS n,
          CAST(SUM(CAST(t.v AS LONG)) AS LONG) AS v_sum
        FROM __udtf_events e, LATERAL {name}(e.props) t
        GROUP BY t.k
        """
    )


@register(
    "j14_bloom_semi_join",
    oracle="""
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
        AS price_sum
    FROM lineitem l
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_orderkey = l.l_orderkey
                    AND o.o_orderpriority = '1-URGENT')
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    description="Bloom-PREFILTERED semi-join (J-surface; operators/"
    "bloomjoin.py): lineitem vs urgent orders. The Bloom bitmap is "
    "built distributed (explode k hash positions, groupBy bit_or into "
    "64-bit words — a 128 KiB table for 2^20 bits REGARDLESS of build "
    "cardinality), broadcast, and applied as k bit-tests that reject "
    "probe rows map-side BEFORE the exact semi-join — at 10^9 build "
    "keys the raw key set cannot broadcast but the bitmap still can, "
    "and only Bloom survivors reach the shuffle. Exactness is "
    "guaranteed by the no-false-negative property plus the final exact "
    "join (pytest pins the superset contract); the oracle is the plain "
    "EXISTS semi-join.",
)
def j14_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    hits = bloom_semi_join(
        li, orders, "l_orderkey", "o_orderkey", num_bits=1 << 20, k=3
    )
    return (
        hits.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("price_sum"),
        )
        .orderBy("l_returnflag")
    )


# Shared by the batch (a17) and streaming (st_heavy_hitters_stream)
# heavy-hitter paths: both must produce the exact thresholded counts.
_HH_ORACLE = """
    WITH keyed AS (
      SELECT CASE WHEN event_id % 2 = 0 THEN event_id % 5
                  ELSE event_id END AS hh_key
      FROM events
    )
    SELECT hh_key, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM keyed GROUP BY hh_key
    HAVING COUNT(*) > 0.05 * (SELECT COUNT(*) FROM keyed)
    ORDER BY hh_key
    """


@register(
    "a17_heavy_hitters",
    oracle=_HH_ORACLE,
    description="Exact HEAVY HITTERS without shuffling the long tail "
    "(A-surface; operators/heavyhitters.py, Misra-Gries 1982): a "
    "synthetic skewed key (half the events collapse onto 5 keys, half "
    "stay unique — the web-scale shape) is summarized per partition by "
    "a capacity-41 Misra-Gries sketch in mapInPandas (vectorized "
    "value_counts, batches of one partition share one summary), whose "
    "survivor union provably contains every key above the n/(c+1) "
    "pigeonhole floor; a broadcast semi-join then exactly recounts "
    "ONLY the candidates. The million-key tail never reaches a "
    "shuffle — groupBy(key) at 100 TB shuffles every distinct key, "
    "this ships <= capacity rows per partition. Oracle is the direct "
    "GROUP BY HAVING.",
)
def a17_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    keyed = ev.select(
        F.when(F.col("event_id") % 2 == 0, F.col("event_id") % 5)
        .otherwise(F.col("event_id"))
        .alias("hh_key")
    )
    return (
        heavy_hitters_exact(keyed, "hh_key", threshold_frac=0.05)
        .select("hh_key", F.col("cnt").cast("long"))
        .orderBy("hh_key")
    )


@register(
    "a18_skyline_pareto",
    oracle="""
    SELECT p.p_partkey, p.p_retailprice AS price,
      CAST(p.p_size AS INT) AS size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    ORDER BY p.p_partkey
    """,
    description="SKYLINE / Pareto-frontier query (A-surface extension; "
    "operators/skyline.py): parts no other part dominates (cheaper or "
    "equal price AND larger or equal size, one strict). Canonical "
    "two-phase distributed skyline: per-partition frontiers via an "
    "incremental vectorized mapInPandas sweep (sound: a global skyline "
    "member is non-dominated in its own partition, so local pruning "
    "never loses one), then an exact aggregate sweep over the pruned "
    "union — groupBy(price) max, running max over the small distinct-"
    "price table, broadcast join back. The O(n^2) NOT EXISTS is the "
    "oracle's job, never the engine's.",
)
def a18_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.skyline import skyline_2d

    pts = load_table(spark, "part", sf_dir).select(
        "p_partkey",
        F.col("p_retailprice").alias("price"),
        F.col("p_size").cast("int").alias("size"),
    )
    return skyline_2d(pts, "price", "size").select(
        "p_partkey", "price", "size"
    ).orderBy("p_partkey")


@register(
    "a21_approx_topk_invariant",
    oracle="""
    SELECT 'topk_items_match_exact' AS chk, CAST(1 AS BIGINT) AS ok
    UNION ALL SELECT 'topk_counts_exact_on_skew', CAST(1 AS BIGINT)
    UNION ALL SELECT 'topk_ordered_desc', CAST(1 AS BIGINT)
    ORDER BY chk
    """,
    description="approx_top_k SKETCH contract (Spark 4 Datasketches "
    "frequent-items surface, the sketch sibling of a17's exact "
    "Misra-Gries path): the same synthetic skewed key (5 heavy keys "
    "holding ~10% of rows each, a unique tail) goes through "
    "approx_top_k(5, 10000); with maxItemsTracked far above the "
    "stream's distinct count per tracker the estimates are EXACT, so "
    "the contract pins (a) the returned item set equals the exact "
    "top-5 by count, (b) every returned count equals the exact "
    "groupBy count, (c) descending count order. Literal invariant "
    "oracle, a8/x15's pattern.",
)
def a21_approx_topk_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    keyed = ev.select(
        F.when(F.col("event_id") % 2 == 0, F.col("event_id") % 5)
        .otherwise(F.col("event_id"))
        .alias("hh_key")
    )
    sketch = keyed.agg(
        F.expr("approx_top_k(hh_key, 5, 10000)").alias("tk")
    )
    exact = (
        keyed.groupBy("hh_key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("hh_key").asc())
        .limit(5)
        .agg(
            F.sort_array(F.collect_list(F.struct("hh_key", "cnt"))).alias("ex")
        )
    )
    both = sketch.crossJoin(exact)
    items_sorted = F.sort_array(
        F.transform(F.col("tk"), lambda e: F.struct(e["item"].alias("hh_key"),
                                                    e["count"].alias("cnt")))
    )
    counts_desc = F.transform(F.col("tk"), lambda e: e["count"])
    ordered_ok = F.aggregate(
        F.zip_with(
            counts_desc,
            F.slice(counts_desc, 2, F.size(counts_desc)),
            lambda a, b: (a >= b).cast("int"),
        ),
        F.lit(1),
        lambda acc, x: acc * F.coalesce(x, F.lit(1)),
    ) == 1
    # TIE-ROBUST invariants (r14 events-table fuzz): when several keys
    # share the k-th count, approx_top_k and the exact query may pick
    # DIFFERENT — equally valid — boundary items, so struct-for-struct
    # equality over-asserts. What IS invariant under ties: (1) the
    # count MULTISET matches exactly (the sketch capacity exceeds the
    # distinct count, so per-item counts are exact), and (2) every item
    # STRICTLY above the boundary count appears in the sketch's top-k.
    sk_counts_desc = F.reverse(F.sort_array(counts_desc))
    ex_counts_desc = F.reverse(
        F.sort_array(F.transform(F.col("ex"), lambda e: e["cnt"]))
    )
    boundary = F.element_at(ex_counts_desc, F.size(ex_counts_desc))
    sk_items = F.transform(F.col("tk"), lambda e: e["item"])
    strict_above = F.filter(F.col("ex"), lambda e: e["cnt"] > boundary)
    return checks(both, {
        "topk_counts_exact_on_skew": sk_counts_desc == ex_counts_desc,
        "topk_items_match_exact": F.forall(
            strict_above, lambda e: F.array_contains(sk_items, e["hh_key"])
        ),
        "topk_ordered_desc": ordered_ok,
    }).orderBy("chk")


@register(
    "st_heavy_hitters_stream",
    oracle=_HH_ORACLE,
    description="STREAMING heavy hitters — the stateful twin of a17 "
    "(§2.12 x operators/heavyhitters.py; streaming/stateful.py::"
    "sharded_heavy_hitter_candidates): the skewed-key events stream "
    "arrives as two micro-batches; per HASH SHARD (16-way — a single "
    "global summary would funnel the stream through one state key, "
    "shards spread the state store across the cluster) an "
    "applyInPandasWithState Misra-Gries summary absorbs each batch "
    "(vectorized value_counts merge, decrement-by-min eviction, state "
    "= two parallel arrays). A key's whole stream lands in one shard, "
    "so the pigeonhole superset guarantee survives sharding; the "
    "update-mode candidate snapshots are then exactly recounted "
    "batch-side and thresholded. Oracle: the SAME GROUP BY HAVING as "
    "the batch a17 — stream state and batch must agree exactly.",
)
def st_heavy_hitters_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.streaming.stateful import (
        sharded_heavy_hitter_candidates,
    )

    raw = read_events_stream(spark, two_batch_fixture(sf_dir), max_files_per_trigger=1)
    hh_key = (
        F.when(F.col("event_id") % 2 == 0, F.col("event_id") % 5)
        .otherwise(F.col("event_id"))
        .alias("hh_key")
    )
    keyed = raw.select(hh_key).select(
        F.pmod(F.xxhash64("hh_key"), F.lit(16)).cast("int").alias("shard"), "hh_key"
    )
    cand_log = drain(sharded_heavy_hitter_candidates(keyed, capacity=41), "update")
    candidates = cand_log.select("hh_key").distinct()

    batch_keyed = load_table(spark, "events", sf_dir).select(hh_key)
    n = batch_keyed.count()
    return (
        batch_keyed.join(F.broadcast(candidates), on="hh_key", how="left_semi")
        .groupBy("hh_key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 0.05 * n)
        .select("hh_key", F.col("cnt").cast("long"))
        .orderBy("hh_key")
    )


@register(
    "j16_interval_overlap",
    oracle="""
    WITH a AS (
      SELECT user_id, ts AS a_start,
        ts + INTERVAL 1 MINUTE * CAST(FLOOR(value) AS INT) AS a_end
      FROM events WHERE event_type = 'click'
    ),
    b AS (
      SELECT user_id, ts AS b_start,
        ts + INTERVAL 1 MINUTE * CAST(FLOOR(value) AS INT) AS b_end
      FROM events WHERE event_type = 'purchase'
    )
    SELECT a.user_id, CAST(COUNT(*) AS BIGINT) AS n_overlaps,
      CAST(SUM(epoch_us(LEAST(a_end, b_end))
               - epoch_us(GREATEST(a_start, b_start))) AS BIGINT) AS overlap_us
    FROM a JOIN b ON a.user_id = b.user_id
     AND a.a_start < b.b_end AND b.b_start < a.a_end
    GROUP BY a.user_id ORDER BY a.user_id
    """,
    description="Interval-INTERVAL overlap join (J-surface; operators/"
    "rangejoin.py::interval_overlap_join — the two-sided sibling of "
    "j10's point-in-interval): click activity windows vs purchase "
    "windows per user (duration = floor(value) minutes). Both sides "
    "explode onto 6h time cells and hash-equi-join on (user, cell); a "
    "pair sharing many cells is emitted ONLY in the canonical cell "
    "containing its overlap start — exactly-once by construction, no "
    "dropDuplicates shuffle. Overlap micros summed as exact BIGINT. "
    "Oracle is the naive per-user theta join; candidate pairs in the "
    "engine are bounded by cell co-location, never |A| x |B|.",
)
def j16_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    ev = load_table(spark, "events", sf_dir)
    dur = F.expr("make_interval(0, 0, 0, 0, 0, CAST(FLOOR(value) AS INT), 0)")
    a = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("a_start"),
        (F.col("ts") + dur).alias("a_end"),
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("b_start"),
        (F.col("ts") + dur).alias("b_end"),
    )
    pairs = interval_overlap_join(a, b, keys=["user_id"])
    # event time is TIMESTAMP_NTZ engine-wide; epoch_us is the
    # session-TZ-independent micros extraction for that flavor
    from accident_prediction_montreal_spark.sources.registry import epoch_us

    dur_us = epoch_us(F.least("a_end", "b_end"), "timestamp_ntz") - epoch_us(
        F.greatest("a_start", "b_start"), "timestamp_ntz"
    )
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_overlaps"),
            F.sum(dur_us).cast("long").alias("overlap_us"),
        )
        .orderBy("user_id")
    )


@register(
    "sql_lateral_topk",
    oracle="""
    WITH ranked AS (
      SELECT n.n_name, c.c_name, ROUND(c.c_acctbal, 2) AS c_acctbal,
        ROW_NUMBER() OVER (PARTITION BY n.n_nationkey
                           ORDER BY c.c_acctbal DESC, c.c_name) AS rn
      FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
    )
    SELECT n_name, c_name, c_acctbal FROM ranked WHERE rn <= 3
    """,
    description="SQL LATERAL correlated subquery (relational surface next "
    "to the correlated-EXISTS and recursive-CTE queries): top-3 "
    "customers by account balance PER NATION via JOIN LATERAL "
    "(... ORDER BY ... LIMIT 3) — the per-row-subquery syntax analysts "
    "reach for. Catalyst DECORRELATES it into the same windowed-rank "
    "plan the oracle spells out explicitly (DomainJoin -> rank filter), "
    "so the declarative form pays no per-row execution at scale — that "
    "equivalence is exactly what the oracle checks.",
)
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "nation", sf_dir).createOrReplaceTempView("lat_nation")
    load_table(spark, "customer", sf_dir).createOrReplaceTempView("lat_customer")
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, ROUND(t.c_acctbal, 2) AS c_acctbal
        FROM lat_nation n
        JOIN LATERAL (
          SELECT c_name, c_acctbal
          FROM lat_customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_name
          LIMIT 3
        ) t
        """
    )


def _rfm_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user (recency_s, frequency, monetary) aggregate — shared by the
    approx-edge default and the exact-ntile parity twin. ONE map-side-
    combined aggregate over events; the anchor (global max ts) is then an
    aggregate of the PERSISTED per-user rows — |users| ≪ |events| — so
    events is scanned exactly once and the anchor is still a 1-row
    broadcast, never a driver collect."""
    ev = load_table(spark, "events", sf_dir)
    base = cachereg.generation("plans.a26_rfm_base").persist(
        ev.groupBy("user_id").agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("monetary"),
        )
    )
    anchor = base.agg(F.max("last_ts").alias("amax"))
    return (
        base.crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            (F.unix_timestamp("amax") - F.unix_timestamp("last_ts"))
            .cast("long")
            .alias("recency_s"),
            "frequency",
            "monetary",
        )
    )


_RFM_USERS_SQL = """
    WITH anchor AS (SELECT MAX(ts) AS amax FROM events),
    u AS (
      SELECT user_id,
        date_diff('second', MAX(ts), (SELECT amax FROM anchor)) AS recency_s,
        CAST(COUNT(*) AS BIGINT) AS frequency,
        CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
          AS monetary
      FROM events GROUP BY user_id
    )"""


@register(
    "a26_rfm_segmentation",
    oracle=f"""
    {_RFM_USERS_SQL}
    SELECT metric,
      CAST(n_users AS BIGINT) AS n_users,
      value_min, value_max,
      TRUE AS edges_monotone, TRUE AS bins_within_edges,
      TRUE AS counts_match
    FROM (
      SELECT 'frequency' AS metric, COUNT(*) AS n_users,
        CAST(MIN(frequency) AS DOUBLE) AS value_min,
        CAST(MAX(frequency) AS DOUBLE) AS value_max FROM u
      UNION ALL
      SELECT 'monetary', COUNT(*), MIN(monetary), MAX(monetary) FROM u
      UNION ALL
      SELECT 'recency_s', COUNT(*), CAST(MIN(recency_s) AS DOUBLE),
        CAST(MAX(recency_s) AS DOUBLE) FROM u
    ) ORDER BY metric
    """,
    description="RFM SEGMENTATION, the 100-TB default: per-user recency/"
    "frequency/decimal-exact monetary from one map-side-combined "
    "aggregate, then QUINTILE BINNING AGAINST approx_percentile EDGES "
    "(20/40/60/80th, accuracy 10000) — a 1-row broadcast of the edge "
    "arrays and a per-row bin assignment, so NO global single-partition "
    "ntile sort exists anywhere in the plan (the r7-flagged scale "
    "killer; the exact-ntile form survives as the "
    "a26_rfm_segmentation_exact parity twin). Because sketch edges are "
    "engine-specific, the oracle checks INVARIANTS that hold for ANY "
    "valid edge set plus exact per-metric aggregates: user count and "
    "global min/max (value-exact both engines), edge monotonicity, "
    "every bin's [min,max] inside its half-open edge interval, and bin "
    "counts summing to the user count.",
)
def a26_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = cachereg.generation("plans.a26_rfm").persist(_rfm_users(spark, sf_dir))
    qs = F.array(F.lit(0.2), F.lit(0.4), F.lit(0.6), F.lit(0.8))
    # MELT to (metric, v) rows, then ONE percentile_approx aggregation
    # keyed by metric and ONE bin/invariant pipeline over the melted
    # rows. The r8 form built three per-metric union branches that each
    # re-evaluated the (unpersisted) edge-sketch subtree — 3 full
    # accuracy-10000 sketch passes where one suffices (r8 verdict #4).
    melted = u.select(
        F.expr(
            "stack(3, 'recency_s', CAST(recency_s AS DOUBLE),"
            " 'frequency', CAST(frequency AS DOUBLE),"
            " 'monetary', monetary) AS (metric, v)"
        )
    )
    edges_m = melted.groupBy("metric").agg(
        F.percentile_approx("v", qs, 10000).alias("edges")
    )
    e, v = F.col("edges"), F.col("v")
    # bin b = 1 + #edges strictly below v  =>  every member satisfies
    # e[b-1] < v <= e[b] (e[0] = -inf, e[5] = +inf): the invariant
    # the oracle pins.
    b = F.lit(1) + F.size(F.filter(e, lambda x: v > x))
    per_bin = (
        melted.join(F.broadcast(edges_m), "metric")
        .select("metric", "v", b.alias("bin"), "edges")
        .groupBy("metric", "bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("v").alias("vmin"),
            F.max("v").alias("vmax"),
            F.first("edges").alias("edges"),
        )
    )
    # try_element_at + the bin>1 guard: bin 1 has no lower edge and
    # bin 5 no upper edge (index 5 on a 4-edge array) — both must be
    # NULL, not an ANSI index error.
    lo = F.when(F.col("bin") > 1, F.try_element_at("edges", F.col("bin") - 1))
    hi = F.try_element_at("edges", F.col("bin"))
    within = F.coalesce(F.col("vmin") > lo, F.lit(True)) & F.coalesce(
        F.col("vmax") <= hi, F.lit(True)
    )
    mono = F.aggregate(
        F.zip_with(
            F.slice("edges", 1, 3),
            F.slice("edges", 2, 3),
            lambda a_, b_: a_ <= b_,
        ),
        F.lit(True),
        lambda acc, x: acc & x,
    )
    out = per_bin.groupBy("metric").agg(
        F.sum("n").cast("long").alias("n_users"),
        F.min("vmin").alias("value_min"),
        F.max("vmax").alias("value_max"),
        F.bool_and(mono).alias("edges_monotone"),
        F.bool_and(within).alias("bins_within_edges"),
    )
    # counts_match: Σ per-bin n must equal the direct user count, via a
    # broadcast join against the unbinned aggregate.
    totals = u.groupBy().agg(F.count(F.lit(1)).cast("long").alias("__direct"))
    return (
        out.crossJoin(F.broadcast(totals))
        .select(
            "metric",
            "n_users",
            "value_min",
            "value_max",
            "edges_monotone",
            "bins_within_edges",
            (F.col("n_users") == F.col("__direct")).alias("counts_match"),
        )
        .orderBy("metric")
    )


@register(
    "a26_rfm_segmentation_exact",
    oracle=f"""
    {_RFM_USERS_SQL}
    SELECT user_id, CAST(recency_s AS BIGINT) AS recency_s, frequency, monetary,
      CAST(NTILE(5) OVER (ORDER BY recency_s ASC, user_id) AS INT) AS r_q,
      CAST(NTILE(5) OVER (ORDER BY frequency DESC, user_id) AS INT) AS f_q,
      CAST(NTILE(5) OVER (ORDER BY monetary DESC, user_id) AS INT) AS m_q
    FROM u
    """,
    description="RFM segmentation, EXACT-ntile parity twin of "
    "a26_rfm_segmentation: quintile scores via three NTILE windows with "
    "full tie-break total orders (metric, user_id — cross-engine-"
    "deterministic tiles, the w9 discipline). The global windows are "
    "single-partition BY CHOICE — the exactness price, affordable while "
    "the ranked set is the user AGGREGATE (|users| << |events|); the "
    "registered default bins against approx_percentile edges instead.",
)
def a26_rfm_segmentation_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    u = _rfm_users(spark, sf_dir)
    return u.select(
        "user_id",
        "recency_s",
        "frequency",
        "monetary",
        F.ntile(5).over(Window.orderBy(F.asc("recency_s"), F.asc("user_id"))).alias("r_q"),
        F.ntile(5).over(Window.orderBy(F.desc("frequency"), F.asc("user_id"))).alias("f_q"),
        F.ntile(5).over(Window.orderBy(F.desc("monetary"), F.asc("user_id"))).alias("m_q"),
    )


@register(
    "a27_market_basket",
    oracle="""
    WITH li AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM li),
    totals AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS cnt FROM li GROUP BY pk),
    pairs AS (
      SELECT a.pk AS pk_a, b.pk AS pk_b, CAST(COUNT(*) AS BIGINT) AS pair_cnt
      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY a.pk, b.pk
      HAVING COUNT(*) >= 3
    )
    SELECT pk_a, pk_b, pair_cnt,
      ROUND(pair_cnt / CAST(ta.cnt AS DOUBLE), 6) AS confidence,
      ROUND(pair_cnt * n.n_orders / CAST(ta.cnt * tb.cnt AS DOUBLE), 6) AS lift
    FROM pairs
    JOIN totals ta ON ta.pk = pairs.pk_a
    JOIN totals tb ON tb.pk = pairs.pk_b
    CROSS JOIN n
    ORDER BY lift DESC, pk_a, pk_b
    LIMIT 20
    """,
    description="Market-basket pair mining (A-surface): support, "
    "confidence and lift for part pairs co-purchased within an order. "
    "The pair self-join is keyed on l_orderkey — both sides share one "
    "hash partitioning, and fan-out per order is bounded by the TPC-H "
    "line-count cap (C(7,2) pairs max), so the pair stage is O(orders) "
    "at ANY scale, never O(parts^2); part totals and the order count "
    "are broadcast back onto the (already small) support-filtered pair "
    "set. Top-20 by lift with full tie-breaks.",
)
def a27_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, "lineitem", sf_dir)
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    a = li.select(F.col("ok"), F.col("pk").alias("pk_a"))
    b = li.select(F.col("ok"), F.col("pk").alias("pk_b"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("pk_a") < F.col("pk_b"))
        .groupBy("pk_a", "pk_b")
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= 3)
    )
    totals = li.groupBy("pk").agg(F.count(F.lit(1)).alias("cnt"))
    n1 = li.agg(F.countDistinct("ok").alias("n_orders"))
    ta = totals.select(F.col("pk").alias("pk_a"), F.col("cnt").alias("cnt_a"))
    tb = totals.select(F.col("pk").alias("pk_b"), F.col("cnt").alias("cnt_b"))
    return (
        pairs.join(F.broadcast(ta), "pk_a")
        .join(F.broadcast(tb), "pk_b")
        .crossJoin(F.broadcast(n1))
        .select(
            "pk_a",
            "pk_b",
            F.col("pair_cnt").cast("long").alias("pair_cnt"),
            F.round(F.col("pair_cnt") / F.col("cnt_a").cast("double"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("pair_cnt")
                * F.col("n_orders")
                / (F.col("cnt_a") * F.col("cnt_b")).cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "pk_a", "pk_b")
        .limit(20)
    )


_QUANTS = [0.25, 0.5, 0.75, 0.95]


@register(
    "a35_grouped_quantiles",
    oracle=f"""
    SELECT event_type,
      CAST(COUNT(*) AS BIGINT) AS n,
      {", ".join(f"ROUND(quantile_cont(value, {q}), 6) AS p{int(q * 100)}" for q in _QUANTS)}
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    description="Grouped EXACT quantile summary (A-surface statistics "
    "family): p25/p50/p75/p95 of value per event_type via the exact "
    "interpolating percentile aggregate — verified bit-compatible with "
    "DuckDB's quantile_cont (both type-7 linear interpolation; the "
    "oracle is a value check, not a tolerance). One aggregate, one "
    "shuffle keyed by the (small) group domain. The exact form is the "
    "oracle-grade twin of the approx_percentile invariant query: use "
    "this when the group cardinality is bounded, the sketch when it "
    "is not.",
)
def a35_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    arr = "array(" + ", ".join(f"{q}D" for q in _QUANTS) + ")"
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.expr(f"percentile(value, {arr})").alias("__qs"),
        )
        .select(
            "event_type",
            "n",
            *[
                F.round(F.element_at("__qs", i + 1), 6).alias(f"p{int(q * 100)}")
                for i, q in enumerate(_QUANTS)
            ],
        )
        .orderBy("event_type")
    )
