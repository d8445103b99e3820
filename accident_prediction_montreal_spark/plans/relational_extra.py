"""Additional relational + ML-surface queries: TPC-H classic shapes
(multi-join + aggregate + top-k pipelines) and the ML feature/weight
operators that are ANSI-expressible, plus rows-only entries for the
sampling/approx operators whose randomness or sketches no oracle can
replicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from accident_prediction_montreal_spark.functions.money import dsum
from accident_prediction_montreal_spark.ml.class_weighter import ClassWeighter, balanced_weights
from accident_prediction_montreal_spark.ml.random_undersampler import RandomUnderSampler
from accident_prediction_montreal_spark.operators.mixing import lcg_uniform_sql
from accident_prediction_montreal_spark.plans.registry import checks, register
from accident_prediction_montreal_spark.sources.registry import load_table


def _scratch(prefix: str, sf_dir: str) -> tuple[str, str]:
    """(scratch dir, charset-safe key) for queries that write shards:
    TMPDIR-honoring like the llm_ops scratch convention, md5-keyed over
    the dataset path AND the Spark applicationId so (a) any dataset path
    (hyphens, unicode, ...) yields a filesystem- and SQL-identifier-safe
    suffix, and (b) two concurrent sessions on the same dataset never
    race on one sink/evo/csv/bq dir (each session writes its own key;
    re-runs within a session stay idempotent via mode('overwrite'))."""
    import hashlib
    import os
    import tempfile

    active = SparkSession.getActiveSession()
    app = active.sparkContext.applicationId if active else f"pid{os.getpid()}"
    token = f"{os.path.realpath(sf_dir)}\x00{app}"
    key = hashlib.md5(token.encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"spark_graft_{prefix}", key), key


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
    "j9_asof_join",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click'
      QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
    ),
    errors AS (
      SELECT event_id, ts, user_id, value FROM events WHERE event_type = 'error'
    )
    SELECT e.user_id, e.event_id,
      c.event_id AS click_event_id,
      ROUND(c.value, 6) AS click_value
    FROM errors e
    ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
    description="As-of join (J9, new vs reference): latest click at or before "
    "each error per user — union + carry-forward window (one shuffle), "
    "checked against DuckDB's native ASOF JOIN",
)
def j9_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from accident_prediction_montreal_spark.operators.asof import asof_join

    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", "ts", "event_id", "value")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "ts", "user_id", "value"
    )
    out = asof_join(errors, clicks, by=["user_id"], value_cols=["event_id", "value"])
    return out.select(
        "user_id",
        "event_id",
        F.col("event_id_right").alias("click_event_id"),
        F.round("value_right", 6).alias("click_value"),
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


# --- M1: feature assembly (scalar rows — array/Vector outputs are not
# comparable by hash harnesses that sort rows, SURVEY.md §7.4) ----------------

@register(
    "m1_feature_assembly",
    oracle="""
    SELECT o_orderkey, CAST(0 AS BIGINT) AS idx, o_totalprice / 1024.0 AS value
    FROM orders
    UNION ALL
    SELECT o_orderkey, CAST(1 AS BIGINT), CAST(o_orderkey % 24 AS DOUBLE)
    FROM orders
    UNION ALL
    SELECT o_orderkey, CAST(2 AS BIGINT),
      CASE WHEN o_orderstatus = 'F' THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
    FROM orders
    """,
    description="Feature assembly through the real MLlib path (M1): "
    "VectorAssembler → vector_to_array → posexplode to scalar "
    "(o_orderkey, idx, value) rows, so the output is hashable by any "
    "harness. Scaling divisor is a power of two so the division is "
    "binary-exact — decimal divisors (1e5) land on .5 rounding "
    "boundaries where engines disagree. (reference preprocess.py:501-507)",
)
def m1_feature_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.functions import vector_to_array

    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        (F.col("o_totalprice") / 1024.0).alias("f_price"),
        (F.col("o_orderkey") % 24).cast("double").alias("f_hour"),
        F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0).alias("f_final"),
    )
    assembled = VectorAssembler(
        inputCols=["f_price", "f_hour", "f_final"], outputCol="features"
    ).transform(orders)
    return assembled.select(
        "o_orderkey", F.posexplode(vector_to_array("features")).alias("idx", "value")
    ).select("o_orderkey", F.col("idx").cast("long").alias("idx"), "value")


# --- M3: class weighting (data-derived balanced weights) ----------------------

@register(
    "m3_class_weights",
    oracle="""
    WITH stats AS (
      SELECT COUNT(*) AS n,
        SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END) AS n0,
        SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS n1
      FROM orders
    )
    SELECT o_orderkey,
      ROUND(CASE WHEN o_orderstatus <> 'F'
        THEN (SELECT n FROM stats) / (2.0 * (SELECT n0 FROM stats))
        ELSE (SELECT n FROM stats) / (2.0 * (SELECT n1 FROM stats)) END, 6) AS weight
    FROM orders
    """,
    description="Per-row balanced class weights via ClassWeighter (M3, "
    "class_weighter.py:38-43 shape)",
)
def m3_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir).withColumn(
        "label", F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0)
    )
    weights = balanced_weights(orders)
    out = ClassWeighter(classWeight=weights).transform(orders)
    return out.select("o_orderkey", F.round("weight", 6).alias("weight"))


# --- Sampling invariants: the randomness itself has no oracle, but its
# CONTRACTS do — split partitions the input, seeded samples are
# deterministic subsets, undersampling preserves positives. Each check is
# a 1-row aggregate; DuckDB's oracle is the expected literal, so a broken
# sampler hash-mismatches. ----------------------------------------------------

@register(
    "r_sampling_invariants",
    oracle="""
    SELECT 'r3_split_partition' AS chk, CAST(1 AS BIGINT) AS ok
    UNION ALL SELECT 'r2_sample_deterministic', CAST(1 AS BIGINT)
    UNION ALL SELECT 'r2_sample_subset', CAST(1 AS BIGINT)
    UNION ALL SELECT 'm2_positives_preserved', CAST(1 AS BIGINT)
    UNION ALL SELECT 'm2_negatives_not_increased', CAST(1 AS BIGINT)
    """,
    description="Driver-checkable invariants for the sampling family (R2/R3/M2): "
    "randomSplit partitions the input exactly (sizes sum, zero overlap), a "
    "seeded Bernoulli sample is reproducible and a subset, and "
    "RandomUnderSampler keeps every positive while never adding negatives. "
    "The oracle pins each check to literal 1.",
)
def r_sampling_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0).alias("label"),
    )

    # R3: randomSplit is a partition of the input.
    train, test = orders.randomSplit([0.8, 0.2], seed=0)
    overlap = train.select("o_orderkey").join(test.select("o_orderkey"), "o_orderkey")

    # R2: seeded sample is deterministic (named args — the positional form
    # silently drops the seed in pyspark 4) and a subset of the input.
    s1 = orders.sample(withReplacement=False, fraction=0.1, seed=42)
    s2 = orders.sample(withReplacement=False, fraction=0.1, seed=42)
    sym_diff = s1.exceptAll(s2).unionByName(s2.exceptAll(s1))
    not_in_input = s1.select("o_orderkey").join(
        orders.select("o_orderkey"), "o_orderkey", "left_anti"
    )

    # M2: undersampling keeps all positives and only removes negatives.
    model = RandomUnderSampler(
        targetImbalanceRatio=1.0, indexCol="o_orderkey", labelCol="label", seed=42
    ).fit(orders)
    sampled = model.transform(orders)

    row = (
        orders.agg(
            F.count(F.lit(1)).alias("n_tot"),
            F.sum(F.col("label")).alias("pos_in"),
            F.sum(F.lit(1.0) - F.col("label")).alias("neg_in"),
        )
        .crossJoin(train.agg(F.count(F.lit(1)).alias("n_tr")))
        .crossJoin(test.agg(F.count(F.lit(1)).alias("n_te")))
        .crossJoin(overlap.agg(F.count(F.lit(1)).alias("n_ov")))
        .crossJoin(sym_diff.agg(F.count(F.lit(1)).alias("n_diff")))
        .crossJoin(not_in_input.agg(F.count(F.lit(1)).alias("n_out")))
        .crossJoin(
            sampled.agg(
                F.sum(F.col("label")).alias("pos_out"),
                F.sum(F.lit(1.0) - F.col("label")).alias("neg_out"),
            )
        )
    )
    return checks(row, {
        "r3_split_partition": (F.col("n_tr") + F.col("n_te") == F.col("n_tot"))
        & (F.col("n_ov") == 0),
        "r2_sample_deterministic": F.col("n_diff") == 0,
        "r2_sample_subset": F.col("n_out") == 0,
        "m2_positives_preserved": F.col("pos_out") == F.col("pos_in"),
        "m2_negatives_not_increased": F.col("neg_out") <= F.col("neg_in"),
    })


@register(
    "r_stratified_sample_invariants",
    oracle="""
    SELECT 'strat_deterministic' AS chk, CAST(1 AS BIGINT) AS ok
    UNION ALL SELECT 'strat_subset', CAST(1 AS BIGINT)
    UNION ALL SELECT 'strat_zero_fraction_empty', CAST(1 AS BIGINT)
    UNION ALL SELECT 'strat_counts_in_bounds', CAST(1 AS BIGINT)
    """,
    description="Stratified sampling (sampleBy) contracts: per-stratum Bernoulli "
    "sampling is seed-deterministic within a session, a subset of the input, "
    "empty for zero-fraction strata, and each stratum's sampled count sits "
    "within 10 standard deviations of fraction*stratum_size (holds for ANY "
    "partitioning of the scan, so the check is environment-independent). "
    "The oracle pins each check to literal 1.",
)
def r_stratified_sample_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    fractions = {"F": 0.5, "O": 0.2, "P": 0.0}
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_orderstatus")
    s1 = orders.sampleBy("o_orderstatus", fractions, seed=7)
    s2 = orders.sampleBy("o_orderstatus", fractions, seed=7)

    sym_diff = s1.exceptAll(s2).unionByName(s2.exceptAll(s1))
    not_in_input = s1.select("o_orderkey").join(
        orders.select("o_orderkey"), "o_orderkey", "left_anti"
    )

    frac = F.element_at(
        F.create_map(*[F.lit(x) for kv in fractions.items() for x in kv]),
        F.col("o_orderstatus"),
    )
    per_in = orders.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n_in"))
    per_s = s1.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n_got"))
    n_bad = (
        per_in.join(per_s, "o_orderstatus", "left")
        .na.fill(0, ["n_got"])
        .withColumn("f", frac)
        # 10 sigma of Binomial(n_in, f), +1 slack for tiny strata
        .withColumn(
            "bad",
            (
                F.abs(F.col("n_got") - F.col("f") * F.col("n_in"))
                > F.lit(10.0) * F.sqrt(F.col("n_in") * F.col("f") * (1 - F.col("f"))) + 1
            ).cast("int"),
        )
        .agg(F.sum("bad").alias("n_bad"))
    )
    row = (
        sym_diff.agg(F.count(F.lit(1)).alias("n_diff"))
        .crossJoin(not_in_input.agg(F.count(F.lit(1)).alias("n_out")))
        .crossJoin(
            s1.filter(F.col("o_orderstatus") == "P").agg(F.count(F.lit(1)).alias("n_p"))
        )
        .crossJoin(n_bad)
    )
    return checks(row, {
        "strat_deterministic": F.col("n_diff") == 0,
        "strat_subset": F.col("n_out") == 0,
        "strat_zero_fraction_empty": F.col("n_p") == 0,
        "strat_counts_in_bounds": F.col("n_bad") == 0,
    })


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
    "m7_auc_evaluator",
    oracle="""
    WITH scored AS (
      SELECT ((o_orderkey * 2654435761) % 1001) / 1000.0 AS prob,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
      FROM orders
    ),
    ranked AS (
      SELECT label,
        RANK() OVER (ORDER BY prob) + (COUNT(*) OVER (PARTITION BY prob) - 1) / 2.0
          AS r_avg
      FROM scored
    ),
    stats AS (
      SELECT CAST(SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
             CAST(SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
             SUM(CASE WHEN label = 1 THEN r_avg ELSE 0 END) AS rank_sum
      FROM ranked
    )
    SELECT 'areaUnderROC' AS metric,
      ROUND((rank_sum - n1 * (n1 + 1) / 2.0) / (n1 * n0), 6) AS value
    FROM stats
    """,
    description="MLlib BinaryClassificationEvaluator under the value oracle "
    "(M7, random_forest.py evaluator usage): trapezoidal ROC AUC over "
    "score-grouped thresholds equals the tie-averaged Mann-Whitney "
    "statistic (rank_sum - n1(n1+1)/2) / (n1*n0), which the oracle "
    "computes with window ranks — so the evaluator's result is checked "
    "against an independent closed form, not against itself.",
)
def m7_auc_evaluator(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    orders = load_table(spark, "orders", sf_dir)
    scored = orders.select(
        (((F.col("o_orderkey") * 2654435761) % 1001) / 1000.0).alias("prob"),
        F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0).alias("label"),
    )
    auc = BinaryClassificationEvaluator(
        rawPredictionCol="prob", labelCol="label", metricName="areaUnderROC"
    ).evaluate(scored)
    return spark.createDataFrame(
        [("areaUnderROC", round(auc, 6))], ["metric", "value"]
    )


@register(
    "m_rf_pipeline_invariants",
    oracle="""
    SELECT 'importances_sum_to_one' AS chk, CAST(1 AS BIGINT) AS ok
    UNION ALL SELECT 'probabilities_valid', CAST(1 AS BIGINT)
    UNION ALL SELECT 'predictions_cover_input', CAST(1 AS BIGINT)
    """,
    description="Contract checks for the full ML pipeline (M4/M5/M10, "
    "main_train_brf.py shape): train ClassWeighter -> weighted "
    "RandomForest on deterministic features, then require feature "
    "importances to sum to 1, every P(positive) to lie in [0,1], and the "
    "transform to emit exactly one prediction per input row. Model "
    "internals have no value oracle; these invariants hold for ANY "
    "correctly-wired pipeline, so the oracle pins them to literal 1.",
)
def m_rf_pipeline_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.ml.pipelines import (
        assemble_features,
        balanced_random_forest_pipeline,
        prob_positive,
    )

    # f_signal is label-correlated BY CONSTRUCTION (label + bounded noise):
    # at sf0.01 the incidental price/hour features admit splits, but at
    # larger scales their empirical info gain vanishes and every tree
    # degenerates to a stump with all-zero importances — the invariant
    # needs a split to exist at ANY scale to say anything.
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        (F.col("o_totalprice") / 1024.0).alias("f_price"),
        (
            F.when(F.col("o_orderstatus") == "F", 2.0).otherwise(0.0)
            + (F.col("o_orderkey") % 7).cast("double") / 10.0
        ).alias("f_signal"),
        F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0).alias("label"),
    )
    data = assemble_features(orders, ["f_price", "f_signal"])
    pipeline = balanced_random_forest_pipeline(
        class_weight=[1.0, 1.0], num_trees=5, max_depth=4
    )
    model = pipeline.fit(data)
    scored = model.transform(data).withColumn("p1", prob_positive())

    rf = model.stages[-1]
    imp_sum = float(sum(rf.featureImportances.toArray()))
    row = scored.agg(
        F.sum(
            F.when((F.col("p1") >= 0.0) & (F.col("p1") <= 1.0), 0).otherwise(1)
        ).alias("n_bad_prob"),
        F.count(F.lit(1)).alias("n_out"),
    ).crossJoin(orders.agg(F.count(F.lit(1)).alias("n_in")))
    return checks(row, {
        "importances_sum_to_one": F.lit(abs(imp_sum - 1.0) < 1e-6),
        "probabilities_valid": F.coalesce(F.col("n_bad_prob"), F.lit(0)) == 0,
        "predictions_cover_input": F.col("n_out") == F.col("n_in"),
    })


# --- Sampling + sketches: the randomness itself has no ANSI oracle, so
# each query reduces its operator's REAL output to deterministic
# contract rows (chk, ok) and the oracle pins each to literal 1 — the
# dedup_simhash pattern, r6 upgrade so every registry entry is
# hash-checkable. Complementary to r_sampling_invariants (which pins
# partition/subset/positive-preservation): these pin realized RATES,
# duplicate-freedom, and seed sensitivity. -------------------------------------

@register(
    "m2_random_undersampler",
    oracle="""
    SELECT 'm2_ratio_achieved' AS chk, CAST(1 AS BIGINT) AS ok
    UNION ALL SELECT 'm2_subset_of_input', CAST(1 AS BIGINT)
    UNION ALL SELECT 'm2_no_duplicate_rows', CAST(1 AS BIGINT)
    UNION ALL SELECT 'm2_transform_deterministic', CAST(1 AS BIGINT)
    """,
    description="RandomUnderSampler fit+transform contracts (M2; the seeded "
    "Bernoulli draw has no ANSI oracle, so its CONTRACTS are pinned to "
    "literal 1): realized negative:positive ratio within 25% of the "
    "target 1.0, output a duplicate-free subset of the input index set, "
    "and transform reproducible for a fixed seed + layout. Complements "
    "r_sampling_invariants' positive-preservation checks.",
)
def m2_random_undersampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderkey").alias("index"),
        F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0).alias("label"),
    )
    model = RandomUnderSampler(
        targetImbalanceRatio=1.0, indexCol="index", labelCol="label", seed=42
    ).fit(orders)
    out = model.transform(orders)

    stray = out.select("index").join(orders.select("index"), "index", "left_anti")
    out2 = model.transform(orders)
    sym = out.select("index").exceptAll(out2.select("index")).unionByName(
        out2.select("index").exceptAll(out.select("index"))
    )
    row = (
        out.agg(
            F.sum("label").alias("pos"),
            F.sum(F.lit(1.0) - F.col("label")).alias("neg"),
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("index").alias("n_ids"),
        )
        .crossJoin(stray.agg(F.count(F.lit(1)).alias("n_stray")))
        .crossJoin(sym.agg(F.count(F.lit(1)).alias("n_diff")))
    )
    ratio = F.col("neg") / F.col("pos")
    return checks(row, {
        "m2_ratio_achieved": (ratio >= 0.75) & (ratio <= 1.25),
        "m2_subset_of_input": F.col("n_stray") == 0,
        "m2_no_duplicate_rows": F.col("n") == F.col("n_ids"),
        "m2_transform_deterministic": F.col("n_diff") == 0,
    })


@register(
    "r2_seeded_sample",
    oracle="""
    SELECT 'r2_fraction_within_tol' AS chk, CAST(1 AS BIGINT) AS ok
    UNION ALL SELECT 'r2_no_duplicate_rows', CAST(1 AS BIGINT)
    UNION ALL SELECT 'r2_seed_applies', CAST(1 AS BIGINT)
    """,
    description="Seeded Bernoulli sample contracts (R1/R2; named-args form so "
    "the seed actually applies in pyspark 4): realized fraction within "
    "+/-0.04 of 0.1 (>5 sigma at every test SF), no duplicate draws "
    "without replacement, and DIFFERENT seeds draw different subsets — "
    "the check that catches a silently-dropped seed. Oracle pins each "
    "contract to literal 1.",
)
def r2_seeded_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    s1 = orders.sample(withReplacement=False, fraction=0.1, seed=42).select(
        "o_orderkey", "o_custkey"
    )
    s_other = orders.sample(withReplacement=False, fraction=0.1, seed=43)
    sym = s1.select("o_orderkey").exceptAll(s_other.select("o_orderkey")).unionByName(
        s_other.select("o_orderkey").exceptAll(s1.select("o_orderkey"))
    )
    row = (
        s1.agg(F.count(F.lit(1)).alias("n"), F.countDistinct("o_orderkey").alias("n_ids"))
        .crossJoin(orders.agg(F.count(F.lit(1)).alias("n_tot")))
        .crossJoin(sym.agg(F.count(F.lit(1)).alias("n_diff")))
    )
    frac = F.col("n") / F.col("n_tot")
    return checks(row, {
        "r2_fraction_within_tol": (frac >= 0.06) & (frac <= 0.14),
        "r2_no_duplicate_rows": F.col("n") == F.col("n_ids"),
        "r2_seed_applies": F.col("n_diff") > 0,
    })


@register(
    "r3_random_split",
    oracle="""
    SELECT 'r3_fractions_within_tol' AS chk, CAST(1 AS BIGINT) AS ok
    UNION ALL SELECT 'r3_both_nonempty', CAST(1 AS BIGINT)
    UNION ALL SELECT 'r3_split_deterministic', CAST(1 AS BIGINT)
    """,
    description="Seeded randomSplit contracts (R3, mains pattern; per-"
    "partition draws have no ANSI oracle): realized train fraction "
    "within +/-0.05 of 0.8, both splits non-empty, and a second split "
    "with the same seed + layout reproduces the identical train set. "
    "Disjointness/completeness are pinned by r_sampling_invariants; "
    "the layout-INDEPENDENT production alternative is r5_hash_split. "
    "Oracle pins each contract to literal 1.",
)
def r3_random_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    train, test = orders.randomSplit([0.8, 0.2], seed=0)
    train2, _ = orders.randomSplit([0.8, 0.2], seed=0)
    sym = train.select("o_orderkey").exceptAll(train2.select("o_orderkey")).unionByName(
        train2.select("o_orderkey").exceptAll(train.select("o_orderkey"))
    )
    row = (
        train.agg(F.count(F.lit(1)).alias("n_tr"))
        .crossJoin(test.agg(F.count(F.lit(1)).alias("n_te")))
        .crossJoin(orders.agg(F.count(F.lit(1)).alias("n_tot")))
        .crossJoin(sym.agg(F.count(F.lit(1)).alias("n_diff")))
    )
    frac = F.col("n_tr") / F.col("n_tot")
    return checks(row, {
        "r3_fractions_within_tol": (frac >= 0.75) & (frac <= 0.85),
        "r3_both_nonempty": (F.col("n_tr") > 0) & (F.col("n_te") > 0),
        "r3_split_deterministic": F.col("n_diff") == 0,
    })


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


@register(
    "a11_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, ts,
        min(ts) OVER (PARTITION BY user_id) AS first_ts
      FROM events
    )
    SELECT CAST(date_trunc('week', first_ts) AS DATE) AS cohort_week,
      CAST(date_diff('day', CAST(date_trunc('week', first_ts) AS DATE),
                     CAST(ts AS DATE)) // 7 AS BIGINT) AS week_offset,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
    FROM firsts
    GROUP BY 1, 2
    """,
    description="Weekly cohort-retention matrix over the events table (the "
    "classic product-analytics OLAP shape): cohort = Monday-truncated week "
    "of each user's FIRST event, week_offset = whole weeks since, cell = "
    "distinct active users. ONE scan and one user_id shuffle: the first-"
    "event timestamp comes from a min-over-user window (not a groupBy + "
    "self-join, which would scan events twice); the distinct count then "
    "shuffles (cohort, offset, user) triples. All derivations are integer/"
    "date arithmetic — no float to flake the hash. Both engines truncate "
    "weeks to Monday and floor-divide non-negative day deltas.",
)
def a11_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir).select("user_id", "ts")
    w = Window.partitionBy("user_id")
    firsts = ev.withColumn("first_ts", F.min("ts").over(w))
    cohort_week = F.date_trunc("week", F.col("first_ts")).cast("date")
    week_offset = F.floor(
        F.datediff(F.col("ts").cast("date"), cohort_week) / 7
    ).cast("long")
    return (
        firsts.select(
            cohort_week.alias("cohort_week"),
            week_offset.alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct(F.col("user_id")).alias("n_active"))
    )


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
    "a12_funnel_steps",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ),
    x AS (
      SELECT e.user_id, min(e.ts) AS t_err
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'error' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT 'view' AS step, CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_users
    UNION ALL
    SELECT 'view>click', CAST((SELECT COUNT(*) FROM c) AS BIGINT)
    UNION ALL
    SELECT 'view>click>error', CAST((SELECT COUNT(*) FROM x) AS BIGINT)
    """,
    description="Ordered 3-step funnel over the events stream (product-"
    "analytics shape the reference lacks): users who viewed, then clicked "
    "AFTER their first view, then errored AFTER that first qualifying "
    "click. Each stage is a per-user min-timestamp aggregate joined back "
    "— the strictly-ordered semantics (step N+1 must follow the EARLIEST "
    "qualifying step N) decorrelate into 3 chained aggregates; all "
    "shuffles share the user_id key so Catalyst reuses one partitioning, "
    "and per-step results are 1-row counts unioned. Timestamps compare "
    "exactly — no float in the funnel.",
)
def a12_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    x = (
        ev.filter(F.col("event_type") == "error")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_err"))
    )

    def step(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
            F.lit(name).alias("step"), "n_users"
        )

    return (
        step("view", v)
        .unionByName(step("view>click", c))
        .unionByName(step("view>click>error", x))
    )


@register(
    "w7_range_frame",
    oracle="""
    SELECT event_id,
      CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        PARTITION BY user_id ORDER BY ts
        RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
      ) AS VARCHAR) AS DOUBLE) AS roll_sum
    FROM events
    """,
    description="RANGE-frame window (the time-interval sibling of w3's "
    "ROWS-frame rolling average): per user, the trailing 1-hour sum of "
    "event values — the frame is defined by event-TIME distance, not row "
    "count, so bursts widen the frame and gaps shrink it. Spark expresses "
    "the interval as rangeBetween over microsecond epochs (RANGE frames "
    "take numeric offsets); DuckDB uses the native INTERVAL frame — both "
    "inclusive at cur - 1h, microsecond-exact. One shuffle on user_id; "
    "sums DECIMAL-exact so peer-row order cannot flake the hash.",
)
def w7_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir).select("event_id", "user_id", "ts", "value")
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(micros)
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("roll_sum"),
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
    "j9_asof_forward",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click'
      QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
    ),
    errors AS (
      SELECT event_id, ts, user_id FROM events WHERE event_type = 'error'
    )
    SELECT e.user_id, e.event_id,
      c.event_id AS next_click_event_id,
      ROUND(c.value, 6) AS next_click_value
    FROM errors e
    ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.ts <= c.ts
    """,
    description="FORWARD as-of join (J9's mirror, r6): the EARLIEST click "
    "at or after each error per user — 'what did the user do next' "
    "semantics. Same one-shuffle union trick with the carry running "
    "backward (first non-null over [current, unbounded following], "
    "equal-ts tie flipped so a click at exactly the error time matches); "
    "oracle is DuckDB's native ASOF with the <= inequality.",
)
def j9_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from accident_prediction_montreal_spark.operators.asof import asof_join

    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", "ts", "event_id", "value")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "ts", "user_id"
    )
    out = asof_join(
        errors, clicks, by=["user_id"], value_cols=["event_id", "value"],
        direction="forward",
    )
    return out.select(
        "user_id",
        "event_id",
        F.col("event_id_right").alias("next_click_event_id"),
        F.round("value_right", 6).alias("next_click_value"),
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
    "x8_partitioned_sink_roundtrip",
    oracle="""
    SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n,
      CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
        AS value_sum
    FROM events
    WHERE CAST(ts AS DATE) >= DATE '2024-01-10'
      AND CAST(ts AS DATE) < DATE '2024-01-20'
    GROUP BY 1
    """,
    description="Partitioned parquet SINK roundtrip (S3's first driver-"
    "checkable evidence — sinks otherwise only have plan-level tests): "
    "events written partitionBy(date) to a scratch dir, read back with a "
    "date-range filter that prunes to 10 of 30 partition directories, "
    "re-aggregated decimal-exact, and value-checked against the SOURCE "
    "table — any write/read fidelity loss (dropped rows, partition-column "
    "type drift, double-write) breaks counts or sums. Overwrite mode "
    "keeps the query idempotent across driver reruns.",
)
def x8_partitioned_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path, _ = _scratch("sink", sf_dir)
    ev = load_table(spark, "events", sf_dir).select(
        F.col("ts").cast("date").alias("d"), "value"
    )
    ev.write.mode("overwrite").partitionBy("d").parquet(path)
    back = spark.read.parquet(path).filter(
        (F.col("d") >= "2024-01-10") & (F.col("d") < "2024-01-20")
    )
    return back.groupBy("d").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
    )


@register(
    "x9_schema_evolution",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(CASE WHEN event_id % 2 = 1 THEN event_id ELSE 0 END) AS BIGINT)
        AS odd_id_sum
    FROM events GROUP BY event_type
    """,
    description="Schema EVOLUTION read (mergeSchema — the 100-TB reality "
    "that yesterday's shards lack today's columns): the odd-id half of "
    "events is written WITHOUT the extra column, the even-id half WITH "
    "it, and one mergeSchema read unions both shards — rows from the old "
    "shard surface the new column as NULL. The aggregate separates the "
    "halves through the evolved column (odd_id_sum counts exactly the "
    "rows where it is null, via the id it carries), so a read that drops "
    "either shard, mistypes the evolved column, or backfills non-null "
    "defaults hash-mismatches against the single-table oracle.",
)
def x9_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    base, _ = _scratch("evo", sf_dir)
    ev = load_table(spark, "events", sf_dir).select("event_id", "event_type")
    old = ev.filter(F.col("event_id") % 2 == 1)
    new = ev.filter(F.col("event_id") % 2 == 0).withColumn(
        "extra_score", (F.col("event_id") % 7).cast("long")
    )
    old.write.mode("overwrite").parquet(base + "/shard_old")
    new.write.mode("overwrite").parquet(base + "/shard_new")
    merged = spark.read.option("mergeSchema", "true").parquet(
        base + "/shard_old", base + "/shard_new"
    )
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("extra_score").isNull(), F.col("event_id")).otherwise(F.lit(0))
        ).alias("odd_id_sum"),
    )


@register(
    "x10_permissive_csv",
    oracle="""
    SELECT
      CAST(SUM(CASE WHEN event_id % 3 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_good,
      CAST(SUM(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_corrupt,
      CAST(SUM(CASE WHEN event_id % 3 <> 0 THEN event_id % 100 ELSE 0 END)
           AS BIGINT) AS qty_sum
    FROM events
    """,
    description="PERMISSIVE CSV ingestion with corrupt-record capture "
    "(S1's malformed-input contract — at ingest scale SOME rows are "
    "always broken, and dying on row one is not an option): every third "
    "event is serialized as a malformed CSV line (non-numeric qty), the "
    "read runs PERMISSIVE with a _corrupt_record column, and the "
    "aggregate proves the exact good/corrupt split AND that good-row "
    "values survive parsing (qty_sum) — a reader that drops corrupt "
    "rows silently (DROPMALFORMED semantics), nulls a good column, or "
    "shifts fields hash-mismatches.",
)
def x10_permissive_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    base, _ = _scratch("csv", sf_dir)
    ev = load_table(spark, "events", sf_dir).select("event_id")
    lines = ev.select(
        F.concat(
            F.col("event_id").cast("string"),
            F.lit(","),
            F.when(F.col("event_id") % 3 == 0, F.lit("not_a_number")).otherwise(
                (F.col("event_id") % 100).cast("string")
            ),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(base)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("qty", T.LongType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    parsed = spark.read.schema(schema).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).csv(base)
    # No cache: the single aggregate references qty AND _corrupt_record in
    # one parse pass (the documented corrupt-record caching requirement
    # applies to re-parsing per filtered branch, and an uncollected cache
    # would pin an events-sized frame for the rest of the session).
    return parsed.agg(
        F.sum(F.col("_corrupt_record").isNull().cast("long")).alias("n_good"),
        F.sum(F.col("_corrupt_record").isNotNull().cast("long")).alias("n_corrupt"),
        F.sum(F.coalesce("qty", F.lit(0))).alias("qty_sum"),
    )


@register(
    "x11_bucketed_join",
    oracle="""
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_lines,
      CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    description="Bucketed CO-LOCATED join (X-surface, first driver-checkable "
    "evidence — bucketing was previously plan-test-only): orders and "
    "lineitem are written bucketBy(8, orderkey) + sortBy via saveAsTable "
    "(external path under scratch), then sort-merge-joined (merge hint; "
    "a broadcast would hide the property) — matching bucket specs mean "
    "NO shuffle exchange on either side, the at-rest layout the "
    "reference's repartition(200, keys)-before-write pattern "
    "approximates. Values re-aggregated decimal-exact against the "
    "un-bucketed source join: any bucket-routing or sort-order fault "
    "that drops/duplicates rows hash-mismatches.",
)
def x11_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec4 = lambda c: c.cast("decimal(18,4)")  # noqa: E731
    base, key = _scratch("bq", sf_dir)
    t_o, t_l = f"bq_orders_{key}", f"bq_lineitem_{key}"
    spark.sql(f"DROP TABLE IF EXISTS {t_o}")
    spark.sql(f"DROP TABLE IF EXISTS {t_l}")
    load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderpriority"
    ).write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").option(
        "path", base + "/orders"
    ).mode("overwrite").format("parquet").saveAsTable(t_o)
    load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    ).write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").option(
        "path", base + "/lineitem"
    ).mode("overwrite").format("parquet").saveAsTable(t_l)
    try:
        o, li = spark.table(t_o), spark.table(t_l)
        joined = o.hint("merge").join(li, o.o_orderkey == li.l_orderkey)
        return joined.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(dec4(F.col("l_extendedprice")) * dec4(F.lit(1) - F.col("l_discount")))
            .cast("double")
            .alias("revenue"),
        )
    finally:
        # Drop the catalog entries NOW: spark.table() already analyzed
        # the plan, which captured the external files + bucket spec, so
        # the lazy SMJ still executes bucketed after the metadata drop
        # (data files under `base` are untouched) — no catalog leakage
        # between runs, no cross-driver collision (key embeds the
        # applicationId).
        spark.sql(f"DROP TABLE IF EXISTS {t_o}")
        spark.sql(f"DROP TABLE IF EXISTS {t_l}")


@register(
    "j9_asof_tolerance",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click'
      QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
    ),
    errors AS (
      SELECT event_id, ts, user_id FROM events WHERE event_type = 'error'
    )
    SELECT e.user_id, e.event_id,
      CASE WHEN e.ts - c.ts <= INTERVAL 30 MINUTE THEN c.event_id END
        AS click_event_id,
      CASE WHEN e.ts - c.ts <= INTERVAL 30 MINUTE THEN ROUND(c.value, 6) END
        AS click_value
    FROM errors e
    ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
    description="As-of join with a staleness TOLERANCE (previously "
    "pytest-only): the latest click at or before each error counts only "
    "if it is within 30 minutes — older matches null out, the 'state too "
    "stale to trust' semantics every sensor/market data join needs. "
    "DuckDB has no native tolerance, so the oracle post-nulls its ASOF "
    "result with the identical interval comparison; microsecond-exact "
    "timestamp arithmetic on both engines.",
)
def j9_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from accident_prediction_montreal_spark.operators.asof import asof_join

    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", "ts", "event_id", "value")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "ts", "user_id"
    )
    out = asof_join(
        errors, clicks, by=["user_id"], value_cols=["event_id", "value"],
        tolerance_seconds=30 * 60,
    )
    return out.select(
        "user_id",
        "event_id",
        F.col("event_id_right").alias("click_event_id"),
        F.round("value_right", 6).alias("click_value"),
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
    "m12_oof_target_encode",
    oracle=f"""
    WITH base AS (
      SELECT o_orderpriority AS cat,
        CAST(FLOOR(({lcg_uniform_sql("o_orderkey", 11)}) * 5) AS INT) AS fold,
        CASE WHEN o_orderkey % 3 = 0 THEN 1.0 ELSE 0.0 END AS y
      FROM orders
    ),
    per AS (SELECT cat, fold, COUNT(*) AS n, SUM(y) AS y FROM base GROUP BY 1, 2),
    w AS (
      SELECT cat, fold, n, y,
        SUM(n) OVER (PARTITION BY cat) - n AS oof_n,
        SUM(y) OVER (PARTITION BY cat) - y AS oof_y,
        SUM(n) OVER () - SUM(n) OVER (PARTITION BY fold) AS g_n,
        SUM(y) OVER () - SUM(y) OVER (PARTITION BY fold) AS g_y
      FROM per
    )
    SELECT cat AS o_orderpriority, fold,
      ROUND((oof_y + 10.0 * (g_y / g_n)) / (oof_n + 10.0), 6) + 0.0 AS encoding
    FROM w ORDER BY 1, 2
    """,
    description="Out-of-fold target-mean encoding (A7's leakage-free "
    "production sibling, operators/encoding.py::oof_target_encode): a "
    "row's encoding averages the label over every fold EXCEPT its own "
    "(plain target encoding leaks the row's own target), with "
    "empirical-Bayes smoothing toward the global out-of-fold mean. ONE "
    "map-side-combined groupBy(category, fold) over the data; the "
    "leave-one-fold-out means are window sums over the 25-row "
    "aggregate. The fold is the deterministic LCG hash (bit-identical "
    "lcg_uniform_sql in the oracle), so the 5x5 encoding table is "
    "exactly reproducible cross-engine.",
)
def m12_oof_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.encoding import (
        oof_target_encode,
    )

    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderpriority",
        "o_orderkey",
        F.when(F.col("o_orderkey") % 3 == 0, 1.0).otherwise(0.0).alias("label"),
    )
    enc = oof_target_encode(
        orders,
        "o_orderpriority",
        "label",
        fold_key="o_orderkey",
        folds=5,
        salt=11,
        smoothing=10.0,
    )
    return enc.select(
        "o_orderpriority",
        "fold",
        (F.round("encoding", 6) + 0.0).alias("encoding"),
    ).orderBy("o_orderpriority", "fold")


@register(
    "x13_small_files_compaction",
    oracle="""
    SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n,
      CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
        AS value_sum,
      CAST(CEIL(COUNT(*) / 25000.0) AS BIGINT) AS n_files
    FROM events WHERE ts IS NOT NULL GROUP BY 1
    """,
    description="Small-files COMPACTION (X-surface housekeeping — at "
    "100 TB, listing cost and per-file overhead from streaming sinks' "
    "tiny files dominate reads): events are first written deliberately "
    "FRAGMENTED (repartition(8) x partitionBy(date) -> 8 files per "
    "partition dir), read back, and compacted by "
    "sources/files.py::compact_partitions — one shuffle on the "
    "partition column co-locates each date in a single writer, and "
    "maxRecordsPerFile=25k rolls files deterministically, so the "
    "output layout is EXACTLY ceil(rows/25k) files per date at EVERY scale factor (a fixed 100-row target looked fine at sf0.01 and EXPLODED to 10k files at sf1 — caught by this query's own reduction assert in the r7 stress bench). The "
    "oracle value-checks the data (counts + decimal sums) AND the "
    "physical layout (n_files via input_file_name distinct-count "
    "vs the closed form); the query also hard-asserts the compaction "
    "reduced total file count.",
)
def x13_small_files_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    base, _ = _scratch("compact", sf_dir)
    frag_dir, out_dir = base + "/frag", base + "/compacted"

    from accident_prediction_montreal_spark.sources.files import compact_partitions

    ev = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull())
        .select(F.col("ts").cast("date").alias("d"), "value")
    )
    ev.repartition(8).write.mode("overwrite").partitionBy("d").parquet(frag_dir)

    frag = spark.read.parquet(frag_dir)
    # The three layout counts feed only the compaction ASSERTION below
    # (the query's output computes its per-partition n_files from the
    # scan regardless) — so take them from the scan's FILE INDEX
    # (inputFiles / the d= path segments), driver metadata the planner
    # already holds, instead of three full-table scan jobs (r14; the
    # x21 pattern). Equivalent to the old input_file_name().distinct()
    # counts: dynamic partitionBy writers never emit zero-row files, so
    # every listed file contributes rows.
    frag_files = frag.inputFiles()
    n_before = len(frag_files)
    n_parts = len({seg for f in frag_files for seg in f.split("/") if seg.startswith("d=")})
    compact_partitions(frag, out_dir, "d", max_records_per_file=25_000)

    # input_file_name is non-deterministic to the analyzer: project it
    # BEFORE the aggregate (a column reference is a legal agg argument).
    compacted = spark.read.parquet(out_dir).withColumn("__f", F.input_file_name())
    n_after = len(spark.read.parquet(out_dir).inputFiles())
    # The hard invariant is n_after <= n_before; STRICT reduction is
    # only owed when fragmentation exists (more files than partition
    # values) — a corpus already at one file per partition has nothing
    # to compact, and demanding reduction there crashed on tiny inputs
    # (r14 events-table fuzz: a 1-row corpus writes 1 file).
    if n_after > n_before or (n_before > n_parts and n_after >= n_before):
        raise AssertionError(
            f"compaction did not reduce files: {n_before} -> {n_after} "
            f"({n_parts} partition values)"
        )
    return compacted.groupBy("d").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("value_sum"),
        F.countDistinct("__f").cast("long").alias("n_files"),
    )


@register(
    "x14_incremental_rollup",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
        AS value_sum,
      CAST(MIN(event_id) AS BIGINT) AS min_id,
      CAST(MAX(event_id) AS BIGINT) AS max_id
    FROM events WHERE ts IS NOT NULL GROUP BY event_type
    """,
    description="Incremental ROLLUP MAINTENANCE (X-surface — at 100 TB you "
    "never recompute a materialized rollup from scratch when a day of "
    "data lands; you MERGE partial aggregates): the events table is "
    "split at day 20 into a 'materialized' base rollup and a 'new "
    "arrivals' delta rollup, each a map-side-combined groupBy, then "
    "merged by re-aggregating the two partial-agg tables (SUM of "
    "counts/sums, MIN of mins, MAX of maxes — every aggregate here is "
    "decomposable, which is WHY it can be maintained incrementally). "
    "Decimal-exact sums make the merge bitwise order-independent; the "
    "oracle is the direct single-pass GROUP BY, so any merge fault "
    "(double-counted shard, lost partial, non-decomposable aggregate "
    "smuggled in) hash-mismatches.",
)
def x14_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).filter(F.col("ts").isNotNull())

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("vsum"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )

    cutoff = F.dayofmonth("ts") <= 20
    base = rollup(ev.filter(cutoff))
    delta = rollup(ev.filter(~cutoff))
    merged = base.unionByName(delta).groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("vsum").cast("double").alias("value_sum"),
        F.min("min_id").cast("long").alias("min_id"),
        F.max("max_id").cast("long").alias("max_id"),
    )
    return merged


@register(
    "x15_hll_shard_merge",
    oracle="""
    SELECT 'hll_estimate_positive' AS chk, CAST(1 AS BIGINT) AS ok
    UNION ALL SELECT 'hll_merge_close_to_direct_1pct', CAST(1 AS BIGINT)
    UNION ALL SELECT 'hll_rel_err_le_5pct', CAST(1 AS BIGINT)
    ORDER BY chk
    """,
    description="Mergeable HLL SKETCHES across shards (Spark 4 Datasketches "
    "surface; the 100-TB cardinality pattern — per-shard sketches are "
    "tiny, merge is register-wise max, so distinct-count maintenance "
    "never rescans history): user_id is sketched per event_id%4 shard "
    "with hll_sketch_agg, the four sketches are merged with "
    "hll_union_agg, and the merged estimate must agree with the "
    "single-pass direct sketch within 1% — NOT exactly: DataSketches "
    "HLL sketches stay in exact (list/set) mode at low cardinality, "
    "where merge == direct bit-for-bit (and did, through sf0.01), but "
    "once shard sketches and the direct sketch cross into estimation "
    "mode at different cardinalities their estimators see different "
    "register states (measured at sf0.1: merged 1488 vs direct 1494 "
    "on 1500 exact — the r12 full-registry sf0.1 sweep caught the "
    "over-strong equality claim). The 5% relative-error band against "
    "the exact distinct count is the accuracy contract. Literal "
    "invariant oracle, a8_approx_distinct's pattern.",
)
def x15_hll_shard_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    per_shard = ev.groupBy((F.col("event_id") % 4).alias("shard")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = per_shard.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_est")
    )
    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("direct_est"),
        F.countDistinct("user_id").alias("exact"),
    )
    return checks(merged.crossJoin(direct), {
        "hll_merge_close_to_direct_1pct": F.abs(F.col("merged_est") - F.col("direct_est"))
        / F.greatest(F.col("direct_est").cast("double"), F.lit(1.0))
        <= 0.01,
        "hll_rel_err_le_5pct": F.abs(F.col("merged_est") - F.col("exact"))
        / F.col("exact").cast("double")
        <= 0.05,
        "hll_estimate_positive": F.col("merged_est") > 0,
    }).orderBy("chk")


@register(
    "w8_gap_fill_lvcf",
    oracle="""
    WITH ranked AS (
      SELECT user_id, date_trunc('hour', ts) AS grid_ts, value,
        ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                           ORDER BY ts DESC, value DESC) AS rn
      FROM events WHERE ts IS NOT NULL
    ),
    per_bucket AS (
      SELECT user_id, grid_ts, value AS obs FROM ranked WHERE rn = 1
    ),
    span AS (
      SELECT user_id, MIN(grid_ts) AS lo, MAX(grid_ts) AS hi
      FROM per_bucket GROUP BY user_id
    ),
    grid AS (
      SELECT s.user_id,
        UNNEST(generate_series(s.lo, s.hi, INTERVAL 1 HOUR)) AS grid_ts
      FROM span s
    ),
    filled AS (
      SELECT g.user_id, g.grid_ts, p.obs,
        last_value(p.obs IGNORE NULLS) OVER (
          PARTITION BY g.user_id ORDER BY g.grid_ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
      FROM grid g LEFT JOIN per_bucket p USING (user_id, grid_ts)
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_hours,
      CAST(SUM(CASE WHEN obs IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_carried,
      CAST(CAST(SUM(CAST(ROUND(filled_value, 6) AS DECIMAL(38,6)))
                AS VARCHAR) AS DOUBLE) AS filled_sum
    FROM filled GROUP BY user_id
    """,
    description="Gap-fill RESAMPLING with last-value-carried-forward "
    "(operators/timeseries.py::gap_fill_lvcf — the regularization every "
    "(key, hour) feature join needs when sensors miss hours; the "
    "reference's weather joins assume a complete hourly grid): one "
    "groupBy to the hour grain (deterministic latest-observation "
    "tie-break via struct max), sequence-explode densification between "
    "each user's first and last hour, one IGNORE-NULLS window to carry "
    "— a single shuffle+sort per key, a 1000-hour gap costs 1000 grid "
    "rows and never a self-join. Decimal-exact checksum of the filled "
    "series; carried-bucket count separates interpolation from "
    "observation, so a wrong carry or a hole in the grid "
    "hash-mismatches.",
)
def w8_gap_fill_lvcf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.timeseries import gap_fill_lvcf

    ev = load_table(spark, "events", sf_dir).filter(F.col("ts").isNotNull())
    filled = gap_fill_lvcf(ev, "user_id", "ts", "value", grain="hour")
    return filled.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(F.col("is_carried").cast("long")).alias("n_carried"),
        F.sum(F.round("filled_value", 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("filled_sum"),
    )


@register(
    "a15_interval_coverage",
    oracle="""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s, epoch_us(ts + INTERVAL 30 MINUTE) AS e
      FROM events WHERE ts IS NOT NULL
    ),
    flagged AS (
      SELECT user_id, s, e,
        CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
          OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        THEN 1 ELSE 0 END AS new_isl
      FROM iv
    ),
    numbered AS (
      SELECT *, SUM(new_isl) OVER (PARTITION BY user_id ORDER BY s, e
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      FROM flagged
    ),
    islands AS (
      SELECT user_id, isl, MIN(s) AS lo, MAX(e) AS hi
      FROM numbered GROUP BY user_id, isl
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
      CAST(SUM(hi - lo) AS BIGINT) AS covered_us
    FROM islands GROUP BY user_id
    """,
    description="Interval-coverage MERGE (operators/timeseries.py::"
    "interval_coverage — total activity time from overlapping per-event "
    "[ts, ts+30min) windows, the sweep-line islands algorithm as "
    "windows): a running max of interval ends flags island starts "
    "(touching intervals merge — strict > test), a cumulative sum "
    "numbers islands, one aggregate measures them. One shuffle+sort "
    "per key, NEVER an interval self-join (the naive form is O(n²) per "
    "key and melts on power users). Microsecond-integer arithmetic is "
    "exact on both engines.",
)
def a15_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.timeseries import (
        interval_coverage,
    )

    ev = load_table(spark, "events", sf_dir).filter(F.col("ts").isNotNull())
    iv = ev.select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.make_interval(mins=F.lit(30))).alias("end_ts"),
    )
    return interval_coverage(iv, "user_id", "start_ts", "end_ts")


@register(
    "a16_running_distinct",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d
      FROM events WHERE ts IS NOT NULL GROUP BY user_id
    ),
    per_day AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS new_users FROM firsts GROUP BY d
    )
    SELECT d, new_users,
      CAST(SUM(new_users) OVER (ORDER BY d
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS cum_users
    FROM per_day
    """,
    description="RUNNING DISTINCT count (cumulative users-seen-by-day): the "
    "streaming-dashboard metric that naive COUNT(DISTINCT) OVER cannot "
    "express scalably — re-expressed as min-first-date per key (one "
    "map-side-combined groupBy over the data), then a per-day count and "
    "a cumulative sum over the 30-row day table. The heavy distinct "
    "work happens ONCE at the key grain; the window runs on the tiny "
    "aggregate, so the op is one shuffle at 100 TB where the textbook "
    "form re-scans per day.",
)
def a16_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir).filter(F.col("ts").isNotNull())
    firsts = ev.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("d"))
    per_day = firsts.groupBy("d").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return per_day.select(
        "d",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


@register(
    "s12_python_datasource",
    oracle="""
    WITH g AS (
      SELECT s.s AS station_id, d.d AS doy, h.h AS hour
      FROM (SELECT UNNEST(range(0, 6)) AS s) s
      CROSS JOIN (SELECT UNNEST(range(1, 60)) AS d) d
      CROSS JOIN (SELECT UNNEST(range(0, 24)) AS h) h
      WHERE s.s IN (1, 3, 5)
    )
    SELECT CAST(station_id AS INT) AS station_id,
      CAST(COUNT(*) AS BIGINT) AS n_obs,
      CAST(CAST(SUM(CAST(((station_id*31 + doy*7 + hour*3) % 50) - 10
                         AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS temp_sum,
      CAST(SUM(CASE WHEN (station_id*3 + doy + hour) % 10 = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_risky
    FROM g GROUP BY 1
    """,
    description="Spark 4 PYTHON DATA SOURCE (S5-S7 re-expressed as a "
    "first-class format, not a scrape-UDF: sources/pydatasource.py): "
    "the 'weatherfix' DataSource plans one InputPartition per station "
    "(the reference's repartition-before-UDF parallelism, planner-"
    "visible) and implements pushFilters, so the station_id IN (1,3,5) "
    "predicate PRUNES partitions 0/2/4 before any row is produced — "
    "the capability a UDF source fundamentally lacks (it always "
    "fetches, then filters). Observations are the apm fixture's "
    "integer-modular closed form (transport stubbed, source machinery "
    "real); the oracle regenerates them from the formula, so schema "
    "drift, a wrong partition plan, or over-pruning hash-mismatches.",
)
def s12_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.sources.pydatasource import register

    # Runtime-settable SQL conf: required for pushFilters, and safe to
    # set here so the query also works on the driver's vanilla session.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register(spark)
    obs = (
        spark.read.format("weatherfix")
        .option("stations", "6")
        .option("days", "59")
        .load()
        .filter(F.col("station_id").isin(1, 3, 5))
    )
    return obs.groupBy("station_id").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(F.col("temp").cast("decimal(38,6)")).cast("double").alias("temp_sum"),
        F.sum((F.col("risky_weather") == 1.0).cast("long")).alias("n_risky"),
    )


@register(
    "x16_python_sink_roundtrip",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
        AS value_sum
    FROM events GROUP BY event_type
    """,
    description="Custom Python SINK with two-phase commit (S11 done "
    "right: sources/pydatasource.py::AtomicTextWriter): each task "
    "writes CSV lines to a staging file, the commit message carries the "
    "staged path, and only after ALL tasks succeed does the driver "
    "rename files into the target and drop _SUCCESS — abort removes "
    "staging, so a mid-write failure never leaves a partial file "
    "visible (the reference's driver-side open().write has no such "
    "contract, export_results.py:17-46). The events rollup goes "
    "through the sink and back through a schema-enforced CSV read; "
    "decimal sums survive textual serialization exactly, so any "
    "dropped task file, double-rename, or formatting drift "
    "hash-mismatches.",
)
def x16_python_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.sources.pydatasource import register_sink

    base, _ = _scratch("pysink", sf_dir)
    register_sink(spark)
    rollup = load_table(spark, "events", sf_dir).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(38,6)")).alias("value_sum"),
    )
    import os

    os.makedirs(base, exist_ok=True)
    rollup.write.format("atomictext").option("path", base).mode("overwrite").save()
    back = spark.read.schema(
        "event_type STRING, n LONG, value_sum DECIMAL(38,6)"
    ).csv(base)
    return back.select(
        "event_type", "n", F.col("value_sum").cast("double").alias("value_sum")
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
    "x17_table_profile",
    oracle="""
    SELECT 'o_orderkey' AS col, CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
      CAST(MIN(o_orderkey) AS VARCHAR) AS min_val,
      CAST(MAX(o_orderkey) AS VARCHAR) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
      CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
      MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(COUNT(*) AS BIGINT),
      CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
      CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
    FROM orders
    """,
    description="Table PROFILING in one pass (the ingestion-hygiene "
    "utility every 100-TB lake needs — schema drift and null floods are "
    "caught by stats, not by eyeballing): per selected column, (count, "
    "null count, distinct count, min, max) computed in a SINGLE "
    "aggregate over ONE scan — the naive per-column loop scans the "
    "table N times — then stacked to long form JVM-side. The oracle's "
    "per-column UNION recomputes each row independently, so a stat "
    "computed over the wrong column or a stack misalignment "
    "hash-mismatches.",
)
def x17_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    cols = ["o_orderkey", "o_orderpriority", "o_custkey"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__null"),
            F.countDistinct(c).alias(f"{c}__dist"),
            # min/max on the NATIVE type, cast after: casting first would
            # compare lexicographically ('999' > '1499') and mis-profile
            # every numeric column
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    wide = load_table(spark, "orders", sf_dir).agg(*aggs)
    stack_args = []
    for c in cols:
        stack_args += [
            F.lit(c),
            F.col(f"{c}__n"),
            F.col(f"{c}__null"),
            F.col(f"{c}__dist"),
            F.col(f"{c}__min"),
            F.col(f"{c}__max"),
        ]
    return wide.select(
        F.stack(F.lit(len(cols)), *stack_args).alias(
            "col", "n", "n_null", "n_distinct", "min_val", "max_val"
        )
    )


@register(
    "m14_feature_corr",
    oracle="""
    WITH s AS (
      SELECT CAST(COUNT(*) AS DECIMAL(38,6)) AS n,
        SUM(CAST(o_custkey AS DECIMAL(38,6))) AS sx,
        SUM(CAST(o_orderkey % 1000 AS DECIMAL(38,6))) AS sy,
        SUM(CAST(o_custkey AS DECIMAL(38,6)) * CAST(o_custkey AS DECIMAL(38,6))) AS sxx,
        SUM(CAST(o_orderkey % 1000 AS DECIMAL(38,6))
            * CAST(o_orderkey % 1000 AS DECIMAL(38,6))) AS syy,
        SUM(CAST(o_custkey AS DECIMAL(38,6))
            * CAST(o_orderkey % 1000 AS DECIMAL(38,6))) AS sxy
      FROM orders
    )
    SELECT ROUND(
      CAST(n * sxy - sx * sy AS DOUBLE)
      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      / sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 6) + 0.0 AS pearson_r,
      CAST(n AS BIGINT) AS n
    FROM s
    """,
    description="DECIMAL-EXACT Pearson correlation (feature-stats utility; "
    "F.corr's streaming double accumulation is partition-order-dependent "
    "— its low bits change with layout, which is exactly what a "
    "cross-engine value gate cannot tolerate): the five sufficient "
    "statistics (Σx, Σy, Σx², Σy², Σxy) are summed as DECIMAL(38,6) — "
    "exact, order-independent, one map-side-combined aggregate — and "
    "the correlation is derived from them in ONE deterministic double "
    "expression on both engines. Same single-pass shape at 100 TB as "
    "F.corr, with bitwise-reproducible output.",
)
def m14_feature_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec = lambda c: c.cast("decimal(38,6)")  # noqa: E731
    orders = load_table(spark, "orders", sf_dir)
    x = dec(F.col("o_custkey"))
    y = dec(F.col("o_orderkey") % 1000)
    s = orders.agg(
        F.count(F.lit(1)).cast("decimal(38,6)").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
    dy = F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    return s.select(
        (F.round(num / dx / dy, 6) + 0.0).alias("pearson_r"),
        F.col("n").cast("long").alias("n"),
    )


@register(
    "x22_dynamic_partition_overwrite",
    oracle="""
    WITH cur AS (
      SELECT CAST(ts AS DATE) AS d, value, event_type FROM events
    ),
    final AS (
      SELECT d, value FROM cur
      WHERE d NOT IN (DATE '2024-01-12', DATE '2024-01-13')
      UNION ALL
      SELECT d, value * 2 AS value FROM cur
      WHERE d IN (DATE '2024-01-12', DATE '2024-01-13')
        AND event_type <> 'error'
    )
    SELECT d, COUNT(*) AS n,
      CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
        AS value_sum
    FROM final GROUP BY d
    """,
    description="DYNAMIC partition overwrite (S3 restatement contract — "
    "the daily-pipeline reality that yesterday's bad partitions get "
    "recomputed in place without touching the other 10 000): the full "
    "events table is laid down partitionBy(date), then a RESTATED batch "
    "covering only Jan 12-13 (errors dropped, values doubled — both row "
    "count and sums change) is written with partitionOverwriteMode="
    "dynamic, which must replace exactly the partitions present in the "
    "batch. The per-date aggregate over the final table catches every "
    "failure mode: static-overwrite semantics wipe the other 28 dates "
    "(their groups vanish), append-instead-of-overwrite doubles the "
    "restated dates, and a partial replace breaks n/value_sum. Oracle "
    "replays the restatement relationally from the source table.",
)
def x22_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    path, _ = _scratch("dynpo", sf_dir)
    ev = load_table(spark, "events", sf_dir).select(
        F.col("ts").cast("date").alias("d"), "value", "event_type"
    )
    ev.select("d", "value").write.mode("overwrite").partitionBy("d").parquet(path)
    restated = (
        ev.filter(F.col("d").isin("2024-01-12", "2024-01-13"))
        .filter(F.col("event_type") != "error")
        .select("d", (F.col("value") * 2).alias("value"))
    )
    (
        restated.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("d")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return back.groupBy("d").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
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
