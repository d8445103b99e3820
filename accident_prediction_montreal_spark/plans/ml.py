"""ML pipeline and sampling family (SURVEY.md §2.8 and §2.11) as queries: feature
assembly, class weights, undersampling, target and out-of-fold encodings,
evaluators and threshold sweeps, calibration, gains tables, drift, bootstrap
intervals, feature correlation, and the seeded sampling and split operators.
Where randomness or MLlib internals have no ANSI oracle, the query checks its
contract through literal-1 invariant rows instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from accident_prediction_montreal_spark.ml.class_weighter import (
    ClassWeighter,
    balanced_weights,
)
from accident_prediction_montreal_spark.ml.random_undersampler import (
    RandomUnderSampler,
)
from accident_prediction_montreal_spark.operators.encoding import target_encode
from accident_prediction_montreal_spark.operators.metrics import (
    count_rate_model,
    threshold_sweep,
)
from accident_prediction_montreal_spark.operators.mixing import (
    SALT_SPLIT,
    lcg_uniform,
    lcg_uniform_sql,
)
from accident_prediction_montreal_spark.plans.registry import checks, register
from accident_prediction_montreal_spark.sources.registry import load_table


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


# --- M8: single-pass threshold sweep ------------------------------------------------------

_SWEEP_N = 20

_SWEEP_ORACLE = f"""
    WITH scored AS (
      SELECT ((o_orderkey * 2654435761) % 1001) / 1000.0 AS prob,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
      FROM orders
    ),
    hist AS (
      SELECT label, CAST(floor(prob * {_SWEEP_N}) AS INT) AS id_bucket, COUNT(*) AS cnt
      FROM scored GROUP BY 1, 2
    ),
    grid AS (
      SELECT CAST(b AS INT) AS id_bucket, l AS label
      FROM (SELECT UNNEST(range(-1, {_SWEEP_N} + 1)) AS b)
      CROSS JOIN (VALUES (0), (1)) t(l)
    ),
    filled AS (
      SELECT COALESCE(g.id_bucket, h.id_bucket) AS id_bucket,
             COALESCE(g.label, h.label) AS label,
             COALESCE(h.cnt, 0) AS cnt
      FROM grid g FULL OUTER JOIN hist h
        ON g.id_bucket = h.id_bucket AND g.label = h.label
    ),
    cum AS (
      SELECT id_bucket, label,
        SUM(cnt) OVER (PARTITION BY label ORDER BY id_bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_below,
        COALESCE(SUM(cnt) OVER (PARTITION BY label ORDER BY id_bucket
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS n_above
      FROM filled
    ),
    piv AS (
      -- COALESCE 0 mirrors Spark's pivot([0,1]) + fill(0) zero-fill of a
      -- missing label slot (reference random_forest.py:176-184 na.fill);
      -- the grid spans -1..n inclusive so both labels have cumulative
      -- rows even at the prob=1.0 bucket.
      SELECT (id_bucket + 1) / {_SWEEP_N}.0 AS threshold,
        CAST(COALESCE(SUM(CASE WHEN label = 0 THEN n_below END), 0) AS BIGINT) AS true_negative,
        CAST(COALESCE(SUM(CASE WHEN label = 0 THEN n_above END), 0) AS BIGINT) AS false_positive,
        CAST(COALESCE(SUM(CASE WHEN label = 1 THEN n_below END), 0) AS BIGINT) AS false_negative,
        CAST(COALESCE(SUM(CASE WHEN label = 1 THEN n_above END), 0) AS BIGINT) AS true_positive
      FROM cum GROUP BY id_bucket
    )
    SELECT threshold, true_negative, false_positive, false_negative, true_positive,
      ROUND(CASE WHEN true_positive + false_positive <> 0
            THEN true_positive / CAST(true_positive + false_positive AS DOUBLE) END, 6)
        AS precision,
      ROUND(CASE WHEN true_positive <> 0
            THEN true_positive / CAST(true_positive + false_negative AS DOUBLE)
            ELSE 0.0 END, 6) AS recall,
      ROUND(CASE WHEN false_positive + true_negative <> 0
            THEN false_positive / CAST(false_positive + true_negative AS DOUBLE) END, 6)
        AS false_positive_rate,
      ROUND((true_positive + true_negative)
            / CAST(true_positive + true_negative + false_positive + false_negative AS DOUBLE), 6)
        AS accuracy
    FROM piv
    """


@register(
    "m8_threshold_sweep",
    oracle=_SWEEP_ORACLE,
    description="Single-pass threshold-dependent metrics: histogram + grid OUTER join "
    "+ cumulative windows + pivot (M8, random_forest.py:136-221). The prob "
    "formula lands on exactly 1.0 for some rows, exercising the bucket-n "
    "path the reference's outer join preserves.",
)
def m8_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    scored = orders.select(
        (((F.col("o_orderkey") * 2654435761) % 1001) / 1000.0).alias("prob_positive"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("label"),
    )
    out = threshold_sweep(spark, scored, n_points=_SWEEP_N)
    return out.select(
        "threshold",
        F.col("true_negative").cast("long").alias("true_negative"),
        F.col("false_positive").cast("long").alias("false_positive"),
        F.col("false_negative").cast("long").alias("false_negative"),
        F.col("true_positive").cast("long").alias("true_positive"),
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("false_positive_rate", 6).alias("false_positive_rate"),
        F.round("accuracy", 6).alias("accuracy"),
    )


@register(
    "m_calibration_bins",
    oracle=f"""
    WITH scored AS (
      SELECT ((o_orderkey * 2654435761) % 1001) / 1000.0 AS prob,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
      FROM orders
    )
    SELECT CAST(LEAST(FLOOR(prob * 10), 9) AS INT) AS bin,
      CAST(COUNT(*) AS BIGINT) AS n,
      ROUND(CAST(SUM(CAST(prob AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6)
        AS mean_prob,
      ROUND(SUM(label) / CAST(COUNT(*) AS DOUBLE), 6) AS frac_pos
    FROM scored GROUP BY 1
    """,
    description="Calibration / reliability bins (ML-evaluation surface): decile "
    "buckets of predicted probability (top bucket closed at 1.0) with "
    "decimal-exact mean predicted prob vs empirical positive rate — one "
    "map-side-combined aggregation pass, the companion diagnostic to the "
    "M8 threshold sweep.",
)
def m_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    scored = orders.select(
        (((F.col("o_orderkey") * 2654435761) % 1001) / 1000.0).alias("prob"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("label"),
    )
    binned = scored.select(
        F.least(F.floor(F.col("prob") * 10), F.lit(9)).cast("int").alias("bin"),
        "prob",
        "label",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("prob").cast("decimal(38,6)")).cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_prob"),
        F.round(F.sum("label") / F.count(F.lit(1)).cast("double"), 6).alias("frac_pos"),
    )


# --- M9: one-pass count-threshold baseline model ----------------------------------------------

@register(
    "m9_count_rate_model",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey, COUNT(*) AS cnt,
             MAX(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS label
      FROM orders GROUP BY o_custkey
    ),
    hist AS (
      SELECT cnt AS threshold, COUNT(*) AS n_total, SUM(label) AS n_pos
      FROM per_cust GROUP BY cnt
    )
    SELECT CAST(threshold AS BIGINT) AS threshold,
      CAST(SUM(n_total) OVER w AS BIGINT) AS n_at_or_above,
      ROUND(CAST(SUM(n_pos) OVER w AS DOUBLE) / CAST(SUM(n_total) OVER w AS DOUBLE), 6)
        AS p_positive
    FROM hist
    WINDOW w AS (ORDER BY threshold ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    """,
    description="Empirical P(label | count ≥ t) in one pass: histogram + suffix window "
    "(M9 rewrite of main_train_base.py:25-51)",
)
def m9_count_rate_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("order_count"),
        F.max(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("label"),
    )
    out = count_rate_model(per_cust, count_col="order_count", label_col="label")
    return out.select(
        F.col("threshold").cast("long").alias("threshold"),
        F.col("n_at_or_above").cast("long").alias("n_at_or_above"),
        F.round("p_positive", 6).alias("p_positive"),
    )


# --- A7: target / risk encoding -----------------------------------------------------------------

@register(
    "a7_target_encode",
    oracle="""
    WITH stats AS (
      SELECT COUNT(*) AS n_all,
             SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS n_pos
      FROM orders
    ),
    risk AS (
      SELECT o_orderpriority,
        SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
          / CAST((SELECT n_pos FROM stats) AS DOUBLE)
        - COUNT(*) / CAST((SELECT n_all FROM stats) AS DOUBLE) AS risk
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, ROUND(risk, 6) + 0.0 AS risk,
      CAST(ROW_NUMBER() OVER (ORDER BY risk DESC, o_orderpriority ASC) AS BIGINT)
        AS risk_index
    FROM risk
    """,
    description="Category risk = P(cat|pos) − P(cat|all) + ordinal index "
    "(A7, preprocess.py:531-556)",
)
def a7_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir).withColumn(
        "label", F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    )
    out = target_encode(orders, category_col="o_orderpriority", label_col="label")
    return out.select(
        "o_orderpriority",
        (F.round("risk", 6) + 0.0).alias("risk"),
        F.col("risk_index").cast("long").alias("risk_index"),
    )


@register(
    "r5_hash_split",
    oracle=f"""
    WITH u AS (
      SELECT doc_id, source,
        {lcg_uniform_sql('doc_id', SALT_SPLIT)} AS u
      FROM documents
    )
    SELECT source,
      CASE WHEN u < 0.5 THEN 'train' WHEN u < 0.75 THEN 'val' ELSE 'test' END AS split,
      CAST(COUNT(*) AS BIGINT) AS n
    FROM u GROUP BY 1, 2
    """,
    description="Deterministic id-hash split (production replacement for "
    "randomSplit, which draws per-partition and can re-bucket the SAME "
    "row when layout changes): split = cumulative-weight thresholds over "
    "an integer-LCG uniform of doc_id — a pure function of the row, "
    "stable across runs/engines/partitionings, zero extra passes. "
    "Weights 0.5/0.25/0.25 keep the cumulative cuts float-exact so the "
    "oracle's thresholds are bit-identical. operators/mixing.py::hash_split.",
)
def r5_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.mixing import hash_split

    docs = load_table(spark, "documents", sf_dir)
    out = hash_split(docs, "doc_id", weights=(0.5, 0.25, 0.25))
    return out.groupBy("source", "split").agg(F.count(F.lit(1)).cast("long").alias("n"))


def _a22_oracle() -> str:
    from accident_prediction_montreal_spark.operators.mixing import (
        SALT_WEIGHTED,
        lcg_uniform_sql,
    )

    u = lcg_uniform_sql("event_id", salt=SALT_WEIGHTED)
    return f"""
    WITH keyed AS (
      SELECT event_type, event_id,
             POW({u}, 1.0 / (value + 1)) AS k
      FROM events WHERE value + 1 > 0
    ),
    r AS (
      SELECT event_type, event_id,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY k DESC, event_id ASC) AS sample_rank
      FROM keyed
    )
    SELECT event_type, event_id, CAST(sample_rank AS INT) AS sample_rank
    FROM r WHERE sample_rank <= 100
    """


@register(
    "a22_weighted_sample",
    oracle=_a22_oracle(),
    description="Weighted sampling WITHOUT replacement as ONE distributed "
    "top-k (operators/mixing.py::weighted_sample_topk — Efraimidis-"
    "Spirakis A-ES): every row keys itself with u(id)^(1/w) from the "
    "shared exact LCG, and the k largest keys per stratum ARE a weighted "
    "sample without replacement — no rejection loop, no sequential "
    "reservoir, no driver state. Keys are computed map-side in the JVM; "
    "an Arrow per-partition COMBINER prunes to each partition's local "
    "top-k per stratum, so the only shuffle carries at most n_partitions "
    "x n_strata x k rows (never the corpus) into the exact final rank. "
    "Weight = value+1 over events, k=100 per event_type; the output is "
    "the SELECTION (ids + ranks), engine-stable because distinct LCG "
    "uniforms keep key gaps orders of magnitude above pow()'s ulp "
    "differences; the raw transcendental key is deliberately not "
    "emitted. Oracle replays the identical keying in SQL.",
)
def a22_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.mixing import (
        weighted_sample_topk,
    )

    ev = load_table(spark, "events", sf_dir).select("event_type", "event_id", "value")
    out = weighted_sample_topk(
        ev,
        id_col="event_id",
        weight_col=F.col("value") + 1,
        k=100,
        strata_col="event_type",
    )
    return out.select("event_type", "event_id", F.col("sample_rank").cast("int"))


_PSI_CUTOFF = "2024-01-16"


@register(
    "m15_psi_drift",
    oracle=f"""
    WITH binned AS (
      SELECT LEAST(CAST(floor(value / 50.0) AS INT), 9) AS bin,
        CASE WHEN ts < TIMESTAMP '{_PSI_CUTOFF} 00:00:00' THEN 1 ELSE 0 END AS is_ref
      FROM events
    ),
    cnts AS (
      SELECT bin,
        CAST(SUM(is_ref) AS BIGINT) AS ref_cnt,
        CAST(SUM(1 - is_ref) AS BIGINT) AS cur_cnt
      FROM binned GROUP BY bin
    ),
    p AS (
      SELECT bin, ref_cnt, cur_cnt,
        ref_cnt / CAST(SUM(ref_cnt) OVER () AS DOUBLE) AS p_ref,
        cur_cnt / CAST(SUM(cur_cnt) OVER () AS DOUBLE) AS p_cur
      FROM cnts
    )
    SELECT bin, ref_cnt, cur_cnt,
      ROUND(p_ref, 6) AS p_ref, ROUND(p_cur, 6) AS p_cur,
      ROUND((p_cur - p_ref) * ln(GREATEST(p_cur, 1e-6) / GREATEST(p_ref, 1e-6)), 6)
        AS psi_term
    FROM p ORDER BY bin
    """,
    description="Population Stability Index drift monitor (M-surface, "
    "the model-monitoring twin of m_calibration_bins): events split at "
    "a fixed date into reference vs current, value histogrammed into 10 "
    "fixed-width bins, per-bin PSI term (p_cur-p_ref)*ln(p_cur/p_ref) "
    "with an epsilon floor. ONE map-side-combinable groupBy(bin) "
    "computes both sides' counts (conditional sums — no second scan, no "
    "join); normalizers are unbounded-frame window sums over the "
    "10-row bin table. Constant-size state at any data scale.",
)
def m15_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    cutoff = F.lit(_PSI_CUTOFF).cast("timestamp")
    binned = ev.select(
        F.least(F.floor(F.col("value") / 50.0).cast("int"), F.lit(9)).alias("bin"),
        (F.col("ts") < cutoff).cast("int").alias("is_ref"),
    )
    cnts = binned.groupBy("bin").agg(
        F.sum("is_ref").cast("long").alias("ref_cnt"),
        F.sum(1 - F.col("is_ref")).cast("long").alias("cur_cnt"),
    )
    w = Window.partitionBy()
    # try_divide: an all-current (or all-reference) corpus makes a
    # normalizer 0, where plain `/` is an ANSI DIVIDE_BY_ZERO error and
    # DuckDB returns NULL (r14 events-table fuzz find) — try_divide is
    # exactly DuckDB's zero-divisor semantics.
    p_ref = F.try_divide(
        F.col("ref_cnt"), F.sum("ref_cnt").over(w).cast("double")
    )
    p_cur = F.try_divide(
        F.col("cur_cnt"), F.sum("cur_cnt").over(w).cast("double")
    )
    psi = (p_cur - p_ref) * F.log(
        F.greatest(p_cur, F.lit(1e-6)) / F.greatest(p_ref, F.lit(1e-6))
    )
    return (
        cnts.select(
            "bin",
            "ref_cnt",
            "cur_cnt",
            F.round(p_ref, 6).alias("p_ref"),
            F.round(p_cur, 6).alias("p_cur"),
            F.round(psi, 6).alias("psi_term"),
        )
        .orderBy("bin")
    )


@register(
    "m16_gains_table",
    oracle="""
    WITH scored AS (
      SELECT ((o_orderkey * 2654435761) % 1001) / 1000.0 AS prob,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
      FROM orders
    ),
    bands AS (
      SELECT CAST(LEAST(FLOOR(prob * 10), 9) AS INT) AS band,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(label) AS BIGINT) AS n_pos
      FROM scored GROUP BY 1
    )
    SELECT band, n, n_pos,
      CAST(SUM(n) OVER w AS BIGINT) AS cum_n,
      CAST(SUM(n_pos) OVER w AS BIGINT) AS cum_pos,
      ROUND(SUM(n_pos) OVER w / CAST(SUM(n_pos) OVER () AS DOUBLE), 6) AS gain,
      ROUND((SUM(n_pos) OVER w / CAST(SUM(n) OVER w AS DOUBLE))
            / (SUM(n_pos) OVER () / CAST(SUM(n) OVER () AS DOUBLE)), 6) AS lift
    FROM bands
    WINDOW w AS (ORDER BY band DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY band DESC
    """,
    description="Cumulative gains / lift table (ML-evaluation surface, "
    "completing the sweep + calibration + count-rate diagnostics "
    "family): score bands descending, cumulative positives captured "
    "and lift vs the base rate — the campaign-targeting table. Scale "
    "shape: ONE map-side-combined aggregate collapses the data to 10 "
    "band rows; every cumulative statistic is a window over that "
    "10-row table (never a global sort of scored rows — the ntile "
    "formulation would single-partition-sort the full dataset). Same "
    "deterministic Knuth-hash score as m_calibration_bins.",
)
def m16_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    scored = orders.select(
        (((F.col("o_orderkey") * 2654435761) % 1001) / 1000.0).alias("prob"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("label"),
    )
    bands = scored.groupBy(
        F.least(F.floor(F.col("prob") * 10), F.lit(9)).cast("int").alias("band")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("label").cast("long").alias("n_pos"),
    )
    w = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy()
    cum_n = F.sum("n").over(w)
    cum_pos = F.sum("n_pos").over(w)
    tot_n = F.sum("n").over(tot)
    tot_pos = F.sum("n_pos").over(tot)
    return (
        bands.select(
            "band",
            "n",
            "n_pos",
            cum_n.cast("long").alias("cum_n"),
            cum_pos.cast("long").alias("cum_pos"),
            F.round(cum_pos / tot_pos.cast("double"), 6).alias("gain"),
            F.round(
                (cum_pos / cum_n.cast("double")) / (tot_pos / tot_n.cast("double")), 6
            ).alias("lift"),
        )
        .orderBy(F.col("band").desc())
    )


_B = 32  # bootstrap replicates
# Poisson(1) inverse-CDF thresholds (cumulative e^-1 * sum 1/k!),
# written as literals so both engines compare against identical doubles.
_POIS_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
]


def _pois_case_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"CASE {cases} ELSE 5 END"


@register(
    "m17_bootstrap_ci",
    oracle=f"""
    WITH reps AS (SELECT UNNEST(range(0, {_B})) AS replicate),
    weighted AS (
      SELECT r.replicate,
        {_pois_case_sql(lcg_uniform_sql("e.event_id * " + str(_B) + " + r.replicate", salt=13))}
          AS w,
        CAST(round(e.value * 100) AS BIGINT) AS cents
      FROM events e CROSS JOIN reps r
    )
    SELECT replicate,
      CAST(SUM(w) AS BIGINT) AS n_eff,
      ROUND(SUM(w * cents) / (100.0 * SUM(w)), 6) AS boot_mean
    FROM weighted GROUP BY replicate ORDER BY replicate
    """,
    description=f"Seeded POISSON BOOTSTRAP (M-surface uncertainty "
    f"quantification): {_B} bootstrap replicates of the global mean in "
    "ONE pass — each row draws a Poisson(1) weight per replicate from "
    "the engine-portable LCG (inverse-CDF case ladder over literal "
    "thresholds, so the oracle replays every weight exactly), and the "
    "per-replicate weighted means come out of a single "
    "map-side-combined aggregate whose shuffle carries B rows per "
    "partition. This is THE scalable bootstrap: resampling 100 TB by "
    "index is impossible, but Poissonized weights stream. Means are "
    "computed over integer cents (exact, order-independent) and "
    f"divided once at the end. The spread of the {_B} replicate means "
    "IS the standard-error estimate; the query releases the replicate "
    "table so any CI flavor can be taken downstream.",
)
def m17_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    rep = ev.select(
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.explode(F.sequence(F.lit(0), F.lit(_B - 1))).alias("replicate"),
    )
    u = lcg_uniform(F.col("event_id") * _B + F.col("replicate"), salt=13)
    w = F.lit(5)
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        w = F.when(u < _POIS_CDF[k], k).otherwise(w)
    return (
        rep.select("replicate", w.alias("w"), "cents")
        .groupBy("replicate")
        .agg(
            F.sum("w").cast("long").alias("n_eff"),
            # try_divide: a replicate whose every Poisson weight drew 0
            # has SUM(w)=0 — plain `/` is an ANSI DIVIDE_BY_ZERO error,
            # DuckDB returns NULL (r14 events-table fuzz find on a
            # 1-row corpus; vanishingly rare at fixture size, certain
            # somewhere at fuzz size)
            F.round(
                F.try_divide(
                    F.sum(F.col("w") * F.col("cents")), 100.0 * F.sum("w")
                ),
                6,
            ).alias("boot_mean"),
        )
        .orderBy("replicate")
    )


@register(
    "m18_isotonic_calibration",
    oracle="""
    WITH scored AS (
      SELECT ((o_orderkey * 2654435761) % 1001) / 1000.0 AS prob,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
      FROM orders
    ),
    bins AS (
      SELECT CAST(LEAST(FLOOR(prob * 10), 9) AS INT) AS bin,
        CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(label) AS BIGINT) AS pos
      FROM scored GROUP BY 1
    ),
    iv AS (
      SELECT j.bin AS j, k.bin AS k,
        SUM(e.pos) / CAST(SUM(e.n) AS DOUBLE) AS a
      FROM bins j JOIN bins k ON j.bin <= k.bin
      JOIN bins e ON e.bin BETWEEN j.bin AND k.bin
      GROUP BY j.bin, k.bin
    ),
    mins AS (
      SELECT b.bin, iv.j, MIN(iv.a) AS m
      FROM bins b JOIN iv ON iv.j <= b.bin AND iv.k >= b.bin
      GROUP BY b.bin, iv.j
    ),
    fit AS (SELECT bin, MAX(m) AS iso FROM mins GROUP BY bin)
    SELECT b.bin, b.n,
      ROUND(b.pos / CAST(b.n AS DOUBLE), 6) AS frac_pos,
      ROUND(f.iso, 6) AS iso_prob
    FROM bins b JOIN fit f USING (bin) ORDER BY b.bin
    """,
    description="ISOTONIC CALIBRATION over the reliability bins — the "
    "monotone-map companion to m_calibration_bins (and the engine-"
    "checkable complement to MLlib's black-box IsotonicRegression): the "
    "weighted isotonic fit comes from the EXACT minimax closed form "
    "iso(i) = max over j<=i of min over k>=i of (pos[j..k] / n[j..k]) — "
    "equivalent to pool-adjacent-violators but expressed as two nested "
    "aggregations over interval sums of EXACT integers, so both engines "
    "compute identical doubles and the oracle checks the fitted values "
    "literally. Scale: the raw pass is the same one map-side-combined "
    "aggregation as the bins query; everything after operates on the "
    "10-row bin table (55 intervals, 100 (i,j) cells) — distributed "
    "joins over metadata-sized frames, no collect, O(B^3) only in the "
    "BIN count, never in rows.",
)
def m18_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    bins = (
        orders.select(
            (((F.col("o_orderkey") * 2654435761) % 1001) / 1000.0).alias("prob"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("label"),
        )
        .select(
            F.least(F.floor(F.col("prob") * 10), F.lit(9)).cast("int").alias("bin"),
            "label",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("label").cast("long").alias("pos"),
        )
    )
    j = bins.select(F.col("bin").alias("j"))
    k = bins.select(F.col("bin").alias("k"))
    e = bins.select(F.col("bin").alias("e"), "n", "pos")
    iv = (
        j.join(k, F.col("j") <= F.col("k"))
        .join(e, (F.col("e") >= F.col("j")) & (F.col("e") <= F.col("k")))
        .groupBy("j", "k")
        .agg((F.sum("pos") / F.sum("n").cast("double")).alias("a"))
    )
    b = bins.select(F.col("bin"), "n", "pos")
    mins = (
        b.join(iv, (F.col("j") <= F.col("bin")) & (F.col("k") >= F.col("bin")))
        .groupBy("bin", "j")
        .agg(F.min("a").alias("m"))
    )
    fit = mins.groupBy("bin").agg(F.max("m").alias("iso"))
    return (
        b.join(fit, "bin")
        .select(
            "bin",
            "n",
            F.round(F.col("pos") / F.col("n").cast("double"), 6).alias("frac_pos"),
            F.round("iso", 6).alias("iso_prob"),
        )
        .orderBy("bin")
    )
