"""Shared end-to-end training run — the engine's equivalent of the
reference's mains (mains/main_train_brf.py:24-60, main_train_urf.py:
24-58 + export_results.py): fixtures → matching → weather → dataset →
model → evaluation → exported results.

One code path serves both the CLI (scripts/train_reference_pipeline.py)
and the model-quality regression goldens (tests/test_ml_goldens.py vs
tests/goldens/ml_quality.json), so the goldens gate exactly what the
script ships.
"""

from __future__ import annotations

from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from accident_prediction_montreal_spark import cachereg
from accident_prediction_montreal_spark.ml.class_weighter import balanced_weights
from accident_prediction_montreal_spark.ml.export import (
    create_result_dir,
    write_params,
    write_results,
)
from accident_prediction_montreal_spark.ml.pipelines import (
    balanced_random_forest_pipeline,
    undersampled_random_forest_pipeline,
)
from accident_prediction_montreal_spark.ml.tuning import gbt_pipeline
from accident_prediction_montreal_spark.pipeline import (
    build_dataset,
    generate_accidents,
    generate_road_points,
    generate_station_coords,
    generate_weather,
    negative_samples,
    positive_samples,
)
from accident_prediction_montreal_spark.pipeline.dataset import FEATURES_COL

ALGORITHMS = ("brf", "urf", "gbt")
_PRED_SITE = "ml.reference_run.test_pred"


def build_training_frames(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """Deterministic train/test frames with MLlib vector features.

    risk_bias plants rush-hour / weekday / hot-street structure so the
    model-quality goldens sit measurably above the random baseline — a
    flat-0.5 AUROC golden would not catch a pipeline that stopped
    learning (r4 verdict #5).
    """
    cached = cachereg.generation("ml.reference_run.frames")
    roads = cached.persist(generate_road_points(spark, n_streets=40))
    accidents = cached.persist(
        generate_accidents(spark, roads, n=400, days=25, risk_bias=True)
    )
    weather = generate_weather(spark, n_stations=5, days=25)
    stations = generate_station_coords(spark, n_stations=5)

    pos = cached.persist(positive_samples(spark, accidents, roads, weather, stations))
    neg = cached.persist(
        negative_samples(
            spark, roads, weather, stations, "2017-01-01", "2017-01-25", sample_ratio=0.05
        )
    )
    train, test = build_dataset(spark, pos, neg, split_date="2017-01-18")
    # Deterministic layout before fit: tree/boosting fits are sensitive to
    # per-partition sample order, so pin partitioning + intra-partition
    # order to the data itself (not to session config / AQE decisions) —
    # the goldens must reproduce under any harness session. Fixture-scale
    # cost only; production fits don't need bit-identical models.
    to_ml = lambda df: cached.persist(  # noqa: E731
        df.withColumn("features", array_to_vector("features_arr"))
        .na.drop()
        .repartition(8, "sample_id")
        .sortWithinPartitions("sample_id", "date", "hour")
    )
    return to_ml(train), to_ml(test)


def train_reference(
    spark: SparkSession,
    algo: str,
    train: DataFrame,
    test: DataFrame,
    out_base: str | None = None,
) -> dict:
    """Fit one reference-shaped pipeline and return its metric dict
    ({"test": {areaUnderPR, areaUnderROC}, "train": {...}}); export the
    reference's result files when ``out_base`` is given."""
    if algo == "brf":
        pipe = balanced_random_forest_pipeline(balanced_weights(train), num_trees=30, max_depth=8)
    elif algo == "urf":
        pipe = undersampled_random_forest_pipeline(
            target_imbalance_ratio=4.0, index_col="sample_id", num_trees=30, max_depth=8
        )
    elif algo == "gbt":
        pipe = gbt_pipeline(class_weight=balanced_weights(train), max_iter=10, max_depth=5)
    else:
        raise ValueError(f"unknown algorithm {algo!r}")

    model = pipe.fit(train)
    if out_base is None:
        from accident_prediction_montreal_spark.ml.evaluate import (
            evaluate_binary_classifier,
            recall_at_flag_rate,
        )

        test_pred = cachereg.generation(_PRED_SITE).persist(model.transform(test))
        test_metrics = evaluate_binary_classifier(test_pred)
        # The reference's headline operating point (README.md:9 "top 13%
        # flagged => 85% of collisions"), asserted at fixture scale by
        # the goldens alongside the area metrics.
        test_metrics["recallAtFlag13pct"] = recall_at_flag_rate(
            test_pred, flag_rate=0.13
        )
        out = {
            "test": test_metrics,
            "train": evaluate_binary_classifier(model.transform(train)),
        }
        cachereg.release(_PRED_SITE)
        return out
    n_neg = train.filter(F.col("label") == 0.0).count()
    result_dir = create_result_dir(out_base, algo)
    write_params(model, {"count_negative_samples": n_neg}, result_dir)
    metrics = write_results(
        spark,
        model,
        model.transform(test),
        model.transform(train),
        result_dir,
        feature_cols=FEATURES_COL if algo != "gbt" else None,
    )
    metrics["result_dir"] = result_dir
    return metrics
