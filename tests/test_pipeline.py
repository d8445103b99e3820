"""End-to-end reproduction of the reference dataflow (§3.1-3.3) on
Part-A fixtures: matching invariants, weather assembly, dataset
construction, and a full train pass."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from accident_prediction_montreal_spark.ml import (
    balanced_random_forest_pipeline,
    evaluate_binary_classifier,
)
from accident_prediction_montreal_spark.ml.class_weighter import balanced_weights
from accident_prediction_montreal_spark.pipeline import (
    build_dataset,
    date_hour_grid,
    generate_accidents,
    generate_road_points,
    generate_station_coords,
    generate_weather,
    match_accidents_with_roads,
    negative_samples,
    positive_samples,
    road_features,
    street_type_expr,
)


@pytest.fixture(scope="module")
def geo(spark):
    roads = generate_road_points(spark, n_streets=30).cache()
    accidents = generate_accidents(spark, roads, n=80, days=20).cache()
    weather = generate_weather(spark, n_stations=4, days=20)
    stations = generate_station_coords(spark, n_stations=4)
    return roads, accidents, weather, stations


def test_street_type_expr(spark):
    df = spark.createDataFrame(
        [("rue Sainte-Catherine",), ("Boulevard Saint-Laurent",), ("Weirdname 7",)],
        ["street_name"],
    )
    got = [r["t"] for r in df.select(street_type_expr("street_name").alias("t")).collect()]
    assert got == ["street", "boulevard", None]


def test_road_features_shape(spark, geo):
    roads, *_ = geo
    rf = road_features(roads)
    assert rf.count() == 30  # one row per street
    row = rf.filter(F.col("street_length") <= 0).count()
    assert row == 0  # every street has positive extent
    assert set(rf.columns) == {
        "street_id", "street_level", "street_length", "loc_lat", "loc_long", "street_type",
    }


def test_matching_invariants(spark, geo, monkeypatch):
    roads, accidents, *_ = geo
    match = match_accidents_with_roads(accidents, roads, exhaustive=False).persist()
    # exactly one street per accident, every accident matched
    assert match.count() == accidents.count()
    assert match.select("accident_id").distinct().count() == accidents.count()
    # grid path agrees with the reference's exhaustive crossJoin path
    exhaustive = match_accidents_with_roads(accidents, roads, exhaustive=True).persist()
    a = {(r["accident_id"], r["street_id"]) for r in match.collect()}
    b = {(r["accident_id"], r["street_id"]) for r in exhaustive.collect()}
    assert a == b
    # At these sizes knn_join_grid_exact answers with its round-0
    # exhaustive short-circuit; a zero budget forces the grid rounds
    # and the per-point proof under the matching wrapper.
    from accident_prediction_montreal_spark.operators import spatial

    monkeypatch.setattr(spatial, "FALLBACK_BUDGET_PAIRS", 0)
    grid = match_accidents_with_roads(accidents, roads, exhaustive=False)
    assert {(r["accident_id"], r["street_id"]) for r in grid.collect()} == b


def test_full_dataset_and_training(spark, geo):
    roads, accidents, weather, stations = geo
    # persist(): every assertion below would otherwise re-execute the
    # full lineage (matching + IDW + encodings) from the fixtures.
    pos = positive_samples(spark, accidents, roads, weather, stations).persist()
    assert pos.count() == accidents.count()
    neg = negative_samples(
        spark, roads, weather, stations,
        start="2017-01-01", end="2017-01-20", sample_ratio=0.05,
    ).persist()
    assert neg.count() > 0
    # weather features are populated (IDW join was total)
    assert pos.filter(F.col("temp").isNull()).count() == 0

    train, test = build_dataset(spark, pos, neg, split_date="2017-01-14")
    train, test = train.persist(), test.persist()
    n_train, n_test = train.count(), test.count()
    assert n_train > 0 and n_test > 0
    # anti-join: no (date,hour,street) of a positive appears as a negative
    overlap = (
        train.unionByName(test)
        .groupBy("street_id", "date", "hour")
        .agg(F.countDistinct("label").alias("n_labels"))
        .filter(F.col("n_labels") > 1)
        .count()
    )
    assert overlap == 0
    # feature vector is complete and fixed-length
    from accident_prediction_montreal_spark.pipeline.dataset import FEATURES_COL
    assert train.filter(F.size("features_arr") != len(FEATURES_COL)).count() == 0

    # train a BRF on the assembled features (M1-M7 end-to-end)
    from pyspark.ml.functions import array_to_vector
    tr = train.withColumn("features", array_to_vector("features_arr")).na.drop()
    model = balanced_random_forest_pipeline(
        balanced_weights(tr), num_trees=10, max_depth=5
    ).fit(tr)
    te = test.withColumn("features", array_to_vector("features_arr")).na.drop()
    metrics = evaluate_binary_classifier(model.transform(te))
    assert 0.0 <= metrics["areaUnderPR"] <= 1.0
    assert 0.0 <= metrics["areaUnderROC"] <= 1.0


def test_date_hour_grid(spark):
    grid = date_hour_grid(spark, "2024-01-01", "2024-01-03")
    assert grid.count() == 3 * 24
