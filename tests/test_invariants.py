"""Cross-operator invariants (SURVEY.md §5 item 4) on seeded random data —
cheaper than hypothesis-per-example Spark jobs, same guarantees."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from accident_prediction_montreal_spark.operators.metrics import threshold_sweep
from accident_prediction_montreal_spark.operators.spatial import idw_interpolate, knn_join


@pytest.fixture(scope="module")
def scored(spark):
    rng = random.Random(99)
    rows = [(rng.random(), rng.randrange(2)) for _ in range(500)]
    return spark.createDataFrame(rows, ["prob_positive", "label"]).persist()


def test_sweep_confusion_partitions_total(spark, scored):
    n = scored.count()
    n_pos = scored.filter(F.col("label") == 1).count()
    out = threshold_sweep(spark, scored, n_points=10).collect()
    for r in out:
        assert r["true_positive"] + r["false_negative"] == n_pos
        assert r["true_positive"] + r["false_negative"] + r["true_positive"] == r["true_positive"] * 2 + r["false_negative"]
        assert (
            r["true_positive"] + r["false_positive"] + r["true_negative"] + r["false_negative"]
            == n
        )


def test_sweep_monotone(spark, scored):
    rows = sorted(threshold_sweep(spark, scored, n_points=10).collect(), key=lambda r: r["threshold"])
    recalls = [r["recall"] for r in rows]
    fprs = [r["false_positive_rate"] for r in rows if r["false_positive_rate"] is not None]
    assert recalls == sorted(recalls, reverse=True)  # recall non-increasing in threshold
    assert fprs == sorted(fprs, reverse=True)


def test_idw_within_station_bounds(spark):
    rng = random.Random(5)
    samples = spark.createDataFrame(
        [(i, 45.0 + rng.random(), -73.0 + rng.random()) for i in range(30)],
        ["sample_id", "lat", "lon"],
    )
    stations = spark.createDataFrame(
        [(j, 45.0 + rng.random(), -73.0 + rng.random(), rng.uniform(-30, 30)) for j in range(6)],
        ["station_id", "station_lat", "station_lon", "v"],
    )
    lo = min(r["v"] for r in stations.collect())
    hi = max(r["v"] for r in stations.collect())
    out = idw_interpolate(samples, stations, ["v"]).collect()
    assert len(out) == 30
    for r in out:
        assert lo - 1e-9 <= r["v"] <= hi + 1e-9  # convex combination of station values


def test_knn_is_true_nearest(spark):
    rng = random.Random(21)
    left = spark.createDataFrame(
        [(i, 45.0 + rng.random() * 0.1, -73.0 + rng.random() * 0.1) for i in range(10)],
        ["id", "lat", "lon"],
    )
    right_rows = [
        (j, 45.0 + rng.random() * 0.1, -73.0 + rng.random() * 0.1) for j in range(20)
    ]
    right = spark.createDataFrame(right_rows, ["rid", "rlat", "rlon"])
    out = knn_join(left, right, k=1).collect()
    # verify against a Python brute force (haversine ≈ monotone in squared
    # euclidean at this tiny extent)
    import math

    def dist(a, b, c, d):
        return math.hypot(a - c, (b - d) * math.cos(math.radians(45)))

    lefts = {r["id"]: (r["lat"], r["lon"]) for r in left.collect()}
    for r in out:
        la, lo = lefts[r["id"]]
        best = min(right_rows, key=lambda x: dist(la, lo, x[1], x[2]))
        assert r["rid"] == best[0]


def test_checks_rows_types_nulls_and_single_pass(spark):
    from accident_prediction_montreal_spark.plans.registry import checks

    src = spark.range(10).withColumnRenamed("id", "x")
    row = src.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
    out = checks(row, {
        "n_is_10": F.col("n") == 10,
        "sum_is_0": F.col("s") == 0,
        "unknown": F.lit(None).cast("boolean"),
    })
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("chk", "string"),
        ("ok", "bigint"),
    ]
    # one row per name, in dict order; a NULL check stays NULL (fails)
    assert [tuple(r) for r in out.collect()] == [
        ("n_is_10", 1), ("sum_is_0", 0), ("unknown", None),
    ]
    # every check is emitted in ONE pass over the row, not a union
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan

    # an ungrouped aggregate over EMPTY input is still one row, so every
    # check is emitted (the coalesce guard gives the vacuous pass)
    empty = src.filter(F.col("x") < 0).agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    assert [tuple(r) for r in checks(empty, {
        "none_seen": F.col("n") == 0,
        "vacuous": F.coalesce(F.col("s") == 0, F.lit(True)),
        "unguarded": F.col("s") == 0,
    }).collect()] == [("none_seen", 1), ("vacuous", 1), ("unguarded", None)]
