"""Dataset assembly (reference preprocess.py:226-556, §3.1-3.3):
positive samples from matched accidents, negative samples from a
date×road grid, anti-join subtraction, accident-count feature, risk
encoding, cyclic + solar features, assembled feature vectors.

Spark-first deltas (SURVEY.md §7.1/§7.4):
  * sample ids are deterministic natural-key hashes, not
    monotonically_increasing_id;
  * date grid comes from sequence/explode, not a driver loop;
  * positives are removed from negatives with left_anti;
  * unions are by name; sampling is always seeded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from accident_prediction_montreal_spark.functions.cyclic import cyclic_encode
from accident_prediction_montreal_spark.functions.solar import solar_elevation
from accident_prediction_montreal_spark.operators.encoding import target_encode
from accident_prediction_montreal_spark.pipeline.matching import match_accidents_with_roads
from accident_prediction_montreal_spark.pipeline.road_features import road_features
from accident_prediction_montreal_spark.pipeline.weather import (
    WEATHER_COLS,
    smooth_risky_weather,
    weather_for_samples,
)

FEATURES_COL = [
    "hour_cos",
    "hour_sin",
    "loc_long",
    "loc_lat",
    "street_level_indexed",
    "street_length",
    "street_type_indexed",
    "accident_count",
    "rel_hum",
    "visibility",
    "stn_press",
    "temp",
    "risky_weather",
    "dayofyear_cos",
    "dayofyear_sin",
    "dayofweek",
    "solar_elevation",
]


def date_hour_grid(spark: SparkSession, start: str, end: str) -> DataFrame:
    """All (date, hour) pairs in [start, end] — reference
    generate_dates_df (preprocess.py:226-247) without the driver loop."""
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(start).cast("date"), F.lit(end).cast("date"), F.expr("interval 1 day")
            )
        ).alias("date")
    )
    hours = spark.range(0, 24).select(F.col("id").cast("int").alias("hour"))
    return days.crossJoin(hours)


def _add_date_features(df: DataFrame) -> DataFrame:
    """Cyclic hour/dayofyear + dayofweek + solar elevation
    (reference preprocess.py:401-419 + solar_features.py)."""
    hc, hs = cyclic_encode(F.col("hour"), 24.0)
    yc, ys = cyclic_encode(F.dayofyear("date"), 366.0)
    return (
        df.withColumn("hour_cos", hc)
        .withColumn("hour_sin", hs)
        .withColumn("dayofyear_cos", yc)
        .withColumn("dayofyear_sin", ys)
        .withColumn("dayofweek", F.dayofweek("date").cast("double"))
        .withColumn(
            "solar_elevation",
            solar_elevation("date", "hour", "loc_lat", "loc_long", utc_offset_hours=-5.0),
        )
    )


def _sample_id(*cols) -> F.Column:
    """Deterministic sample id from natural keys (vs the reference's
    partition-dependent monotonically_increasing_id, §7.4)."""
    return F.xxhash64(*cols)


def positive_samples(
    spark: SparkSession,
    accidents: DataFrame,
    road_points: DataFrame,
    weather: DataFrame,
    station_coords: DataFrame,
) -> DataFrame:
    """§3.1: matched accidents + road features + IDW weather + date features."""
    roads = road_features(road_points)
    match = match_accidents_with_roads(accidents, road_points)
    base = (
        accidents.join(match, "accident_id")
        .join(roads.drop("loc_lat", "loc_long"), "street_id")
        # keyed on accident_id: two accidents may share (date, hour, street)
        .withColumn("sample_id", _sample_id(F.lit("pos"), "accident_id"))
    )
    wx = weather_for_samples(base, smooth_risky_weather(weather), station_coords)
    return _add_date_features(base.join(wx, "sample_id"))


def negative_samples(
    spark: SparkSession,
    road_points: DataFrame,
    weather: DataFrame,
    station_coords: DataFrame,
    start: str,
    end: str,
    sample_ratio: float = 0.05,
    seed: int = 42,
) -> DataFrame:
    """§3.2: seeded sample of the date×road universe + same features.

    The full universe is |roads| × |date-hours| (2.4·10¹⁰ at reference
    scale, preprocess.py:268-271); the sample happens BEFORE any join so
    the heavy feature work only touches kept rows.
    """
    roads = road_features(road_points)
    grid = date_hour_grid(spark, start, end)
    base = (
        roads.crossJoin(grid)
        .sample(withReplacement=False, fraction=sample_ratio, seed=seed)
        .withColumn("sample_id", _sample_id(F.lit("neg"), "date", "hour", "street_id"))
    )
    wx = weather_for_samples(base, smooth_risky_weather(weather), station_coords)
    return _add_date_features(base.join(wx, "sample_id"))


def build_dataset(
    spark: SparkSession,
    positives: DataFrame,
    negatives: DataFrame,
    split_date: str = "2017-01-01",
) -> tuple[DataFrame, DataFrame]:
    """§3.3: labels, anti-join, accident-count, risk encodings, features.

    Returns (train, test) with columns
    (sample_id, street_id, date, hour, features array, label).
    """
    keys = ["date", "hour", "street_id"]
    neg = negatives.join(positives.select(keys), keys, "left_anti").withColumn(
        "label", F.lit(0.0)
    )
    pos = positives.withColumn("label", F.lit(1.0))

    cols = [
        "sample_id", "street_id", "date", "hour", "loc_lat", "loc_long",
        "street_level", "street_type", "street_length", "label",
        *[c for c in WEATHER_COLS if c in pos.columns],
        "hour_cos", "hour_sin", "dayofyear_cos", "dayofyear_sin", "dayofweek",
        "solar_elevation",
    ]
    samples = pos.select(*cols).unionByName(neg.select(*cols))

    train = samples.filter(F.col("date") < F.lit(split_date).cast("date"))
    test = samples.filter(F.col("date") >= F.lit(split_date).cast("date"))

    # accident_count over TRAIN positives, zero-filled to all streets
    # (preprocess.py:520-528) — computed once, applied to both splits.
    counts = (
        train.filter(F.col("label") == 1.0)
        .groupBy("street_id")
        .agg(F.count(F.lit(1)).alias("accident_count"))
    )

    # Risk-encode street_level and street_type on train (A7,
    # preprocess.py:531-556); unseen/null categories index to 0.
    encoders = {}
    for cat in ("street_level", "street_type"):
        enc = target_encode(train.na.fill("unknown", [cat]), cat, "label").select(
            cat, F.col("risk_index").alias(f"{cat}_indexed")
        )
        encoders[cat] = enc

    def finish(split: DataFrame) -> DataFrame:
        out = (
            split.join(F.broadcast(counts), "street_id", "left")
            .na.fill(0, ["accident_count"])
            .na.fill("unknown", ["street_level", "street_type"])
        )
        for cat, enc in encoders.items():
            out = out.join(F.broadcast(enc), cat, "left").na.fill(0, [f"{cat}_indexed"])
        feature_arr = F.array(*[F.col(c).cast("double") for c in FEATURES_COL])
        return out.select(
            "sample_id", "street_id", "date", "hour",
            feature_arr.alias("features_arr"), "label",
        )

    return finish(train), finish(test)
