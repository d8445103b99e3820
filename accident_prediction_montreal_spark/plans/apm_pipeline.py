"""Pipelines family: the reference's FULL dataset pipeline as one
oracle-checked query (reference preprocess.py:313-357
get_positive_samples and :464-508 get_dataset_df):

  accidents -> two-pass spatial matching -> road features -> EWMA-
  smoothed station weather -> IDW interpolation -> cyclic/solar date
  features -> negative date x road grid -> anti-join -> accident-count
  + risk encodings -> assembled feature vectors -> per (split, label)
  DECIMAL-exact feature checksums.

Every stage is the registered operator itself (match_accidents_with_
roads, road_features, smooth_risky_weather, weather_for_samples,
_add_date_features, build_dataset) composed in ONE lazy plan — the
geo-side sibling of llm_pretrain_pipeline, proving the §3.1-3.3 chain
COMPOSES under a DuckDB oracle, not just stage-by-stage.

Fixtures are closed-form derivations of the parquet tables (the same
formulas on both engines, the plans/spatial.py pattern):

  * streets   <- suppliers 1..10: 4-point polylines around key-derived
    centers, reference-style names (rue/avenue/.../xyz) so the F1
    street-type classifier exercises its null branch, levels from the
    reference's artère/locale/collectrice set;
  * accidents <- every 1995 order: half planted < 1 m from a street
    point (pass-1 accept), half ~200 m off-road (midpoint-densify
    refine pass);
  * weather   <- a full-1995 (station x date x hour) grid over 4
    nation-derived stations, integer-modular observation values (exact
    cross-engine), risky_weather EWMA-smoothed (window 24, rate 0.5);
  * negatives <- a Feb-Mar date x street grid kept by the salted
    deterministic lcg_uniform (the registered production replacement
    for the reference's Bernoulli sample — SQL-checkable, layout-
    independent).

Float discipline: per-row features are rounded to 6 decimals and
summed as DECIMAL(28,6) on BOTH engines — exact, order-independent —
so the only cross-engine risk is a libm last-ulp landing exactly on a
rounding boundary (~1e-10 per row).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from accident_prediction_montreal_spark import cachereg
from accident_prediction_montreal_spark.operators.mixing import (
    lcg_uniform,
    lcg_uniform_sql,
)
from accident_prediction_montreal_spark.plans.registry import register
from accident_prediction_montreal_spark.plans.spatial import haversine_sql
from accident_prediction_montreal_spark.sources.registry import load_table


# Fixture constants — shared by the Spark plan and the SQL oracle.
_N_STREETS = 10
_N_POINTS = 4
_N_STATIONS = 4
_WX_START, _WX_END = "1995-01-01", "1995-12-31"
_NEG_START, _NEG_END = "1995-02-01", "1995-03-31"
_SPLIT_DATE = "1995-03-01"
_NEG_FRAC = 0.10
_NEG_SALT = 3  # lcg salt for the negative-grid keep decision
_LEVELS = ["artère", "locale", "collectrice"]
_WORDS = ["rue", "avenue", "boulevard", "chemin", "impasse", "xyz"]
# street_type_expr's first-word classification of the six name words
# (road_features.py keyword table); 'xyz' maps to null -> 'unknown'.
_WORD_TYPES = ["street", "avenue", "boulevard", "chemin", "impasse", None]

_TWO_PI_365 = 2.0 * math.pi / 365.0
_TWO_PI_24 = 2.0 * math.pi / 24.0


# --- Spark-side fixtures ------------------------------------------------------

def _road_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, "supplier", sf_dir).filter(
        F.col("s_suppkey") <= _N_STREETS
    )
    s = F.col("s_suppkey")
    center_lat = F.lit(45.4) + s / 300.0
    center_long = F.lit(-73.9) + s / 250.0
    word = F.element_at(F.array(*[F.lit(w) for w in _WORDS]), (s % 6 + 1).cast("int"))
    level = F.element_at(F.array(*[F.lit(x) for x in _LEVELS]), (s % 3 + 1).cast("int"))
    pts = supp.select(
        s.alias("street_id"),
        F.concat(word, F.lit(" "), s.cast("string")).alias("street_name"),
        level.alias("street_type"),  # input street_type holds the LEVEL
        center_lat.alias("center_lat"),
        center_long.alias("center_long"),
        F.explode(F.sequence(F.lit(0), F.lit(_N_POINTS - 1))).alias("p"),
    )
    return pts.select(
        "street_id",
        "street_name",
        "street_type",
        "center_lat",
        "center_long",
        (
            F.col("center_lat")
            + (F.col("p") - 1.5) * 0.0004 * F.cos(F.col("street_id") * 0.9)
        ).alias("coord_lat"),
        (
            F.col("center_long")
            + (F.col("p") - 1.5) * 0.0004 * F.sin(F.col("street_id") * 0.9)
        ).alias("coord_long"),
    )


def _accidents(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir).filter(
        F.year("o_orderdate") == 1995
    )
    k = F.col("o_orderkey")
    s = 1 + k % _N_STREETS
    p = (k % 7) % _N_POINTS
    center_lat = F.lit(45.4) + s / 300.0
    center_long = F.lit(-73.9) + s / 250.0
    point_lat = center_lat + (p - 1.5) * 0.0004 * F.cos(s * 0.9)
    point_long = center_long + (p - 1.5) * 0.0004 * F.sin(s * 0.9)
    on_road = k % 4 == 0
    loc_lat = F.when(on_road, point_lat + (k % 5 - 2) * 2.0e-6).otherwise(
        center_lat + 0.0015 + (k % 5) * 1.0e-4
    )
    loc_long = F.when(on_road, point_long + (k % 11 - 5) * 2.0e-6).otherwise(
        center_long - 0.0012 - (k % 7) * 1.0e-4
    )
    return orders.select(
        k.alias("accident_id"),
        F.col("o_orderdate").cast("date").alias("date"),
        (k % 24).cast("int").alias("hour"),
        loc_lat.alias("loc_lat"),
        loc_long.alias("loc_long"),
    )


def _stations(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = F.col("n_nationkey")
    return (
        load_table(spark, "nation", sf_dir)
        .filter(n < _N_STATIONS)
        .select(
            n.cast("int").alias("station_id"),
            (F.lit(45.38) + n * 0.07).alias("station_lat"),
            (F.lit(-73.97) + n * 0.13).alias("station_long"),
        )
    )


def _weather(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-1995 hourly observations, integer-modular values (exact on
    both engines); only the WEATHER_COLS the features consume."""
    from accident_prediction_montreal_spark.pipeline.dataset import date_hour_grid

    grid = date_hour_grid(spark, _WX_START, _WX_END)
    stations = _stations(spark, sf_dir).select("station_id")
    sid = F.col("station_id").cast("long")
    doy = F.dayofyear("date").cast("long")
    hr = F.col("hour").cast("long")
    return stations.crossJoin(grid).select(
        "station_id",
        "date",
        "hour",
        (((sid * 31 + doy * 7 + hr * 3) % 50) - 10).cast("double").alias("temp"),
        (((sid * 13 + doy * 5 + hr) % 60) + 30).cast("double").alias("rel_hum"),
        (((sid * 7 + doy * 3 + hr * 5) % 40) + 1).cast("double").alias("visibility"),
        (980 + ((sid * 11 + doy + hr * 7) % 60)).cast("double").alias("stn_press"),
        F.when((sid * 3 + doy + hr) % 10 == 0, 1.0).otherwise(0.0).alias("risky_weather"),
    )


# --- SQL oracle ---------------------------------------------------------------

def _solar_sql(doy: str, hour: str, lat: str, lon: str) -> str:
    """solar_elevation(..., utc_offset_hours=-5.0) mirrored term-for-term
    (functions/solar.py:55-88; _add_date_features passes the fixed -5)."""
    decl = f"radians(-23.45 * cos({_TWO_PI_365!r} * (({doy}) + 10)))"
    d = f"({_TWO_PI_365!r} * ({doy}))"
    eot = f"(-7.655 * sin({d}) + 9.873 * sin({d} * 2 + 3.588))"
    tc = f"(4.0 * (({lon}) - 15.0 * (-5.0)) + {eot})"
    lsh = f"(({hour}) + 0.5 + {tc} / 60.0)"
    ha = f"(0.2618 * ({lsh} - 12.0))"
    return (
        f"degrees(asin(sin({decl}) * sin(radians({lat})) "
        f"+ cos({decl}) * cos(radians({lat})) * cos({ha})))"
    )


def _ewma_terms_sql(value: str, window_size: int = 24, rate: float = 0.5) -> str:
    """Stacked-LAG EWMA mirroring operators/windows.py::exp_weighted_
    moving_average — explicit DOUBLE casts keep DuckDB out of DECIMAL."""
    offsets = range(-(window_size - 1), 1)
    raw = [math.exp(rate * t) for t in offsets]
    norm = sum(raw)
    return " + ".join(
        f"COALESCE(LAG({value}, {-t}) OVER w * CAST({wt / norm!r} AS DOUBLE),"
        f" CAST(0.0 AS DOUBLE))"
        for t, wt in zip(offsets, raw)
    )


def _case_sql(expr: str, values: list) -> str:
    arms = " ".join(
        f"WHEN {i} THEN " + ("NULL" if v is None else f"'{v}'")
        for i, v in enumerate(values)
    )
    return f"(CASE ({expr}) {arms} END)"


def _build_oracle() -> str:
    s = "s_suppkey"
    center_lat = f"(45.4 + {s} / 300.0)"
    center_long = f"(-73.9 + {s} / 250.0)"
    # accidents: street / point derived from the order key
    ks = f"(1 + o_orderkey % {_N_STREETS})"
    kp = f"((o_orderkey % 7) % {_N_POINTS})"
    a_center_lat = f"(45.4 + {ks} / 300.0)"
    a_center_long = f"(-73.9 + {ks} / 250.0)"
    a_point_lat = f"({a_center_lat} + ({kp} - 1.5) * 0.0004 * cos({ks} * 0.9))"
    a_point_long = f"({a_center_long} + ({kp} - 1.5) * 0.0004 * sin({ks} * 0.9))"
    neg_key = "(street_id * 100000 + dayofyear(date) * 24 + hour)"
    dsum = "CAST(SUM(CAST(ROUND({x}, 6) AS DECIMAL(28,6))) AS DOUBLE)"
    feats = {
        "sum_len": "street_length",
        "sum_lvl": "lvl_idx",
        "sum_typ": "typ_idx",
        "sum_acc": "accident_count",
        "sum_temp": "temp",
        "sum_risky": "risky_weather",
        "sum_solar": "solar_elevation",
        "sum_hour_cos": "hour_cos",
        "sum_dow": "dayofweek",
    }
    sums = ",\n      ".join(f"{dsum.format(x=x)} AS {a}" for a, x in feats.items())
    return f"""
    WITH pts AS (
      SELECT {s} AS street_id,
        {_case_sql(f"{s} % 3", _LEVELS)} AS street_level,
        {_case_sql(f"{s} % 6", _WORD_TYPES)} AS street_type,
        {center_lat} AS center_lat, {center_long} AS center_long,
        {center_lat} + (p - 1.5) * 0.0004 * cos({s} * 0.9) AS coord_lat,
        {center_long} + (p - 1.5) * 0.0004 * sin({s} * 0.9) AS coord_long
      FROM supplier CROSS JOIN (SELECT UNNEST(range(0, {_N_POINTS})) AS p)
      WHERE {s} <= {_N_STREETS}
    ),
    roadfeat AS (
      SELECT a.street_id, a.street_level, a.street_type,
             a.center_lat, a.center_long,
             MAX({haversine_sql("a.coord_lat", "a.coord_long",
                                 "b.coord_lat", "b.coord_long")}) AS street_length
      FROM pts a JOIN pts b USING (street_id)
      GROUP BY 1, 2, 3, 4, 5
    ),
    acc AS (
      SELECT o_orderkey AS accident_id,
        CAST(o_orderdate AS DATE) AS date,
        CAST(o_orderkey % 24 AS INT) AS hour,
        CASE WHEN o_orderkey % 4 = 0
          THEN {a_point_lat} + (o_orderkey % 5 - 2) * 2.0e-6
          ELSE {a_center_lat} + 0.0015 + (o_orderkey % 5) * 1.0e-4 END AS loc_lat,
        CASE WHEN o_orderkey % 4 = 0
          THEN {a_point_long} + (o_orderkey % 11 - 5) * 2.0e-6
          ELSE {a_center_long} - 0.0012 - (o_orderkey % 7) * 1.0e-4 END AS loc_long
      FROM orders WHERE year(o_orderdate) = 1995
    ),
    topk AS (
      SELECT accident_id, street_id, loc_lat, loc_long FROM (
        SELECT a.accident_id, r.street_id, a.loc_lat, a.loc_long,
          ROW_NUMBER() OVER (PARTITION BY a.accident_id ORDER BY
            {haversine_sql("a.loc_lat", "a.loc_long",
                            "r.center_lat", "r.center_long")} ASC,
            r.street_id ASC) AS rk
        FROM acc a CROSS JOIN roadfeat r
      ) WHERE rk <= 5
    ),
    cand1 AS (
      SELECT t.accident_id, t.street_id, t.loc_lat, t.loc_long,
        {haversine_sql("t.loc_lat", "t.loc_long",
                        "p.coord_lat", "p.coord_long")} AS point_dist
      FROM topk t JOIN pts p USING (street_id)
    ),
    first_match AS (
      SELECT * FROM cand1
      QUALIFY ROW_NUMBER() OVER (PARTITION BY accident_id
        ORDER BY point_dist ASC, street_id ASC) = 1
    ),
    accepted AS (
      SELECT accident_id, street_id FROM first_match WHERE point_dist < 10.0
    ),
    rejacc AS (
      SELECT accident_id, loc_lat, loc_long FROM first_match
      WHERE point_dist >= 10.0
    ),
    cand2 AS (
      SELECT r.accident_id, t.street_id, r.loc_lat, r.loc_long,
             p.coord_lat, p.coord_long
      FROM rejacc r
        JOIN (SELECT accident_id, street_id FROM topk) t USING (accident_id)
        JOIN pts p USING (street_id)
    ),
    mids AS (
      SELECT accident_id, street_id, loc_lat, loc_long,
        AVG(coord_lat) OVER w AS coord_lat,
        AVG(coord_long) OVER w AS coord_long
      FROM cand2
      WINDOW w AS (PARTITION BY accident_id, street_id ORDER BY coord_long
                   ROWS BETWEEN CURRENT ROW AND 1 FOLLOWING)
    ),
    dens AS (
      SELECT DISTINCT * FROM (
        SELECT * FROM cand2 UNION ALL SELECT * FROM mids)
    ),
    refined AS (
      SELECT accident_id, street_id FROM (
        SELECT accident_id, street_id,
          {haversine_sql("loc_lat", "loc_long",
                          "coord_lat", "coord_long")} AS pd
        FROM dens
      ) QUALIFY ROW_NUMBER() OVER (PARTITION BY accident_id
          ORDER BY pd ASC, street_id ASC) = 1
    ),
    matched AS (
      SELECT * FROM accepted UNION ALL SELECT * FROM refined
    ),
    final_match AS (
      SELECT accident_id, street_id FROM (
        SELECT m.accident_id, m.street_id,
          ROW_NUMBER() OVER (PARTITION BY m.accident_id ORDER BY
            {haversine_sql("a.loc_lat", "a.loc_long",
                            "r.center_lat", "r.center_long")} ASC,
            m.street_id ASC) AS rk
        FROM matched m
          JOIN roadfeat r USING (street_id)
          JOIN acc a USING (accident_id)
      ) WHERE rk = 1
    ),
    wgrid AS (
      SELECT station_id, date, hour,
        CAST(((station_id * 31 + dayofyear(date) * 7 + hour * 3) % 50) - 10
             AS DOUBLE) AS temp,
        CASE WHEN (station_id * 3 + dayofyear(date) + hour) % 10 = 0
             THEN 1.0 ELSE 0.0 END AS risky_raw
      FROM (SELECT CAST(n_nationkey AS BIGINT) AS station_id FROM nation
            WHERE n_nationkey < {_N_STATIONS})
        CROSS JOIN (SELECT CAST(UNNEST(generate_series(DATE '{_WX_START}',
                      DATE '{_WX_END}', INTERVAL 1 DAY)) AS DATE) AS date)
        CROSS JOIN (SELECT CAST(UNNEST(range(0, 24)) AS INT) AS hour)
    ),
    obs AS (
      SELECT station_id, date, hour, temp,
        {_ewma_terms_sql("risky_raw")} AS risky_weather,
        45.38 + station_id * 0.07 AS station_lat,
        -73.97 + station_id * 0.13 AS station_long
      FROM wgrid
      WINDOW w AS (PARTITION BY station_id ORDER BY date, hour)
    ),
    pos_base AS (
      SELECT f.accident_id, a.date, a.hour, a.loc_lat, a.loc_long,
             rf.street_id, rf.street_level, rf.street_type, rf.street_length
      FROM final_match f
        JOIN acc a USING (accident_id)
        JOIN roadfeat rf USING (street_id)
    ),
    pos_wx AS (
      SELECT s.accident_id,
        SUM(w * temp) / SUM(w) AS temp,
        SUM(w * risky_weather) / SUM(w) AS risky_weather
      FROM (
        SELECT s.accident_id, o.temp, o.risky_weather,
          1.0 / pow({haversine_sql("s.loc_lat", "s.loc_long",
                     "o.station_lat", "o.station_long")}, 2.0) AS w
        FROM pos_base s JOIN obs o ON s.date = o.date AND s.hour = o.hour
      ) s
      GROUP BY s.accident_id
    ),
    neg_base AS (
      SELECT rf.street_id, rf.street_level, rf.street_type, rf.street_length,
             rf.center_lat AS loc_lat, rf.center_long AS loc_long,
             g.date, g.hour
      FROM roadfeat rf CROSS JOIN (
        SELECT d.date, h.hour
        FROM (SELECT CAST(UNNEST(generate_series(DATE '{_NEG_START}',
               DATE '{_NEG_END}', INTERVAL 1 DAY)) AS DATE) AS date) d
        CROSS JOIN (SELECT CAST(UNNEST(range(0, 24)) AS INT) AS hour) h
      ) g
      WHERE {lcg_uniform_sql(neg_key, _NEG_SALT)} < {_NEG_FRAC}
    ),
    neg_kept AS (
      SELECT n.* FROM neg_base n
      WHERE NOT EXISTS (
        SELECT 1 FROM pos_base p
        WHERE p.date = n.date AND p.hour = n.hour AND p.street_id = n.street_id)
    ),
    neg_wx AS (
      SELECT s.street_id, s.date, s.hour,
        SUM(w * temp) / SUM(w) AS temp,
        SUM(w * risky_weather) / SUM(w) AS risky_weather
      FROM (
        SELECT s.street_id, s.date, s.hour, o.temp, o.risky_weather,
          1.0 / pow({haversine_sql("s.loc_lat", "s.loc_long",
                     "o.station_lat", "o.station_long")}, 2.0) AS w
        FROM neg_kept s JOIN obs o ON s.date = o.date AND s.hour = o.hour
      ) s
      GROUP BY 1, 2, 3
    ),
    samples AS (
      SELECT p.date, p.hour, p.loc_lat, p.loc_long, p.street_id,
        p.street_level, p.street_type, p.street_length,
        w.temp, w.risky_weather, CAST(1.0 AS DOUBLE) AS label
      FROM pos_base p JOIN pos_wx w USING (accident_id)
      UNION ALL
      SELECT n.date, n.hour, n.loc_lat, n.loc_long, n.street_id,
        n.street_level, n.street_type, n.street_length,
        w.temp, w.risky_weather, CAST(0.0 AS DOUBLE) AS label
      FROM neg_kept n JOIN neg_wx w USING (street_id, date, hour)
    ),
    featured AS (
      SELECT *,
        CASE WHEN date < DATE '{_SPLIT_DATE}' THEN 'train' ELSE 'test' END AS split,
        cos(hour * {_TWO_PI_24!r}) AS hour_cos,
        CAST(dayofweek(date) + 1 AS DOUBLE) AS dayofweek,
        {_solar_sql("dayofyear(date)", "hour", "loc_lat", "loc_long")}
          AS solar_elevation,
        COALESCE(street_type, 'unknown') AS stype
      FROM samples
    ),
    counts AS (
      SELECT street_id, CAST(COUNT(*) AS BIGINT) AS accident_count
      FROM featured WHERE split = 'train' AND label = 1.0 GROUP BY street_id
    ),
    lvl_stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_all,
        CAST(SUM(CASE WHEN label = 1.0 THEN 1 ELSE 0 END) AS DOUBLE) AS n_pos
      FROM featured WHERE split = 'train'
    ),
    lvl_enc AS (
      SELECT street_level, CAST(ROW_NUMBER() OVER (ORDER BY risk DESC,
        street_level ASC) AS BIGINT) AS lvl_idx
      FROM (
        SELECT street_level,
          SUM(CASE WHEN label = 1.0 THEN 1 ELSE 0 END)
            / (SELECT n_pos FROM lvl_stats)
          - COUNT(*) / (SELECT n_all FROM lvl_stats) AS risk
        FROM featured WHERE split = 'train' GROUP BY street_level
      )
    ),
    typ_enc AS (
      SELECT stype, CAST(ROW_NUMBER() OVER (ORDER BY risk DESC,
        stype ASC) AS BIGINT) AS typ_idx
      FROM (
        SELECT stype,
          SUM(CASE WHEN label = 1.0 THEN 1 ELSE 0 END)
            / (SELECT n_pos FROM lvl_stats)
          - COUNT(*) / (SELECT n_all FROM lvl_stats) AS risk
        FROM featured WHERE split = 'train' GROUP BY stype
      )
    ),
    assembled AS (
      SELECT f.split, f.label, f.street_length, f.temp, f.risky_weather,
        f.solar_elevation, f.hour_cos, f.dayofweek,
        CAST(COALESCE(c.accident_count, 0) AS DOUBLE) AS accident_count,
        CAST(COALESCE(l.lvl_idx, 0) AS DOUBLE) AS lvl_idx,
        CAST(COALESCE(t.typ_idx, 0) AS DOUBLE) AS typ_idx
      FROM featured f
        LEFT JOIN counts c USING (street_id)
        LEFT JOIN lvl_enc l USING (street_level)
        LEFT JOIN typ_enc t ON f.stype = t.stype
    )
    SELECT split, label, CAST(COUNT(*) AS BIGINT) AS n,
      {sums}
    FROM assembled GROUP BY split, label
    """


_FEAT_IDX = {
    # FEATURES_COL positions consumed by the checksum output.
    "sum_hour_cos": 0,
    "sum_lvl": 4,
    "sum_len": 5,
    "sum_typ": 6,
    "sum_acc": 7,
    "sum_temp": 11,
    "sum_risky": 12,
    "sum_dow": 15,
    "sum_solar": 16,
}


@register(
    "apm_dataset_pipeline",
    oracle=_build_oracle(),
    description="CAPSTONE: the reference's full accident-dataset pipeline "
    "(get_positive_samples -> get_dataset_df, preprocess.py:313-357 + "
    "464-508) composed end-to-end in ONE lazy plan over closed-form "
    "TPC-H-derived fixtures: two-pass spatial matching (grid kNN "
    "candidates, <10 m accept, midpoint-densify refine), road features "
    "(max-pairwise street length, keyword street-type classifier with "
    "null branch), EWMA-smoothed station weather IDW-interpolated to "
    "every sample, cyclic/solar/dayofweek date features, a "
    "deterministic-hash negative grid (lcg salt 3 — the registered "
    "randomSplit replacement), anti-join, train-side accident counts + "
    "risk encodings, feature-vector assembly, and per (split, label) "
    "DECIMAL-exact feature checksums. The oracle is the full CTE "
    "composition — any stage drifting (a wrong match, a mis-smoothed "
    "station, a feature index off by one) hash-mismatches.",
)
def apm_dataset_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.pipeline.dataset import (
        _add_date_features,
        _sample_id,
        build_dataset,
        date_hour_grid,
    )
    from accident_prediction_montreal_spark.pipeline.matching import (
        match_accidents_with_roads,
    )
    from accident_prediction_montreal_spark.pipeline.road_features import road_features
    from accident_prediction_montreal_spark.pipeline.weather import (
        smooth_risky_weather,
        weather_for_samples,
    )

    road_points = _road_points(spark, sf_dir)
    accidents = _accidents(spark, sf_dir)
    weather = _weather(spark, sf_dir)
    stations = _stations(spark, sf_dir)

    # Stage plan (r10 rework, r15 de-barriered — measured breakdowns in
    # PERF.md r10 and OPTIMIZATION_r15.md): the r9 form paid FOUR
    # sequential materialization barriers and ran the EWMA + IDW weather
    # pass TWICE — once per sample side. IDW is per-row, so ONE weather
    # pass over the UNION of sample points computes the same values with
    # the station join, the EWMA window and the group-sum paid once —
    # also the true 100-TB shape (you'd never run the weather subsystem
    # per sample side). r15: every checkpoint is LAZY (eager=False) —
    # localCheckpoint truncates the LOGICAL plan to a LogicalRDD the
    # moment it is called (the Catalyst shield build_dataset's ~10-call
    # fan-out needs, PERF.md r6/r7), while the RDD itself materializes
    # under the query's own final action, so the eager barrier actions
    # bought nothing (interleaved A/B: jobs 90 -> 61, warm ~10.1 ->
    # ~8.8 s, first-call 19-27 -> 10-11 s; results row-identical). The
    # same applies to pos/neg below: a lazy checkpoint instead of a
    # persist dedups build_dataset's fan-out the same way AND keeps its
    # ~15 downstream DataFrame analyses over shallow RDD leaves. On a
    # real cluster use a reliable checkpoint dir for executor-loss
    # recovery.
    site = "plans.apm_dataset_pipeline"
    roads = road_features(road_points)
    match = cachereg.checkpoint(
        site, match_accidents_with_roads(accidents, road_points), eager=False
    )
    # Both bases feed TWO consumers (the fused weather union and their
    # own sample side) — persisted, or each recomputes per consumer
    # (the neg crossJoin+filter twice was the regression seen when the
    # fusion first landed).
    cached = cachereg.generation(site)
    pos_base = cached.persist(
        accidents.join(match, "accident_id")
        .join(roads.drop("loc_lat", "loc_long"), "street_id")
        # keyed on accident_id: two accidents may share (date, hour, street)
        .withColumn("sample_id", _sample_id(F.lit("pos"), "accident_id"))
    )

    # Negative date x road grid with the DETERMINISTIC keep decision
    # (operators/mixing.py lcg, salt 3) replacing the reference's
    # Bernoulli .sample — same shape, SQL-checkable, layout-independent.
    grid = date_hour_grid(spark, _NEG_START, _NEG_END)
    neg_key = (
        F.col("street_id") * 100000 + F.dayofyear("date").cast("long") * 24 + F.col("hour")
    )
    neg_base = cached.persist(
        roads.crossJoin(grid)
        .filter(lcg_uniform(neg_key, salt=_NEG_SALT) < _NEG_FRAC)
        .withColumn("sample_id", _sample_id(F.lit("neg"), "date", "hour", "street_id"))
    )

    keys = ["sample_id", "date", "hour", "loc_lat", "loc_long"]
    all_points = pos_base.select(keys).unionByName(neg_base.select(keys))
    wx = cachereg.checkpoint(
        site, weather_for_samples(all_points, smooth_risky_weather(weather), stations),
        eager=False,
    )

    pos = cachereg.checkpoint(
        site, _add_date_features(pos_base.join(wx, "sample_id")), eager=False
    )
    neg = cachereg.checkpoint(
        site, _add_date_features(neg_base.join(wx, "sample_id")), eager=False
    )

    train, test = build_dataset(spark, pos, neg, split_date=_SPLIT_DATE)
    both = train.withColumn("split", F.lit("train")).unionByName(
        test.withColumn("split", F.lit("test"))
    )
    aggs = [
        F.sum(
            F.round(F.col("features_arr")[i], 6).cast("decimal(28,6)")
        ).cast("double").alias(name)
        for name, i in _FEAT_IDX.items()
    ]
    return both.groupBy("split", "label").agg(
        F.count(F.lit(1)).alias("n"), *aggs
    ).select(
        "split", "label", "n",
        # column order pinned to the oracle's SELECT list
        *[name for name in (
            "sum_len", "sum_lvl", "sum_typ", "sum_acc", "sum_temp",
            "sum_risky", "sum_solar", "sum_hour_cos", "sum_dow",
        )],
    )
