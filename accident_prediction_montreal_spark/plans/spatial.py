"""Spatial operator family (SURVEY.md §2 J8, A6, J15) as oracle-checked queries:
haversine distances, k-nearest-neighbour joins (brute force, grid-bucketed and
across the antimeridian and pole seams), inverse-distance-weighted
interpolation and point-in-polygon joins. The testdata has no coordinates, so
the queries derive deterministic pseudo-coordinates from integer keys with the
same closed-form formula in the Spark plan and the DuckDB oracle; trig outputs
are rounded far coarser than cross-engine libm drift (SURVEY.md §7.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from accident_prediction_montreal_spark.functions.geo import haversine_meters
from accident_prediction_montreal_spark.operators.polygon import (
    demo_polygons,
    point_in_polygon_join,
)
from accident_prediction_montreal_spark.operators.spatial import (
    idw_interpolate,
    idw_interpolate_radius,
    knn_join,
    knn_join_grid_exact,
)
from accident_prediction_montreal_spark.plans.registry import register
from accident_prediction_montreal_spark.sources.registry import load_table


# Derived pseudo-coordinates (identical formulas on both sides).
CUST_LAT = "45.4 + (c_custkey % 997) / 3000.0"
CUST_LON = "-73.9 + (c_custkey % 1009) / 3000.0"
SUPP_LAT = "45.4 + (s_suppkey % 89) / 300.0"
SUPP_LON = "-73.9 + (s_suppkey % 97) / 300.0"


def _customers_with_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "customer", sf_dir).select(
        "c_custkey",
        (F.lit(45.4) + (F.col("c_custkey") % 997) / 3000.0).alias("lat"),
        (F.lit(-73.9) + (F.col("c_custkey") % 1009) / 3000.0).alias("lon"),
    )


def _suppliers_with_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "supplier", sf_dir).select(
        "s_suppkey",
        "s_acctbal",
        (F.lit(45.4) + (F.col("s_suppkey") % 89) / 300.0).alias("rlat"),
        (F.lit(-73.9) + (F.col("s_suppkey") % 97) / 300.0).alias("rlon"),
    )


def haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """DuckDB expression mirroring functions/geo.py::haversine_meters term-for-term."""
    return f"""(2.0 * 6371000.0) * atan2(
      sqrt(
        pow(sin(radians(({lat2}) - ({lat1})) / 2), 2)
        + cos(radians({lat1})) * cos(radians({lat2}))
          * pow(sin(radians(({lon2}) - ({lon1})) / 2), 2)
      ),
      sqrt(1 - (
        pow(sin(radians(({lat2}) - ({lat1})) / 2), 2)
        + cos(radians({lat1})) * cos(radians({lat2}))
          * pow(sin(radians(({lon2}) - ({lon1})) / 2), 2)
      ))
    )"""


# --- composite haversine (§2.9) ----------------------------------------------

@register(
    "geo_haversine",
    oracle=f"""
    SELECT c_custkey,
      ROUND({haversine_sql(CUST_LAT, CUST_LON, "45.5", "-73.6")}, 3) AS dist_m
    FROM customer
    """,
    description="Haversine distance expression factory (§2.9, road_network.py:311-324)",
)
def geo_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _customers_with_coords(spark, sf_dir)
    return cust.select(
        "c_custkey",
        F.round(haversine_meters("lat", "lon", F.lit(45.5), F.lit(-73.6)), 3).alias("dist_m"),
    )


# --- J8: spatial kNN join (reference + grid-bucketed scale path) --------------

_KNN_ORACLE = f"""
    WITH samples AS (
      SELECT c_custkey, {CUST_LAT} AS lat, {CUST_LON} AS lon
      FROM customer WHERE c_custkey % 10 = 0
    ),
    sites AS (
      SELECT s_suppkey, {SUPP_LAT} AS rlat, {SUPP_LON} AS rlon FROM supplier
    ),
    pairs AS (
      SELECT c_custkey, s_suppkey,
        {haversine_sql("lat", "lon", "rlat", "rlon")} AS distance_m
      FROM samples CROSS JOIN sites
    )
    SELECT c_custkey, s_suppkey, ROUND(distance_m, 3) AS distance_m,
           CAST(knn_rank AS BIGINT) AS knn_rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY c_custkey ORDER BY distance_m ASC, s_suppkey ASC) AS knn_rank
      FROM pairs
    ) WHERE knn_rank <= 3
    """


def _knn_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    left = _customers_with_coords(spark, sf_dir).filter(F.col("c_custkey") % 10 == 0)
    right = _suppliers_with_coords(spark, sf_dir).drop("s_acctbal")
    return left, right


@register(
    "j8_knn_join",
    oracle=_KNN_ORACLE,
    description="Spatial kNN join, reference form: crossJoin + haversine + window top-k "
    "(J8, preprocess.py:59-223)",
)
def j8_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    left, right = _knn_inputs(spark, sf_dir)
    out = knn_join(left, right, k=3, left_id="c_custkey", right_id="s_suppkey")
    return out.select(
        "c_custkey",
        "s_suppkey",
        F.round("distance_m", 3).alias("distance_m"),
        F.col("knn_rank").cast("long").alias("knn_rank"),
    )


@register(
    "j8_knn_join_grid",
    oracle=_KNN_ORACLE,
    description="Spatial kNN join, grid-bucketed scale path (SURVEY.md §4): "
    "density-estimated cells + per-point exactness proof + escalation "
    "(knn_join_grid_exact), so results are guaranteed identical to the "
    "exhaustive j8_knn_join at ANY scale — the earlier fixed 0.5° cell "
    "covered the whole 0.34° data spread and went quadratic at 10x data.",
)
def j8_knn_join_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    left, right = _knn_inputs(spark, sf_dir)
    out = knn_join_grid_exact(left, right, k=3, left_id="c_custkey", right_id="s_suppkey")
    return out.select(
        "c_custkey",
        "s_suppkey",
        F.round("distance_m", 3).alias("distance_m"),
        F.col("knn_rank").cast("long").alias("knn_rank"),
    )


# --- J8 at the antimeridian + pole: the exactness guarantees under fire -------

# Seam-straddling polar fixture: samples at lat ~86.5-86.8 around lon
# ±180 (raw lon > 180 wraps to the negative side), stations spread up to
# ~88 N. At 86.5 N a longitude degree is only ~6.8 km, so nearest
# neighbors are dominated by latitude and roughly half the true NN pairs
# CROSS the seam — a grid that does not handle the wrap proves the wrong
# answer, and degenerate polar lon-cells stress the cos clamp
# (spatial.py seam_safe + worst_cos guards, both r5 fixes).
SEAM_LAT = "86.5 + (c_custkey % 997) / 3000.0"
SEAM_LON_RAW = "179.9 + (c_custkey % 1009) / 3000.0"
SEAM_RLAT = "86.5 + (s_suppkey % 89) / 60.0"
SEAM_RLON_RAW = "179.9 + (s_suppkey % 97) / 300.0"


def _wrap_sql(raw: str) -> str:
    return f"CASE WHEN ({raw}) > 180.0 THEN ({raw}) - 360.0 ELSE ({raw}) END"


def _wrap_col(raw):
    return F.when(raw > 180.0, raw - 360.0).otherwise(raw)


@register(
    "j8_knn_seam_polar",
    oracle=f"""
    WITH samples AS (
      SELECT c_custkey, {SEAM_LAT} AS lat, {_wrap_sql(SEAM_LON_RAW)} AS lon
      FROM customer WHERE c_custkey % 10 = 0
    ),
    sites AS (
      SELECT s_suppkey, {SEAM_RLAT} AS rlat, {_wrap_sql(SEAM_RLON_RAW)} AS rlon
      FROM supplier
    ),
    pairs AS (
      SELECT c_custkey, s_suppkey,
        {haversine_sql("lat", "lon", "rlat", "rlon")} AS distance_m
      FROM samples CROSS JOIN sites
    )
    SELECT c_custkey, s_suppkey, ROUND(distance_m, 3) AS distance_m,
           CAST(knn_rank AS BIGINT) AS knn_rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY c_custkey ORDER BY distance_m ASC, s_suppkey ASC) AS knn_rank
      FROM pairs
    ) WHERE knn_rank <= 3
    """,
    description="Spatial kNN join over an ANTIMERIDIAN-straddling polar "
    "fixture (samples ~86.5N at lon ±180, stations up to ~88N on both "
    "sides of the seam): the oracle is the exhaustive cross join, whose "
    "haversine is wrap-correct by construction (sin² of half-angles), so "
    "its true nearest neighbors routinely CROSS lon ±180 — a grid path "
    "that prunes by non-wrapping lon cells, or trusts cos(lat) bounds in "
    "degenerate polar cells, proves the wrong neighbor and hash-"
    "mismatches. Exercises knn_join_grid_exact's seam_safe refusal + "
    "polar cos clamp (spatial.py): every seam-adjacent point escalates "
    "to the exhaustive fallback, trading speed for guaranteed exactness "
    "on exactly the rows where the grid bound cannot prove it.",
)
def j8_knn_seam_polar(spark: SparkSession, sf_dir: str) -> DataFrame:
    left = load_table(spark, "customer", sf_dir).filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        (F.lit(86.5) + (F.col("c_custkey") % 997) / 3000.0).alias("lat"),
        _wrap_col(F.lit(179.9) + (F.col("c_custkey") % 1009) / 3000.0).alias("lon"),
    )
    right = load_table(spark, "supplier", sf_dir).select(
        "s_suppkey",
        (F.lit(86.5) + (F.col("s_suppkey") % 89) / 60.0).alias("rlat"),
        _wrap_col(F.lit(179.9) + (F.col("s_suppkey") % 97) / 300.0).alias("rlon"),
    )
    out = knn_join_grid_exact(left, right, k=3, left_id="c_custkey", right_id="s_suppkey")
    return out.select(
        "c_custkey",
        "s_suppkey",
        F.round("distance_m", 3).alias("distance_m"),
        F.col("knn_rank").cast("long").alias("knn_rank"),
    )


# --- A6: IDW interpolation ------------------------------------------------------

@register(
    "a6_idw_interpolation",
    oracle=f"""
    WITH samples AS (
      SELECT c_custkey, {CUST_LAT} AS lat, {CUST_LON} AS lon FROM customer
    ),
    stations AS (
      SELECT s_suppkey, s_acctbal, {SUPP_LAT} AS slat, {SUPP_LON} AS slon FROM supplier
    ),
    pairs AS (
      SELECT c_custkey, s_acctbal,
        1.0 / pow({haversine_sql("lat", "lon", "slat", "slon")}, 2.0) AS w
      FROM samples CROSS JOIN stations
    )
    SELECT c_custkey,
      ROUND(
        SUM(CASE WHEN NOT isnan(s_acctbal) AND s_acctbal IS NOT NULL THEN w * s_acctbal ELSE 0.0 END)
        / SUM(CASE WHEN NOT isnan(s_acctbal) AND s_acctbal IS NOT NULL THEN w ELSE 0.0 END),
      6) AS acctbal_idw
    FROM pairs GROUP BY c_custkey
    """,
    description="Inverse-distance-weighted interpolation, NaN-masked "
    "(A6, preprocess.py:360-398)",
)
def a6_idw_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    samples = _customers_with_coords(spark, sf_dir)
    stations = _suppliers_with_coords(spark, sf_dir).select(
        "s_suppkey",
        F.col("s_acctbal").alias("acctbal_idw"),
        F.col("rlat").alias("station_lat"),
        F.col("rlon").alias("station_lon"),
    )
    out = idw_interpolate(
        samples,
        stations,
        value_cols=["acctbal_idw"],
        sample_id="c_custkey",
        sample_coords=("lat", "lon"),
        station_coords=("station_lat", "station_lon"),
        power=2.0,
    )
    return out.select("c_custkey", F.round("acctbal_idw", 6).alias("acctbal_idw"))


@register(
    "a6_idw_radius",
    oracle=f"""
    WITH samples AS (
      SELECT c_custkey, {CUST_LAT} AS lat, {CUST_LON} AS lon FROM customer
    ),
    stations AS (
      SELECT s_suppkey, s_acctbal, {SUPP_LAT} AS slat, {SUPP_LON} AS slon FROM supplier
    ),
    pairs AS (
      SELECT c_custkey, s_acctbal, d,
        1.0 / pow(d, 2.0) AS w
      FROM (
        SELECT c_custkey, s_acctbal,
          {haversine_sql("lat", "lon", "slat", "slon")} AS d
        FROM samples CROSS JOIN stations
      ) WHERE d <= 2000.0
    )
    SELECT c_custkey,
      ROUND(
        SUM(CASE WHEN NOT isnan(s_acctbal) AND s_acctbal IS NOT NULL THEN w * s_acctbal ELSE 0.0 END)
        / SUM(CASE WHEN NOT isnan(s_acctbal) AND s_acctbal IS NOT NULL THEN w ELSE 0.0 END),
      6) AS acctbal_idw
    FROM pairs GROUP BY c_custkey
    """,
    description="Radius-truncated IDW, the A6 scale path: full IDW is "
    "samples x stations by definition, so at scale only stations within a "
    "2 km search radius contribute — implemented as the same 3x3 spatial "
    "grid equi-join as the kNN scale path (cells sized to cover the "
    "radius, exact haversine refilter, identical NaN-masked aggregation), "
    "so per-sample cost is bounded by station density inside the radius, "
    "not by table size. The oracle applies the same radius cut to the "
    "exhaustive cross join: any station wrongly included/excluded by the "
    "grid hash-mismatches.",
)
def a6_idw_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    samples = _customers_with_coords(spark, sf_dir)
    stations = _suppliers_with_coords(spark, sf_dir).select(
        "s_suppkey",
        F.col("s_acctbal").alias("acctbal_idw"),
        F.col("rlat").alias("station_lat"),
        F.col("rlon").alias("station_lon"),
    )
    out = idw_interpolate_radius(
        samples,
        stations,
        value_cols=["acctbal_idw"],
        radius_m=2000.0,
        sample_id="c_custkey",
        sample_coords=("lat", "lon"),
        station_coords=("station_lat", "station_lon"),
        power=2.0,
    )
    return out.select("c_custkey", F.round("acctbal_idw", 6).alias("acctbal_idw"))


# --- A6 radius IDW across the antimeridian (shadow cells) ---------------------

# MID-latitude seam fixture (~45.4 N, lon raw 179.9..180.24 wrapping to
# the negative side): cos(lat) ~ 0.70, so idw_interpolate_radius takes
# its GRID path (the polar fixture above would fall back to exhaustive
# and never exercise the seam) — in-radius sample-station pairs
# routinely straddle lon ±180, and a grid without the seam stations'
# ±360° shadow cells would silently drop their weight from the
# interpolation sums.
IDW_SEAM_LAT = "45.4 + (c_custkey % 997) / 3000.0"
IDW_SEAM_LON_RAW = "179.9 + (c_custkey % 1009) / 3000.0"
IDW_SEAM_RLAT = "45.4 + (s_suppkey % 89) / 300.0"
IDW_SEAM_RLON_RAW = "179.9 + (s_suppkey % 97) / 300.0"


@register(
    "a6_idw_seam",
    oracle=f"""
    WITH samples AS (
      SELECT c_custkey, {IDW_SEAM_LAT} AS lat, {_wrap_sql(IDW_SEAM_LON_RAW)} AS lon
      FROM customer
    ),
    stations AS (
      SELECT s_suppkey, s_acctbal, {IDW_SEAM_RLAT} AS slat,
             {_wrap_sql(IDW_SEAM_RLON_RAW)} AS slon
      FROM supplier
    ),
    pairs AS (
      SELECT c_custkey, s_acctbal, d, 1.0 / pow(d, 2.0) AS w
      FROM (
        SELECT c_custkey, s_acctbal,
          {haversine_sql("lat", "lon", "slat", "slon")} AS d
        FROM samples CROSS JOIN stations
      ) WHERE d <= 2000.0
    )
    SELECT c_custkey,
      ROUND(
        SUM(CASE WHEN NOT isnan(s_acctbal) AND s_acctbal IS NOT NULL THEN w * s_acctbal ELSE 0.0 END)
        / SUM(CASE WHEN NOT isnan(s_acctbal) AND s_acctbal IS NOT NULL THEN w ELSE 0.0 END),
      6) AS acctbal_idw
    FROM pairs GROUP BY c_custkey
    """,
    description="Radius-truncated IDW over an ANTIMERIDIAN-straddling "
    "mid-latitude fixture (r6): the oracle's exhaustive cross join is "
    "wrap-correct by construction, so stations within 2 km ACROSS lon "
    "±180 must contribute their weight — exercising the ±360° shadow "
    "cells of the grid-candidate stage idw_interpolate_radius shares "
    "with the kNN scale path (cos ~0.70 here, so the polar fallback "
    "does NOT absorb the case; a grid without shadows loses the "
    "cross-seam stations and the weighted means hash-mismatch).",
)
def a6_idw_seam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.spatial import (
        idw_interpolate_radius,
    )

    samples = load_table(spark, "customer", sf_dir).select(
        "c_custkey",
        (F.lit(45.4) + (F.col("c_custkey") % 997) / 3000.0).alias("lat"),
        _wrap_col(F.lit(179.9) + (F.col("c_custkey") % 1009) / 3000.0).alias("lon"),
    )
    stations = load_table(spark, "supplier", sf_dir).select(
        "s_suppkey",
        F.col("s_acctbal").alias("acctbal_idw"),
        (F.lit(45.4) + (F.col("s_suppkey") % 89) / 300.0).alias("station_lat"),
        _wrap_col(F.lit(179.9) + (F.col("s_suppkey") % 97) / 300.0).alias("station_lon"),
    )
    out = idw_interpolate_radius(
        samples,
        stations,
        value_cols=["acctbal_idw"],
        radius_m=2000.0,
        sample_id="c_custkey",
        sample_coords=("lat", "lon"),
        station_coords=("station_lat", "station_lon"),
        power=2.0,
    )
    return out.select("c_custkey", F.round("acctbal_idw", 6).alias("acctbal_idw"))


_EDGES = demo_polygons()


def _edges_values_sql() -> str:
    rows = ", ".join(
        f"({p}, {x1!r}, {y1!r}, {x2!r}, {y2!r})" for p, x1, y1, x2, y2 in _EDGES
    )
    return rows


@register(
    "j15_point_in_polygon",
    oracle=f"""
    WITH edges AS (
      SELECT CAST(poly_id AS INTEGER) AS poly_id,
        CAST(x1 AS DOUBLE) AS x1, CAST(y1 AS DOUBLE) AS y1,
        CAST(x2 AS DOUBLE) AS x2, CAST(y2 AS DOUBLE) AS y2
      FROM (VALUES {_edges_values_sql()}) v(poly_id, x1, y1, x2, y2)
    ),
    pts AS (
      SELECT c_custkey AS pid,
        (c_custkey % 997) / CAST(99.7 AS DOUBLE) AS x,
        ((c_custkey * 7919) % 997) / CAST(99.7 AS DOUBLE) AS y
      FROM customer
    ),
    inside AS (
      SELECT pid, poly_id
      FROM pts CROSS JOIN edges
      GROUP BY pid, x, y, poly_id
      HAVING SUM(CASE WHEN ((y1 > y) <> (y2 > y))
                       AND (x < x1 + (y - y1) * (x2 - x1) / (y2 - y1))
                      THEN 1 ELSE 0 END) % 2 = 1
    )
    SELECT poly_id, CAST(COUNT(*) AS BIGINT) AS n_inside,
      CAST(SUM(pid) AS BIGINT) AS pid_sum
    FROM inside GROUP BY poly_id ORDER BY poly_id
    """,
    description="POINT-IN-POLYGON containment join (J-surface, spatial "
    "family; operators/polygon.py; the zone-assignment the reference's "
    "KML polygons imply — sources/kml.py parses rings, this joins "
    "against them): deterministic points derived from customer keys vs "
    "8 literal polygons. Even-odd ray casting; the grid path buckets "
    "each polygon's bbox onto coarse cells and equi-joins points by "
    "cell, so a point only ever meets polygons whose bbox grid it "
    "touches — cost is data x local polygon density, not data x all "
    "polygons. The oracle ray-casts every point against every edge "
    "with the IDENTICAL IEEE expression, so the grid prune is proven "
    "lossless.",
)
def j15_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    points = cust.select(
        F.col("c_custkey").alias("pid"),
        ((F.col("c_custkey") % 997) / 99.7).alias("x"),
        (((F.col("c_custkey") * 7919) % 997) / 99.7).alias("y"),
    )
    edges = cust.sparkSession.createDataFrame(
        _EDGES, "poly_id INT, x1 DOUBLE, y1 DOUBLE, x2 DOUBLE, y2 DOUBLE"
    )
    inside = point_in_polygon_join(points, edges, cell_size=1.0)
    return (
        inside.groupBy("poly_id")
        .agg(
            F.count(F.lit(1)).alias("n_inside"),
            F.sum("pid").cast("long").alias("pid_sum"),
        )
        .orderBy("poly_id")
    )
