"""Two-pass spatial matching of accidents to road segments (J8 —
reference preprocess.py:59-223).

Semantics preserved:
  pass 1: per accident, preselect top-k nearest street CENTERS, then the
          closest street POINT among those streets; accept if < 10 m.
  pass 2: for rejects, densify each candidate street's polyline with
          rolling midpoints (W3) and re-pick the closest point.
  final:  one street per accident (closest center among the union),
          deterministic tie-breaks throughout (§7.4).

Spark-first differences: above ``SMALL_SIDE_THRESHOLD`` street centers,
candidate generation is the exact grid-bucketed equi-join
(knn_join_grid_exact: density-sized cells, per-point proof, escalation)
instead of a full cross join — the 100-TB lever called out in SURVEY.md
§4; a small center side keeps the reference's crossJoin form, which is
also what ``exhaustive=True`` forces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from accident_prediction_montreal_spark import cachereg
from accident_prediction_montreal_spark.functions.geo import haversine_meters
from accident_prediction_montreal_spark.operators.spatial import knn_join, knn_join_grid_exact

#: Street centers (after dedup) up to which the auto-selected candidate
#: generator is the exhaustive crossJoin-broadcast kNN.
SMALL_SIDE_THRESHOLD = 10_000


def _top_k_centers(
    accidents: DataFrame,
    road_centers: DataFrame,
    k: int,
    exhaustive: bool,
    size_known: bool = False,
) -> DataFrame:
    kwargs = dict(
        k=k,
        left_id="accident_id",
        right_id="street_id",
        left_coords=("loc_lat", "loc_long"),
        right_coords=("center_lat", "center_long"),
    )
    if exhaustive:
        # size_known: the caller's auto-select already counted the
        # (persisted) center side under a far tighter threshold, so
        # knn_join's own broadcast-guard count would be a redundant
        # second action on the same frame.
        out = knn_join(
            accidents,
            road_centers,
            max_broadcast_rows=None if size_known else 1_000_000,
            **kwargs,
        )
    else:
        out = knn_join_grid_exact(accidents, road_centers, **kwargs)
    return out.select("accident_id", "loc_lat", "loc_long", "street_id")


def _closest_point(candidates: DataFrame) -> DataFrame:
    """Per accident, the closest (street, point) among candidate rows.

    A groupBy-min over a comparison struct, NOT a row_number window: the
    aggregate gets a map-side partial combine (each shuffle partition
    ships one row per accident, not its whole candidate set) and skips
    the window's per-partition sort — the difference between shuffling
    k·|accidents| rows and |accidents| rows at the 100-TB grain. The
    struct's field order (point_dist, street_id, then every remaining
    column) is a deterministic SUPERSET of the old window's
    (dist ASC, street_id ASC) tie-break.
    """
    scored = candidates.withColumn(
        "point_dist",
        haversine_meters("loc_lat", "loc_long", "coord_lat", "coord_long"),
    )
    rest = [c for c in scored.columns if c not in ("accident_id", "point_dist", "street_id")]
    return (
        scored.groupBy("accident_id")
        .agg(F.min(F.struct("point_dist", "street_id", *rest)).alias("__best"))
        .select("accident_id", "__best.*")
    )


def match_accidents_with_roads(
    accidents: DataFrame,
    road_points: DataFrame,
    k: int = 5,
    max_distance_m: float = 10.0,
    exhaustive: bool | None = None,
) -> DataFrame:
    """(accident_id, street_id) — one street per accident.

    ``exhaustive=None`` (default) auto-selects the candidate generator,
    the broadcast-join-style planner decision: when the street-center
    side is small (≤ ``SMALL_SIDE_THRESHOLD`` after dedup — one cheap
    count, the same price AQE pays for its runtime stats) the
    crossJoin-broadcast exhaustive kNN wins, because the escalating grid
    spends several proof-round actions of fixed job overhead that only
    amortize against a LARGE right side. Pass True/False to force a
    path (tests, parity twins).
    """
    road_centers = road_points.select("street_id", "center_lat", "center_long").dropDuplicates()
    acc = accidents.select("accident_id", "loc_lat", "loc_long")
    points = road_points.select("street_id", "coord_lat", "coord_long")

    # NOT unpersisted at return: the result is a LAZY plan over these
    # caches, and an eager unpersist at return time (as r1-r5 did) drops
    # them before any action runs, so every downstream branch (accept +
    # refine + disambiguation, and the caller's fan-out into
    # counts/encoders/splits) silently re-ran the kNN matching —
    # measured 2x on apm_dataset_pipeline at sf0.1. The NEXT invocation
    # (e.g. the month-shard backfill loop) releases this generation, and
    # callers that materialize eagerly can release the site themselves.
    cached = cachereg.generation("pipeline.matching")
    size_known = False
    if exhaustive is None:
        road_centers = cached.persist(road_centers)
        exhaustive = road_centers.count() <= SMALL_SIDE_THRESHOLD
        size_known = exhaustive

    top_k = cached.persist(
        _top_k_centers(acc, road_centers, k, exhaustive, size_known=size_known)
    )

    first_match = cached.persist(_closest_point(top_k.join(points, "street_id")))
    accepted = first_match.filter(F.col("point_dist") < max_distance_m).select(
        "accident_id", "street_id"
    )

    # Refine pass: densify candidate streets with rolling midpoints
    # (reference preprocess.py:159-175) and re-match.
    rejected_candidates = (
        first_match.filter(F.col("point_dist") >= max_distance_m)
        .select("accident_id", "loc_lat", "loc_long")
        .join(top_k.select("accident_id", "street_id"), "accident_id")
        .join(points, "street_id")
    )
    street_window = Window.partitionBy("accident_id", "street_id").orderBy("coord_long").rowsBetween(0, 1)
    midpoints = rejected_candidates.select(
        "accident_id",
        "street_id",
        "loc_lat",
        "loc_long",
        F.avg("coord_lat").over(street_window).alias("coord_lat"),
        F.avg("coord_long").over(street_window).alias("coord_long"),
    )
    # No dropDuplicates before the min: the union's only duplicates are
    # the last-point self-midpoints (rowsBetween(0,1) at a partition tail
    # averages a point with itself), and duplicate candidate rows cannot
    # change a min over (dist, street_id, coords) — the dedup was a full
    # wide-row shuffle buying nothing.
    densified = rejected_candidates.unionByName(midpoints)
    refined = _closest_point(densified).select("accident_id", "street_id")

    matched = accepted.unionByName(refined)

    # Final disambiguation: closest center wins (reference
    # preprocess.py:208-223) — groupBy-min like _closest_point (map-side
    # combine, no window sort), same (dist ASC, street_id ASC) tie-break.
    out = (
        matched.join(road_centers, "street_id")
        .join(acc, "accident_id")
        .withColumn(
            "center_dist",
            haversine_meters("loc_lat", "loc_long", "center_lat", "center_long"),
        )
        .groupBy("accident_id")
        .agg(F.min(F.struct("center_dist", "street_id")).alias("__best"))
        .select("accident_id", F.col("__best.street_id").alias("street_id"))
    )
    return out
