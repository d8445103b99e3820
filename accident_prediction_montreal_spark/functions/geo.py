"""Geospatial column-expression factories.

Re-expresses the reference's haversine pipeline (reference
road_network.py:311-324: ``distance_intermediate_formula`` +
``distance_measure``) as a single expression factory over Columns.
Pure ``pyspark.sql.functions`` math — stays inside whole-stage codegen,
no UDF, so it vectorizes on the JVM and survives any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Mean Earth radius in meters (the reference uses 6371 km: road_network.py:324).
EARTH_RADIUS_M = 6_371_000.0


def haversine_meters(
    lat1: Column | str,
    lon1: Column | str,
    lat2: Column | str,
    lon2: Column | str,
) -> Column:
    """Great-circle distance in meters between two (lat, lon) column pairs.

    a   = sin²(Δφ/2) + cosφ₁·cosφ₂·sin²(Δλ/2)
    d   = 2R·atan2(√a, √(1−a))

    Identical math to reference road_network.py:311-324, expressed as one
    composable Column. Used by the kNN match operator and IDW weighting.
    """
    lat1, lon1, lat2, lon2 = (F.col(c) if isinstance(c, str) else c for c in (lat1, lon1, lat2, lon2))
    phi1, phi2 = F.radians(lat1), F.radians(lat2)
    return haversine_meters_coslat(
        lat1, lon1, lat2, lon2, F.cos(phi1), F.cos(phi2)
    )


def haversine_meters_coslat(
    lat1: Column | str,
    lon1: Column | str,
    lat2: Column | str,
    lon2: Column | str,
    cos1: Column | str,
    cos2: Column | str,
) -> Column:
    """``haversine_meters`` with the two ``cos(radians(lat))`` factors
    supplied as columns.

    BIT-IDENTICAL to :func:`haversine_meters` when ``cosN`` is
    ``cos(radians(latN))`` (same expression, same association order) —
    the point is WHERE the cosine is evaluated: a pair-generating
    consumer (the IDW cross join, the kNN candidate join) can compute
    each side's cosine once per ROW before the join instead of once per
    PAIR inside it, removing 2 of the ~9 math calls from the quadratic
    inner loop (r14: a6_idw at sf1 is trig-bound — guide §1.2 per-task
    work after the algorithm is right).
    """
    lat1, lon1, lat2, lon2, cos1, cos2 = (
        F.col(c) if isinstance(c, str) else c
        for c in (lat1, lon1, lat2, lon2, cos1, cos2)
    )
    dphi = F.radians(lat2 - lat1)
    dlam = F.radians(lon2 - lon1)
    a = F.pow(F.sin(dphi / 2), 2) + cos1 * cos2 * F.pow(F.sin(dlam / 2), 2)
    return F.lit(2.0 * EARTH_RADIUS_M) * F.atan2(F.sqrt(a), F.sqrt(1 - a))

