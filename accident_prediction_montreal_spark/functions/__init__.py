from accident_prediction_montreal_spark.functions.geo import (
    haversine_meters,
    EARTH_RADIUS_M,
)
from accident_prediction_montreal_spark.functions.cyclic import cyclic_encode
from accident_prediction_montreal_spark.functions.solar import solar_elevation
from accident_prediction_montreal_spark.functions.money import dsum, davg
from accident_prediction_montreal_spark.functions.vectors import (
    dot_product,
    l2_norm,
    cosine_similarity,
)

__all__ = [
    "haversine_meters",
    "EARTH_RADIUS_M",
    "cyclic_encode",
    "solar_elevation",
    "dsum",
    "davg",
    "dot_product",
    "l2_norm",
    "cosine_similarity",
]
