from accident_prediction_montreal_spark.operators.spatial import (
    knn_join,
    knn_join_grid,
    idw_interpolate,
)
from accident_prediction_montreal_spark.operators.windows import (
    exp_weighted_moving_average,
    top_k_per_group,
    cumulative_sum,
    rolling_midpoints,
)
from accident_prediction_montreal_spark.operators.metrics import (
    threshold_sweep,
    count_rate_model,
)
from accident_prediction_montreal_spark.operators.encoding import target_encode
from accident_prediction_montreal_spark.operators.dedup import (
    exact_dedup,
    word_shingles,
    minhash_dedup_pairs,
    simhash,
    ngram_jaccard_pairs,
)
from accident_prediction_montreal_spark.operators.similarity import (
    cosine_topk,
    brp_lsh_ann,
)
from accident_prediction_montreal_spark.operators.text import (
    tokenize,
    text_quality,
    language_id,
    fingerprint,
)
from accident_prediction_montreal_spark.operators.sessionize import sessionize
from accident_prediction_montreal_spark.operators.skew import salted_join
from accident_prediction_montreal_spark.operators.ivf import (
    build_ivf_index,
    ivf_cosine_topk,
)

__all__ = [
    "knn_join",
    "knn_join_grid",
    "idw_interpolate",
    "exp_weighted_moving_average",
    "top_k_per_group",
    "cumulative_sum",
    "rolling_midpoints",
    "threshold_sweep",
    "count_rate_model",
    "target_encode",
    "exact_dedup",
    "word_shingles",
    "minhash_dedup_pairs",
    "simhash",
    "ngram_jaccard_pairs",
    "cosine_topk",
    "brp_lsh_ann",
    "tokenize",
    "text_quality",
    "language_id",
    "fingerprint",
    "sessionize",
    "salted_join",
    "build_ivf_index",
    "ivf_cosine_topk",
]
