from accident_prediction_montreal_spark.streaming.finite import (
    drain,
    read_events_stream,
)
from accident_prediction_montreal_spark.streaming.windows import (
    tumbling_counts,
    sliding_counts,
    session_aggregates,
    dedup_within_watermark,
)

__all__ = [
    "drain",
    "read_events_stream",
    "tumbling_counts",
    "sliding_counts",
    "session_aggregates",
    "dedup_within_watermark",
]
