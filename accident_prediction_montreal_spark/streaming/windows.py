"""Structured Streaming surface (SURVEY.md §2.12 — new in this engine).

The reference is batch-only; its "moving average over hours" is a batch
window (reference src/weather.py:228-244). This module adds the
streaming operators the north star names: watermarked tumbling/sliding
windows, session windows, and within-watermark dedup, over an
events-shaped stream (event_id, ts, user_id, event_type, value, props).

Every builder takes a streaming DataFrame and returns a streaming
DataFrame — source/sink wiring stays with the caller (streaming/finite.py
for the engine's finite streams), so the same transformations run against
file, Kafka or rate sources. Batch twins of
these aggregations (identical result semantics on bounded input) are in
plans/streaming.py (`st_*` queries), which is how the DuckDB oracle
checks them.

State-store sizing at scale: watermark delay bounds state; session
windows additionally require `spark.sql.streaming.statefulOperator.
allowMultiple` semantics left at defaults. Keys are (user_id) or
(window), both low-cardinality relative to input volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window count + sum per event_type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("value_sum"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n", "value_sum")
    )


def sliding_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked sliding-window count + value sum (each event lands in
    window/slide overlapping windows; cast ``value`` to decimal upstream
    if the sum must be arrival-order-independent)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("win"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("value_sum"))
        .select(F.col("win.start").alias("win_start"), "n", "value_sum")
    )


def session_aggregates(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked session windows per user (F.session_window).

    Batch twin: operators/sessionize.py (same gap semantics: a new
    session when the time since the previous event exceeds the gap).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("value_sum"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "value_sum",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Drop duplicate event_ids arriving within the watermark horizon."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def enrich_with_dim(events: DataFrame, dim: DataFrame, key: str = "user_id") -> DataFrame:
    """Stream-static join: per-microbatch hash join against a static
    dimension — the standard enrichment pattern (dim re-read per batch;
    broadcast when small). No watermark needed for stream-static inner
    joins."""
    from pyspark.sql import functions as F

    return events.join(F.broadcast(dim), key, "left")


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str = "event_id",
    right_key: str = "r_event_id",
    left_ts: str = "ts",
    right_ts: str = "r_ts",
    watermark: str = "2 hours",
    within: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream INNER join on a key + event-time range.

    Both sides carry watermarks and the join condition bounds the
    event-time skew (|l.ts − r.ts| ≤ ``within``), so each side's join
    state is evicted once the other stream's watermark passes — bounded
    state regardless of stream length, the canonical Spark
    stream-stream join recipe. Column names must be disjoint across
    sides (pre-alias the right side).
    """
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (F.col(left_key) == F.col(right_key))
        & (F.col(right_ts) >= F.col(left_ts) - F.expr(f"INTERVAL {within}"))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, "inner")
