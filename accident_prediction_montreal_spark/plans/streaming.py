"""Streaming family (SURVEY.md §2.12) as queries: event-time tumbling, sliding
and session windows, stream dedup, stream-static, stream-stream inner, outer
and range joins, stateful running aggregates, late-data eviction, foreachBatch
sinks, checkpoint resume, a Python stream source and the pipeline capstone.
Every query drains a finite input through streaming/finite.py. Stream twins of
batch operators live with their batch family (CDC in storage, heavy hitters in
relational, dedup and curation twins in their modules).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from accident_prediction_montreal_spark import cachereg
from accident_prediction_montreal_spark.functions.money import dsum
from accident_prediction_montreal_spark.operators.sessionize import sessionize
from accident_prediction_montreal_spark.plans.registry import register
from accident_prediction_montreal_spark.sources.registry import load_table
from accident_prediction_montreal_spark.sources.scratch import session_dir
from accident_prediction_montreal_spark.streaming.finite import (
    drain,
    events_stream,
    late_data_fixture,
    read_events_stream,
    two_batch_fixture,
)


@register(
    "st_time_rollup",
    oracle="""
    SELECT CAST(ts AS DATE) AS day, date_trunc('hour', ts) AS hour_start,
      COUNT(*) AS n,
      CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS value_sum,
      CAST(GROUPING(date_trunc('hour', ts)) AS BIGINT) AS lvl
    FROM events
    GROUP BY ROLLUP (CAST(ts AS DATE), date_trunc('hour', ts))
    HAVING GROUPING(CAST(ts AS DATE)) = 0
    """,
    description="Hypertable-style multi-resolution time rollup (north-star "
    "custom operator): hourly and daily continuous aggregates from ONE "
    "pass — ROLLUP over derived (day, hour) grains is one Expand + one "
    "shuffle, not one scan per resolution. lvl=0 rows are hourly, lvl=1 "
    "daily. The all-NULL grand-total row is filtered on both sides.",
)
def st_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    grained = events.select(
        F.col("ts").cast("date").alias("day"),
        F.date_trunc("hour", "ts").alias("hour_start"),
        "value",
    )
    return (
        grained.rollup("day", "hour_start")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("value_sum"),
            F.grouping("hour_start").cast("long").alias("lvl"),
        )
        .filter(F.grouping("day") == 0)
        .select("day", "hour_start", "n", "value_sum", "lvl")
    )


# --- Event-time windows (batch twins of the streaming surface) ------------------------

@register(
    "st_tumbling_window",
    oracle="""
    SELECT date_trunc('hour', ts) AS win_start, event_type,
      COUNT(*) AS n,
      CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS value_sum
    FROM events GROUP BY 1, 2
    """,
    description="Tumbling event-time window aggregation (streaming §2.12 surface, "
    "batch-equivalent semantics)",
)
def st_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    return (
        events.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("value_sum"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n", "value_sum")
    )


@register(
    "st_sliding_window",
    oracle="""
    WITH expanded AS (
      SELECT make_timestamp(CAST((floor(epoch(ts) / 1800) - o) * 1800 AS BIGINT) * 1000000)
               AS win_start,
             value
      FROM events CROSS JOIN (SELECT UNNEST(range(0, 2)) AS o)
    )
    SELECT win_start, COUNT(*) AS n,
      CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS value_sum
    FROM expanded GROUP BY win_start
    """,
    description="Sliding (1h / 30min) event-time windows — each event in 2 windows",
)
def st_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("value_sum"))
        .select(F.col("win.start").alias("win_start"), "n", "value_sum")
    )


@register(
    "st_availablenow_stream",
    oracle="""
    SELECT date_trunc('hour', ts) AS win_start, event_type, COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
    description="REAL Structured Streaming execution (§2.12, not a batch twin): "
    "readStream file source over the events parquet -> watermarked tumbling "
    "window counts (streaming/windows.py::tumbling_counts) -> memory sink, "
    "Trigger.AvailableNow, complete mode (append over a finite source never "
    "passes the final watermark). The returned DataFrame is the sink table, "
    "so the oracle checks end-to-end streaming results. Memory sink is the "
    "test harness choice; production uses the same writeStream against "
    "kafka/parquet sinks.",
)
def st_availablenow_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.streaming.windows import tumbling_counts

    events = events_stream(spark, sf_dir)
    agg = tumbling_counts(events).select("win_start", "event_type", "n")
    # complete mode: append over a finite source never passes the final
    # watermark, so nothing would be emitted.
    out = drain(agg, "complete")
    return out.select("win_start", "event_type", F.col("n").cast("long").alias("n"))


@register(
    "st_stream_dedup",
    oracle="""
    SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT event_id) AS n_ids
    FROM events GROUP BY event_type
    """,
    description="REAL streaming dedup (§2.12): two readStreams over the same "
    "events source are unioned — every 10th event arrives TWICE — then "
    "dropDuplicatesWithinWatermark on event_id removes the planted "
    "duplicates before an append-mode memory sink; the sink table is "
    "batch-aggregated per event_type. Counts equal the plain base table's, "
    "so the dedup state machine is value-checked: a broken dedup inflates "
    "n and hash-mismatches.",
)
def st_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.streaming.windows import (
        dedup_within_watermark,
    )

    base = events_stream(spark, sf_dir)
    dups = events_stream(spark, sf_dir).filter(F.col("event_id") % 10 == 0)
    merged = base.unionByName(dups)
    deduped = dedup_within_watermark(merged).select("event_id", "ts", "event_type")
    # append mode: dedup is the only stateful operator, rows flow through
    # as they clear the state store; the aggregation runs as a batch query
    # over the sink table.
    out = drain(deduped, "append")
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("event_id").alias("n_ids"),
    )


@register(
    "st_stream_stream_join",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
      CAST(CAST(SUM(CAST(value * 3 AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
        AS value_sum
    FROM events GROUP BY event_type
    """,
    description="REAL stream-stream inner join (§2.12): two readStreams over "
    "the events source, both watermarked, joined on event_id with an "
    "event-time range bound (the canonical bounded-state recipe); the "
    "right stream carries value*2, so every joined row must pair each "
    "event with exactly its twin — value_sum = 3x the base table's, and "
    "any dropped or duplicated join state hash-mismatches. Append sink, "
    "batch-aggregated per event_type.",
)
def st_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.streaming.windows import (
        stream_stream_join,
    )

    left = events_stream(spark, sf_dir).select("event_id", "ts", "event_type", "value")
    right = events_stream(spark, sf_dir).select(
        F.col("event_id").alias("r_event_id"),
        F.col("ts").alias("r_ts"),
        (F.col("value") * 2).alias("r_value"),
    )
    joined = stream_stream_join(left, right).select(
        "event_type", (F.col("value") + F.col("r_value")).alias("v")
    )
    out = drain(joined, "append")
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("v").alias("value_sum")
    )


@register(
    "st_foreachbatch_sink",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
      CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
        AS value_sum
    FROM events GROUP BY event_type
    """,
    description="REAL foreachBatch sink (§2.12 production pattern): events "
    "readStream drained by Trigger.AvailableNow through foreachBatch into "
    "append-mode parquet with a streaming checkpoint, then the written "
    "files are read back and aggregated. Exactly the base table's counts "
    "and sums must come out the other side — a dropped or double-written "
    "micro-batch hash-mismatches.",
)
def st_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = events_stream(spark, sf_dir).select("event_id", "event_type", "value")
    base, _ = session_dir("fb", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    out_dir, ckpt_dir = f"{base}/out", f"{base}/ckpt"

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    drain(stream, "append", sink=write_batch, checkpoint=ckpt_dir)
    written = spark.read.parquet(out_dir)
    return written.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value").alias("value_sum")
    )


@register(
    "st_stream_static_join",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
      CAST(MAX(strlen(event_type)) AS BIGINT) AS type_weight
    FROM events GROUP BY event_type
    """,
    description="REAL stream-static enrichment (§2.12): events readStream "
    "joined per micro-batch against a broadcast static dimension "
    "(streaming/windows.py::enrich_with_dim), append-mode sink, "
    "batch-aggregated. Every stream row must pick up its dimension "
    "attribute — a broken join drops or nulls rows and hash-mismatches.",
)
def st_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.streaming.windows import enrich_with_dim

    # Static dim derived from the batch table: one row per event_type
    # with a deterministic attribute.
    dim = (
        load_table(spark, "events", sf_dir)
        .select("event_type")
        .distinct()
        .withColumn("type_weight", F.length("event_type").cast("long"))
    )
    stream = events_stream(spark, sf_dir).select("event_id", "event_type")
    enriched = enrich_with_dim(stream, dim, key="event_type")
    out = drain(enriched, "append")
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("type_weight").alias("type_weight"),
    )


@register(
    "st_stateful_running",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
      ROUND((1 - pow(exp(-0.5), COUNT(*))) / (1 - exp(-0.5)), 6) AS activity
    FROM events GROUP BY user_id
    """,
    description="REAL custom stateful streaming (§2.12 escape hatch): "
    "applyInPandasWithState keeps per-user (count, sum, exponentially "
    "decayed activity) across micro-batches, update mode, availableNow "
    "(streaming/stateful.py::running_user_stats). The per-event decay "
    "recurrence a' = a*exp(-0.5) + 1 telescopes to the closed form "
    "(1 - d^n)/(1 - d), which the oracle computes from the batch count — "
    "so the stateful operator's cross-batch arithmetic is value-checked, "
    "not just row-counted. The final state per user is selected as the "
    "row with the highest event count (update mode emits one row per "
    "user per batch).",
)
def st_stateful_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from accident_prediction_montreal_spark.streaming.stateful import (
        running_user_stats,
    )

    events = events_stream(spark, sf_dir)
    out = drain(running_user_stats(events), "update")
    # update mode appends one row per user per micro-batch; the final
    # state is the row with the largest n_events.
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return final.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("activity", 6).alias("activity"),
    )


@register(
    "st_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
        CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
             THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      MIN(ts) AS session_start, MAX(ts) AS session_end,
      COUNT(*) AS n_events,
      CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS value_sum
    FROM sess GROUP BY user_id, session_id
    """,
    description="Sessionization, 30-min gap (gaps-and-islands; batch twin of "
    "session_window in streaming/)",
)
def st_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    return sessionize(events, gap_seconds=1800)


@register(
    "st_session_stream",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
        CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
             THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS session_id
      FROM flagged
    )
    SELECT user_id,
      MIN(ts) AS session_start,
      MAX(ts) + INTERVAL 30 MINUTE AS session_end,
      COUNT(*) AS n_events,
      CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS value_sum
    FROM sess GROUP BY user_id, session_id
    """,
    description="REAL streaming session windows (§2.12): readStream over the "
    "events parquet -> F.session_window('30 minutes') per user_id -> memory "
    "sink, Trigger.AvailableNow, complete mode. Two deliberate semantic "
    "deltas vs the batch twin st_session_window, both encoded in the "
    "oracle: Spark's session window END is last-event-ts + gap (half-open "
    "[start, end)), and an event exactly gap later starts a NEW session "
    "(>= in the oracle's island flag, vs > in the batch twin). A broken "
    "session-merge state machine changes starts/counts and hash-mismatches.",
)
def st_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.streaming.windows import (
        session_aggregates,
    )

    events = events_stream(spark, sf_dir).withColumn(
        # Decimal-exact inside the streaming agg: per-session double sums
        # would be stream-arrival-order-dependent (functions/money.py).
        "value",
        F.col("value").cast("decimal(38,6)"),
    )
    agg = session_aggregates(events, gap="30 minutes")
    # complete mode, like st_availablenow_stream: append over a finite
    # source never passes the final watermark, so nothing would be emitted.
    out = drain(agg, "complete")
    return out.select(
        "user_id",
        "session_start",
        "session_end",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("value_sum").cast("double").alias("value_sum"),
    )


@register(
    "st_late_data_eviction",
    oracle="""
    SELECT date_trunc('hour', ts) AS win_start, COUNT(*) AS n
    FROM events GROUP BY 1
    """,
    description="REAL watermark late-data eviction (§2.12): a 3-micro-batch "
    "stream (bulk events; a clock-advance event +10h that pushes the "
    "watermark past every bulk window; a planted late event back inside "
    "the bulk range) through a 1-hour-watermark tumbling count in APPEND "
    "mode. Append emits exactly the finalized bulk windows: the "
    "clock-advance window can never finalize (excluded by construction) "
    "and the planted late row is below the watermark and MUST be dropped "
    "— an engine that fails to evict emits an extra (win_start, 1) row "
    "and hash-mismatches against the plain batch oracle. This is the "
    "teeth for watermark semantics that complete-mode streaming queries "
    "cannot exercise.",
)
def st_late_data_eviction(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_events_stream(
        spark, late_data_fixture(sf_dir), max_files_per_trigger=1
    )
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), F.col("n").cast("long").alias("n"))
    )
    # APPEND mode is the point: only watermark-finalized windows are
    # emitted, so eviction (not just aggregation) is what's value-checked.
    return drain(agg, "append")


@register(
    "st_sliding_stream",
    oracle="""
    WITH expanded AS (
      SELECT make_timestamp(CAST((floor(epoch(ts) / 1800) - o) * 1800 AS BIGINT) * 1000000)
               AS win_start,
             value
      FROM events CROSS JOIN (SELECT UNNEST(range(0, 2)) AS o)
    )
    SELECT win_start, COUNT(*) AS n,
      CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS value_sum
    FROM expanded GROUP BY win_start
    """,
    description="REAL sliding-window streaming (§2.12, completing the real "
    "engine coverage next to tumbling/session): readStream over the events "
    "parquet -> watermarked 1h/30min sliding windows "
    "(streaming/windows.py::sliding_counts) -> memory sink, "
    "Trigger.AvailableNow, complete mode. Every event must land in exactly "
    "2 overlapping windows — the oracle expands each row into its two "
    "window starts and re-aggregates, so a mis-assigned or dropped window "
    "replica hash-mismatches. Decimal-cast values keep the per-window sums "
    "arrival-order-independent.",
)
def st_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.streaming.windows import sliding_counts

    events = events_stream(spark, sf_dir).withColumn(
        "value", F.col("value").cast("decimal(38,6)")
    )
    agg = sliding_counts(events)
    # complete mode: append over a finite source never passes the final
    # watermark, so nothing would be emitted.
    out = drain(agg, "complete")
    return out.select(
        "win_start",
        F.col("n").cast("long").alias("n"),
        F.col("value_sum").cast("double").alias("value_sum"),
    )


@register(
    "st_stream_range_join",
    oracle="""
    WITH windows AS (
      SELECT s AS start_ts, s + INTERVAL 2 HOUR AS end_ts
      FROM generate_series(TIMESTAMP '2024-01-01 00:00:00',
                           TIMESTAMP '2024-01-30 18:00:00',
                           INTERVAL 6 HOUR) AS t(s)
    )
    SELECT w.start_ts, COUNT(*) AS n_events,
      CAST(CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
        AS value_sum
    FROM events e JOIN windows w
      ON e.ts >= w.start_ts AND e.ts < w.end_ts
    GROUP BY w.start_ts
    """,
    description="REAL streaming RANGE join (§2.12 x the r6 rangejoin "
    "operator): events readStream bucketed to interval-sized time cells "
    "per micro-batch and equi-joined against the static exploded window "
    "set — the same point_in_interval_join plan shape, valid under "
    "append-mode stream-static rules (no stream-side state), availableNow "
    "to a memory sink, then batch-aggregated per window. The oracle is "
    "the batch BETWEEN join: any window mis-bucketed by the streaming "
    "path changes a count or a DECIMAL-exact value sum.",
)
def st_stream_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.rangejoin import (
        point_in_interval_join,
    )

    windows = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01 00:00:00").cast("timestamp_ntz"),
                F.lit("2024-01-30 18:00:00").cast("timestamp_ntz"),
                F.expr("interval 6 hours"),
            )
        ).alias("start_ts")
    ).withColumn("end_ts", F.col("start_ts") + F.expr("interval 2 hours"))
    stream = events_stream(spark, sf_dir).select("ts", "value")
    joined = point_in_interval_join(
        stream, windows, ts_col="ts", bucket_seconds=2 * 3600
    ).select("start_ts", "value")
    out = drain(joined, "append")
    return out.groupBy("start_ts").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
    )


@register(
    "st_pipeline_capstone",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
        CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
             THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS session_id
      FROM flagged
    ),
    sessions AS (
      SELECT user_id, session_id,
        MIN(ts) AS session_start,
        MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        COUNT(*) AS n_ev,
        SUM(CAST(value AS DECIMAL(38,6))) AS vsum
      FROM sess GROUP BY user_id, session_id
    )
    SELECT CAST(user_id % 5 AS BIGINT) AS tier,
      CAST(COUNT(*) AS BIGINT) AS n_sessions,
      CAST(SUM(n_ev) AS BIGINT) AS n_events,
      CAST(CAST(SUM(vsum) AS VARCHAR) AS DOUBLE) AS value_sum,
      CAST(MAX(epoch_us(session_end) - epoch_us(session_start)) AS BIGINT)
        AS max_session_us
    FROM sessions
    WHERE user_id % 5 IN (0, 2, 4)
    GROUP BY 1
    """,
    description="STREAMING CAPSTONE (§2.12 composition — the streaming "
    "sibling of apm_dataset_pipeline / llm_pretrain_pipeline): a "
    "two-micro-batch events stream (time-split fixture, "
    "maxFilesPerTrigger=1, so sessions STRADDLE the batch boundary and "
    "the state store must merge them) -> watermarked 30-minute session "
    "windows with decimal-exact value sums -> foreachBatch COMPLETE-mode "
    "sink that enriches each emitted session against a broadcast static "
    "user-tier dimension and OVERWRITES a tier-partitioned parquet "
    "(the dashboard-sink pattern: last batch's complete state wins) -> "
    "partition-PRUNED read-back of 3 of 5 tiers -> per-tier rollup. The "
    "oracle recomputes sessions batch-side (same >=gap island rule, end "
    "= last ts + gap), so a broken cross-batch merge, a dropped "
    "micro-batch, a mis-partitioned write, or an unpruned tier all "
    "hash-mismatch.",
)
def st_pipeline_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.streaming.windows import session_aggregates

    events = read_events_stream(
        spark, two_batch_fixture(sf_dir), max_files_per_trigger=1
    ).withColumn("value", F.col("value").cast("decimal(38,6)"))
    sessions = session_aggregates(events, gap="30 minutes")

    # Static tier dimension — STATIC by contract, so persist and
    # materialize it before the stream starts: the foreachBatch join is
    # lazy per batch, and an unpersisted dim re-ran the full events
    # scan + distinct exchange inside EVERY micro-batch (2x here, every
    # trigger in production) just to rebuild the same broadcast table.
    dim = cachereg.generation("plans.st_pipeline_capstone").persist(
        load_table(spark, "events", sf_dir)
        .select("user_id")
        .distinct()
        .withColumn("tier", (F.col("user_id") % 5).cast("int"))
    )
    dim.count()

    base, _ = session_dir("stcap", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    out_dir, ckpt_dir = f"{base}/out", f"{base}/ckpt"

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # COMPLETE mode: batch_df is the full updated session table, so
        # overwrite — the sink always holds the latest state.
        enriched = batch_df.join(F.broadcast(dim), "user_id", "left")
        enriched.write.mode("overwrite").partitionBy("tier").parquet(out_dir)

    drain(sessions, "complete", sink=write_batch, checkpoint=ckpt_dir)

    back = spark.read.parquet(out_dir).filter(F.col("tier").isin(0, 2, 4))
    return back.groupBy(F.col("tier").cast("long").alias("tier")).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("value_sum").cast("double").alias("value_sum"),
        F.max(
            F.unix_micros("session_end") - F.unix_micros("session_start")
        ).alias("max_session_us"),
    )


@register(
    "st_python_stream_source",
    oracle="""
    WITH g AS (
      SELECT s.s AS station_id, d.d AS doy, h.h AS hour
      FROM (SELECT UNNEST(range(0, 5)) AS s) s
      CROSS JOIN (SELECT UNNEST(range(1, 46)) AS d) d
      CROSS JOIN (SELECT UNNEST(range(0, 24)) AS h) h
    )
    SELECT CAST(station_id AS INT) AS station_id,
      CAST(COUNT(*) AS BIGINT) AS n_obs,
      CAST(CAST(SUM(CAST(((station_id*31 + doy*7 + hour*3) % 50) - 10
                         AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS temp_sum,
      CAST(SUM(CASE WHEN (station_id*3 + doy + hour) % 10 = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_risky
    FROM g GROUP BY 1
    """,
    description="Spark 4 Python DataSource as a STREAM source "
    "(sources/pydatasource.py::WeatherFixtureStreamReader — the "
    "micro-batch form of s12's batch source): the offset is the next "
    "unread day-of-year, each batch plans one InputPartition per "
    "station over [start_day, end_day), commit() is the exactly-once "
    "ack hook, and Trigger.AvailableNow drains 45 days in 5 "
    "9-day micro-batches into a memory sink. The batch-aggregated "
    "result must equal the closed-form oracle exactly — a dropped, "
    "repeated, or mis-ranged micro-batch (the offset arithmetic) "
    "hash-mismatches.",
)
def st_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.sources.pydatasource import register

    register(spark)
    stream = (
        spark.readStream.format("weatherfix")
        .option("stations", "5")
        .option("days", "45")
        .option("days_per_batch", "9")
        .load()
    )
    out = drain(stream, "append")
    return out.groupBy("station_id").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(F.col("temp").cast("decimal(38,6)")).cast("double").alias("temp_sum"),
        F.sum((F.col("risky_weather") == 1.0).cast("long")).alias("n_risky"),
    )


@register(
    "st_stream_stream_outer",
    oracle="""
    SELECT event_id, value,
      CASE WHEN event_id % 2 = 0 THEN value * 2 END AS r_value
    FROM events
    """,
    description="LEFT-OUTER stream-stream join with watermark-driven NULL "
    "emission (§2.12 — the semantics the inner join cannot exercise: an "
    "unmatched left row may only emit once the watermark PROVES no match "
    "can still arrive). Left = every event; right = only the even-id "
    "half (values doubled), so every odd-id row must eventually emit "
    "with r_value NULL — but not before eviction. The 3-file fixture "
    "(maxFilesPerTrigger=1) drives it: bulk rows join/withhold in batch "
    "1, the +10h clock row rides BOTH streams (on the right under an "
    "unmatchable sentinel key, so it advances the right watermark "
    "without joining — the global watermark is the MIN across operators, "
    "so a right side whose clock is filtered would stall eviction "
    "forever, a real production foot-gun this query documents), and "
    "batch 3's processing flushes every withheld odd row with NULLs. "
    "The clock row itself can never be proven unmatched (the watermark "
    "never passes it) and stays withheld — excluded by construction; "
    "the planted late row is dropped below the watermark. Output equals "
    "the batch left join, which is the oracle.",
)
def st_stream_stream_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    fix_dir = late_data_fixture(sf_dir)

    def stream():
        return read_events_stream(spark, fix_dir, max_files_per_trigger=1)

    left = (
        stream()
        .filter(F.col("event_type") != "late_planted")
        .select("event_id", "ts", "value")
        .withWatermark("ts", "1 hour")
    )
    right = (
        stream()
        .filter(
            (F.col("event_type") == "clock_advance")
            | ((F.col("event_id") % 2 == 0) & (F.col("event_id") >= 0))
        )
        .select(
            # sentinel key keeps the clock row advancing the right
            # watermark while never matching any left id
            F.when(F.col("event_type") == "clock_advance", F.lit(-999_999))
            .otherwise(F.col("event_id"))
            .alias("r_event_id"),
            F.col("ts").alias("r_ts"),
            (F.col("value") * 2).alias("r_value"),
        )
        .withWatermark("r_ts", "1 hour")
    )
    cond = (
        (F.col("event_id") == F.col("r_event_id"))
        & (F.col("r_ts") >= F.col("ts") - F.expr("INTERVAL 1 hour"))
        & (F.col("r_ts") <= F.col("ts") + F.expr("INTERVAL 1 hour"))
    )
    joined = left.join(right, cond, "leftOuter").select("event_id", "value", "r_value")
    return drain(joined, "append")


@register(
    "st_checkpoint_resume",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS value_sum
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    description="Checkpoint RESUME / exactly-once restart (§2.12, the "
    "operational contract the other 15 streaming queries assume): run "
    "a file-source stream to completion (availableNow) through a "
    "foreachBatch parquet appender with a checkpoint, land MORE files "
    "in the source, then start the SAME query AGAIN on the SAME "
    "checkpoint. The second run must process ONLY the new files — the "
    "committed offset log is what says so — and the union of both "
    "runs' appends must equal the full source exactly once. Any "
    "reprocessing doubles a count and any lost offset drops one, so "
    "the decimal-exact per-type checksums catch both failure modes. "
    "At 100 TB this is the nightly-ingest restart story: resume is a "
    "metadata read, never a rescan of committed input.",
)
def st_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    base, _ = session_dir("stresume", sf_dir)
    # Re-runs within a session must start from a clean slate or the old
    # checkpoint would mark the first file as already committed.
    shutil.rmtree(base, ignore_errors=True)
    in_dir = os.path.join(base, "in")
    out_dir = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(in_dir, exist_ok=True)

    fix_dir = two_batch_fixture(sf_dir)
    stream = read_events_stream(spark, in_dir)

    def append_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    # Run 1: only the early file exists. New data lands; run 2 resumes
    # from the SAME checkpoint.
    for name in ("a_early.parquet", "b_late.parquet"):
        shutil.copyfile(os.path.join(fix_dir, name), os.path.join(in_dir, name))
        drain(stream, "append", sink=append_batch, checkpoint=ckpt)

    got = spark.read.parquet(out_dir)
    return (
        got.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,6)")).cast("double"), 6
            ).alias("value_sum"),
        )
        .orderBy("event_type")
    )
