"""Window and time-series family (SURVEY.md §2.5 and §2.14) as oracle-checked
queries: range frames, EWMA, rolling medians, gap filling, distribution ranks,
as-of joins (backward, forward, nearest, with tolerance), sessionization with
dynamic gaps, OHLC bars, time-weighted averages, event transitions, funnels,
cohorts, sequence patterns, autocorrelation, seasonal and robust anomaly
scores and CUSUM change points.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from accident_prediction_montreal_spark.operators.windows import (
    exp_weighted_moving_average,
)
from accident_prediction_montreal_spark.plans.registry import register
from accident_prediction_montreal_spark.sources.registry import load_table


def _click_events(ev: DataFrame) -> DataFrame:
    """The right side of every j9 as-of join: click events, one per
    (user_id, ts), the highest event_id winning the tie."""
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    return (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", "ts", "event_id", "value")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


@register(
    "j9_asof_join",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click'
      QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
    ),
    errors AS (
      SELECT event_id, ts, user_id, value FROM events WHERE event_type = 'error'
    )
    SELECT e.user_id, e.event_id,
      c.event_id AS click_event_id,
      ROUND(c.value, 6) AS click_value
    FROM errors e
    ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
    description="As-of join (J9, new vs reference): latest click at or before "
    "each error per user — union + carry-forward window (one shuffle), "
    "checked against DuckDB's native ASOF JOIN",
)
def j9_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.asof import asof_join

    ev = load_table(spark, "events", sf_dir)
    clicks = _click_events(ev)
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "ts", "user_id", "value"
    )
    out = asof_join(errors, clicks, by=["user_id"], value_cols=["event_id", "value"])
    return out.select(
        "user_id",
        "event_id",
        F.col("event_id_right").alias("click_event_id"),
        F.round("value_right", 6).alias("click_value"),
    )


@register(
    "a11_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, ts,
        min(ts) OVER (PARTITION BY user_id) AS first_ts
      FROM events
    )
    SELECT CAST(date_trunc('week', first_ts) AS DATE) AS cohort_week,
      CAST(date_diff('day', CAST(date_trunc('week', first_ts) AS DATE),
                     CAST(ts AS DATE)) // 7 AS BIGINT) AS week_offset,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
    FROM firsts
    GROUP BY 1, 2
    """,
    description="Weekly cohort-retention matrix over the events table (the "
    "classic product-analytics OLAP shape): cohort = Monday-truncated week "
    "of each user's FIRST event, week_offset = whole weeks since, cell = "
    "distinct active users. ONE scan and one user_id shuffle: the first-"
    "event timestamp comes from a min-over-user window (not a groupBy + "
    "self-join, which would scan events twice); the distinct count then "
    "shuffles (cohort, offset, user) triples. All derivations are integer/"
    "date arithmetic — no float to flake the hash. Both engines truncate "
    "weeks to Monday and floor-divide non-negative day deltas.",
)
def a11_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir).select("user_id", "ts")
    w = Window.partitionBy("user_id")
    firsts = ev.withColumn("first_ts", F.min("ts").over(w))
    cohort_week = F.date_trunc("week", F.col("first_ts")).cast("date")
    week_offset = F.floor(
        F.datediff(F.col("ts").cast("date"), cohort_week) / 7
    ).cast("long")
    return (
        firsts.select(
            cohort_week.alias("cohort_week"),
            week_offset.alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct(F.col("user_id")).alias("n_active"))
    )


@register(
    "a12_funnel_steps",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ),
    x AS (
      SELECT e.user_id, min(e.ts) AS t_err
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'error' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT 'view' AS step, CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_users
    UNION ALL
    SELECT 'view>click', CAST((SELECT COUNT(*) FROM c) AS BIGINT)
    UNION ALL
    SELECT 'view>click>error', CAST((SELECT COUNT(*) FROM x) AS BIGINT)
    """,
    description="Ordered 3-step funnel over the events stream (product-"
    "analytics shape the reference lacks): users who viewed, then clicked "
    "AFTER their first view, then errored AFTER that first qualifying "
    "click. Each stage is a per-user min-timestamp aggregate joined back "
    "— the strictly-ordered semantics (step N+1 must follow the EARLIEST "
    "qualifying step N) decorrelate into 3 chained aggregates; all "
    "shuffles share the user_id key so Catalyst reuses one partitioning, "
    "and per-step results are 1-row counts unioned. Timestamps compare "
    "exactly — no float in the funnel.",
)
def a12_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    x = (
        ev.filter(F.col("event_type") == "error")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_err"))
    )

    def step(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
            F.lit(name).alias("step"), "n_users"
        )

    return (
        step("view", v)
        .unionByName(step("view>click", c))
        .unionByName(step("view>click>error", x))
    )


@register(
    "w7_range_frame",
    oracle="""
    SELECT event_id,
      CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        PARTITION BY user_id ORDER BY ts
        RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
      ) AS VARCHAR) AS DOUBLE) AS roll_sum
    FROM events
    """,
    description="RANGE-frame window (the time-interval sibling of w3's "
    "ROWS-frame rolling average): per user, the trailing 1-hour sum of "
    "event values — the frame is defined by event-TIME distance, not row "
    "count, so bursts widen the frame and gaps shrink it. Spark expresses "
    "the interval as rangeBetween over microsecond epochs (RANGE frames "
    "take numeric offsets); DuckDB uses the native INTERVAL frame — both "
    "inclusive at cur - 1h, microsecond-exact. One shuffle on user_id; "
    "sums DECIMAL-exact so peer-row order cannot flake the hash.",
)
def w7_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir).select("event_id", "user_id", "ts", "value")
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(micros)
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("roll_sum"),
    )


@register(
    "j9_asof_forward",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click'
      QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
    ),
    errors AS (
      SELECT event_id, ts, user_id FROM events WHERE event_type = 'error'
    )
    SELECT e.user_id, e.event_id,
      c.event_id AS next_click_event_id,
      ROUND(c.value, 6) AS next_click_value
    FROM errors e
    ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.ts <= c.ts
    """,
    description="FORWARD as-of join (J9's mirror, r6): the EARLIEST click "
    "at or after each error per user — 'what did the user do next' "
    "semantics. Same one-shuffle union trick with the carry running "
    "backward (first non-null over [current, unbounded following], "
    "equal-ts tie flipped so a click at exactly the error time matches); "
    "oracle is DuckDB's native ASOF with the <= inequality.",
)
def j9_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.asof import asof_join

    ev = load_table(spark, "events", sf_dir)
    clicks = _click_events(ev)
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "ts", "user_id"
    )
    out = asof_join(
        errors, clicks, by=["user_id"], value_cols=["event_id", "value"],
        direction="forward",
    )
    return out.select(
        "user_id",
        "event_id",
        F.col("event_id_right").alias("next_click_event_id"),
        F.round("value_right", 6).alias("next_click_value"),
    )


@register(
    "j9_asof_tolerance",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click'
      QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
    ),
    errors AS (
      SELECT event_id, ts, user_id FROM events WHERE event_type = 'error'
    )
    SELECT e.user_id, e.event_id,
      CASE WHEN e.ts - c.ts <= INTERVAL 30 MINUTE THEN c.event_id END
        AS click_event_id,
      CASE WHEN e.ts - c.ts <= INTERVAL 30 MINUTE THEN ROUND(c.value, 6) END
        AS click_value
    FROM errors e
    ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
    description="As-of join with a staleness TOLERANCE (previously "
    "pytest-only): the latest click at or before each error counts only "
    "if it is within 30 minutes — older matches null out, the 'state too "
    "stale to trust' semantics every sensor/market data join needs. "
    "DuckDB has no native tolerance, so the oracle post-nulls its ASOF "
    "result with the identical interval comparison; microsecond-exact "
    "timestamp arithmetic on both engines.",
)
def j9_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.asof import asof_join

    ev = load_table(spark, "events", sf_dir)
    clicks = _click_events(ev)
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "ts", "user_id"
    )
    out = asof_join(
        errors, clicks, by=["user_id"], value_cols=["event_id", "value"],
        tolerance_seconds=30 * 60,
    )
    return out.select(
        "user_id",
        "event_id",
        F.col("event_id_right").alias("click_event_id"),
        F.round("value_right", 6).alias("click_value"),
    )


@register(
    "w8_gap_fill_lvcf",
    oracle="""
    WITH ranked AS (
      SELECT user_id, date_trunc('hour', ts) AS grid_ts, value,
        ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                           ORDER BY ts DESC, value DESC) AS rn
      FROM events WHERE ts IS NOT NULL
    ),
    per_bucket AS (
      SELECT user_id, grid_ts, value AS obs FROM ranked WHERE rn = 1
    ),
    span AS (
      SELECT user_id, MIN(grid_ts) AS lo, MAX(grid_ts) AS hi
      FROM per_bucket GROUP BY user_id
    ),
    grid AS (
      SELECT s.user_id,
        UNNEST(generate_series(s.lo, s.hi, INTERVAL 1 HOUR)) AS grid_ts
      FROM span s
    ),
    filled AS (
      SELECT g.user_id, g.grid_ts, p.obs,
        last_value(p.obs IGNORE NULLS) OVER (
          PARTITION BY g.user_id ORDER BY g.grid_ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
      FROM grid g LEFT JOIN per_bucket p USING (user_id, grid_ts)
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_hours,
      CAST(SUM(CASE WHEN obs IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_carried,
      CAST(CAST(SUM(CAST(ROUND(filled_value, 6) AS DECIMAL(38,6)))
                AS VARCHAR) AS DOUBLE) AS filled_sum
    FROM filled GROUP BY user_id
    """,
    description="Gap-fill RESAMPLING with last-value-carried-forward "
    "(operators/timeseries.py::gap_fill_lvcf — the regularization every "
    "(key, hour) feature join needs when sensors miss hours; the "
    "reference's weather joins assume a complete hourly grid): one "
    "groupBy to the hour grain (deterministic latest-observation "
    "tie-break via struct max), sequence-explode densification between "
    "each user's first and last hour, one IGNORE-NULLS window to carry "
    "— a single shuffle+sort per key, a 1000-hour gap costs 1000 grid "
    "rows and never a self-join. Decimal-exact checksum of the filled "
    "series; carried-bucket count separates interpolation from "
    "observation, so a wrong carry or a hole in the grid "
    "hash-mismatches.",
)
def w8_gap_fill_lvcf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.timeseries import gap_fill_lvcf

    ev = load_table(spark, "events", sf_dir).filter(F.col("ts").isNotNull())
    filled = gap_fill_lvcf(ev, "user_id", "ts", "value", grain="hour")
    return filled.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(F.col("is_carried").cast("long")).alias("n_carried"),
        F.sum(F.round("filled_value", 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("filled_sum"),
    )


@register(
    "a15_interval_coverage",
    oracle="""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s, epoch_us(ts + INTERVAL 30 MINUTE) AS e
      FROM events WHERE ts IS NOT NULL
    ),
    flagged AS (
      SELECT user_id, s, e,
        CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
          OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        THEN 1 ELSE 0 END AS new_isl
      FROM iv
    ),
    numbered AS (
      SELECT *, SUM(new_isl) OVER (PARTITION BY user_id ORDER BY s, e
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      FROM flagged
    ),
    islands AS (
      SELECT user_id, isl, MIN(s) AS lo, MAX(e) AS hi
      FROM numbered GROUP BY user_id, isl
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
      CAST(SUM(hi - lo) AS BIGINT) AS covered_us
    FROM islands GROUP BY user_id
    """,
    description="Interval-coverage MERGE (operators/timeseries.py::"
    "interval_coverage — total activity time from overlapping per-event "
    "[ts, ts+30min) windows, the sweep-line islands algorithm as "
    "windows): a running max of interval ends flags island starts "
    "(touching intervals merge — strict > test), a cumulative sum "
    "numbers islands, one aggregate measures them. One shuffle+sort "
    "per key, NEVER an interval self-join (the naive form is O(n²) per "
    "key and melts on power users). Microsecond-integer arithmetic is "
    "exact on both engines.",
)
def a15_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.timeseries import (
        interval_coverage,
    )

    ev = load_table(spark, "events", sf_dir).filter(F.col("ts").isNotNull())
    iv = ev.select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.make_interval(mins=F.lit(30))).alias("end_ts"),
    )
    return interval_coverage(iv, "user_id", "start_ts", "end_ts")


@register(
    "a16_running_distinct",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d
      FROM events WHERE ts IS NOT NULL GROUP BY user_id
    ),
    per_day AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS new_users FROM firsts GROUP BY d
    )
    SELECT d, new_users,
      CAST(SUM(new_users) OVER (ORDER BY d
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS cum_users
    FROM per_day
    """,
    description="RUNNING DISTINCT count (cumulative users-seen-by-day): the "
    "streaming-dashboard metric that naive COUNT(DISTINCT) OVER cannot "
    "express scalably — re-expressed as min-first-date per key (one "
    "map-side-combined groupBy over the data), then a per-day count and "
    "a cumulative sum over the 30-row day table. The heavy distinct "
    "work happens ONCE at the key grain; the window runs on the tiny "
    "aggregate, so the op is one shuffle at 100 TB where the textbook "
    "form re-scans per day.",
)
def a16_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir).filter(F.col("ts").isNotNull())
    firsts = ev.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("d"))
    per_day = firsts.groupBy("d").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return per_day.select(
        "d",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


# --- W4: stacked-lag EWMA ----------------------------------------------------------

_EWMA_WINDOW = 12
_EWMA_RATE = 0.5


def _ewma_oracle() -> str:
    offsets = range(-(_EWMA_WINDOW - 1), 1)
    raw = [math.exp(_EWMA_RATE * t) for t in offsets]
    norm = sum(raw)
    # Explicit DOUBLE casts: DuckDB parses bare float literals as DECIMAL,
    # which would silently turn the whole sum into decimal arithmetic.
    terms = " + ".join(
        f"COALESCE(LAG(risky, {-t}) OVER w * CAST({wt / norm!r} AS DOUBLE), CAST(0.0 AS DOUBLE))"
        for t, wt in zip(offsets, raw)
    )
    return f"""
    SELECT user_id, event_id, ROUND({terms}, 6) AS risky_ewma
    FROM (
      SELECT user_id, event_id, ts,
             CASE WHEN value > 100 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS risky
      FROM events
    )
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """


@register(
    "w4_ewma",
    oracle=_ewma_oracle(),
    description="Exponentially-weighted moving average via stacked lag windows "
    "(W4, weather.py:228-244; ordered by (ts, event_id) per §7.4)",
)
def w4_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    risky = events.withColumn(
        "risky", F.when(F.col("value") > 100, 1.0).otherwise(0.0)
    )
    ewma = exp_weighted_moving_average(
        "risky",
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        window_size=_EWMA_WINDOW,
        rate=_EWMA_RATE,
    )
    return risky.select("user_id", "event_id", F.round(ewma, 6).alias("risky_ewma"))


@register(
    "a19_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type AS src,
        LEAD(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS dst
      FROM events
    )
    SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n,
      ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (PARTITION BY src), 6)
        AS prob
    FROM seq WHERE dst IS NOT NULL
    GROUP BY src, dst ORDER BY src, dst
    """,
    description="MARKOV transition matrix over per-user event sequences "
    "(A-surface, product-analytics family next to cohort/funnel): one "
    "lead() window per user (ts, event_id total order), one "
    "groupBy(src, dst) count, transition probabilities via a "
    "25-row window over the aggregate — the sequence-mining primitive "
    "for next-event prediction. One sort shuffle on user_id, one "
    "aggregate shuffle; nothing touches raw rows twice.",
)
def a19_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    agg = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    wsrc = Window.partitionBy("src")
    return (
        agg.withColumn(
            "prob", F.round(F.col("n") / F.sum("n").over(wsrc), 6)
        )
        .select("src", "dst", F.col("n").cast("long"), "prob")
        .orderBy("src", "dst")
    )


@register(
    "a20_attribution_last_touch",
    oracle="""
    WITH touched AS (
      SELECT event_type, value,
        LAST_VALUE(CASE WHEN event_type IN ('click','view')
                        THEN event_type END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
      FROM events
    )
    SELECT COALESCE(channel, 'none') AS channel,
      CAST(COUNT(*) AS BIGINT) AS n_purchases,
      CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
        AS value_sum
    FROM touched WHERE event_type = 'purchase'
    GROUP BY 1 ORDER BY 1
    """,
    description="LAST-TOUCH ATTRIBUTION (A-surface, product-analytics "
    "family): every purchase is attributed to the user's most recent "
    "PRIOR click/view — an IGNORE-NULLS last_value window over the "
    "(ts, event_id) order with an unbounded-to-1-preceding frame (the "
    "same carry primitive as w8's LVCF gap-fill, aimed at marketing "
    "attribution), then one decimal-exact aggregate per channel; "
    "purchases with no prior touch land in 'none'. One sort shuffle "
    "per user partition, one aggregate — never a self-join of "
    "purchases against touches (the naive theta-join form is "
    "quadratic in session length).",
)
def a20_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type").isin("click", "view"), F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.withColumn("channel", touch)
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("channel", F.lit("none")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("value_sum"),
        )
        .orderBy("channel")
    )


@register(
    "w9_distribution_ranks",
    oracle="""
    WITH ranked AS (
      SELECT o_orderkey, o_orderpriority,
        ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
        ROUND(CUME_DIST() OVER w, 6) AS cume,
        CAST(NTILE(4) OVER w AS INT) AS quartile
      FROM orders
      WINDOW w AS (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice, o_orderkey)
    )
    SELECT o_orderkey, o_orderpriority, pct_rank, cume, quartile
    FROM ranked WHERE o_orderkey % 50 = 0 ORDER BY o_orderkey
    """,
    description="Distribution-rank window family (W-surface completeness: "
    "percent_rank + cume_dist + ntile in ONE window pass sharing one "
    "sort — the remaining rank functions next to w1/w2's rank/"
    "row_number and the deciles' lone ntile): per-priority price "
    "distribution position for every order, then a modulo sample of "
    "the output (ranks computed over the FULL partition, filtered "
    "after — filtering first would change every rank). The (price, "
    "orderkey) total order makes ntile's bucket boundaries and tie "
    "placement deterministic cross-engine.",
)
def w9_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select(
            "o_orderkey",
            "o_orderpriority",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .filter(F.col("o_orderkey") % 50 == 0)
        .orderBy("o_orderkey")
    )


@register(
    "a23_time_weighted_avg",
    oracle="""
    WITH seq AS (
      SELECT user_id, value, ts,
        LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    seg AS (
      SELECT user_id,
        CAST(value AS DECIMAL(18,6))
          * CAST(date_diff('second', ts, nxt) AS DECIMAL(18,0)) AS wv,
        date_diff('second', ts, nxt) AS dt
      FROM seq WHERE nxt IS NOT NULL
    )
    SELECT user_id,
      CAST(SUM(dt) AS BIGINT) AS span_s,
      ROUND(CAST(SUM(wv) AS DOUBLE) / SUM(dt), 6) AS twa
    FROM seg GROUP BY user_id HAVING SUM(dt) > 0
    """,
    description="TIME-WEIGHTED average per key (A-surface, time-series "
    "family with the LVCF gap-fill and as-of joins — the TimescaleDB-"
    "class rollup for irregular samples, where a plain AVG over-weights "
    "bursts): each observation holds its value until the next one "
    "(lead(ts) segment duration), TWA = sum(value x dt) / sum(dt). One "
    "user-keyed sort window + one aggregate — both share the user_id "
    "partitioning, so the second shuffle is free at scale. Products "
    "accumulate in DECIMAL (exact, order-independent) so the sum is "
    "partition-layout-stable and engine-exact; the final division is "
    "one correctly-rounded double op.",
)
def a23_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "value",
        "ts",
        F.lead("ts").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    dt = (F.unix_timestamp("nxt") - F.unix_timestamp("ts")).alias("dt")
    seg = seq.select(
        "user_id",
        (F.col("value").cast("decimal(18,6)") * dt.cast("decimal(18,0)")).alias("wv"),
        dt,
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.sum("dt").cast("long").alias("span_s"),
            F.sum("wv").alias("__wv"),
        )
        .filter(F.col("span_s") > 0)
        .select(
            "user_id",
            "span_s",
            F.round(F.col("__wv").cast("double") / F.col("span_s"), 6).alias("twa"),
        )
    )


@register(
    "a24_ohlc_bars",
    oracle="""
    WITH r AS (
      SELECT event_type, date_trunc('hour', ts) AS bar, value, ts, event_id,
        ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                           ORDER BY ts, event_id) AS rn_open,
        ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                           ORDER BY ts DESC, event_id DESC) AS rn_close
      FROM events
    )
    SELECT event_type, bar,
      CAST(COUNT(*) AS BIGINT) AS n,
      MAX(CASE WHEN rn_open = 1 THEN value END) AS open,
      MAX(value) AS high, MIN(value) AS low,
      MAX(CASE WHEN rn_close = 1 THEN value END) AS close
    FROM r GROUP BY event_type, bar
    """,
    description="OHLC bar resampling (A-surface, time-series family): "
    "open/high/low/close of value per (event_type, hour) — the "
    "canonical downsampling shape for market/sensor data. ONE hash "
    "aggregate, no window sort: open/close are min/max over "
    "(ts, event_id, value) STRUCTS (lexicographic struct ordering "
    "encodes the total order; the tie-break makes first/last exact "
    "under any partitioning — Spark's first()/last() aggregate would "
    "be partition-order-dependent and min_by/max_by carry no "
    "tie-break), high/low are plain min/max. Map-side combinable, one "
    "shuffle of 8-byte-key groups at any scale. The oracle replays "
    "open/close with two rank windows.",
)
def a24_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    g = ev.select(
        "event_type",
        F.date_trunc("hour", "ts").alias("bar"),
        "ts",
        "event_id",
        "value",
    )
    return g.groupBy("event_type", "bar").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min(F.struct("ts", "event_id", "value"))["value"].alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.struct("ts", "event_id", "value"))["value"].alias("close"),
    )


@register(
    "a25_session_dynamic_gap",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id, value,
        CASE WHEN event_type = 'error' THEN INTERVAL 6 HOUR
             ELSE INTERVAL 24 HOUR END AS gap
      FROM events
    ),
    o AS (
      SELECT user_id, ts, value,
        MAX(ts + gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          AS prev_maxext
      FROM g
    ),
    f AS (
      SELECT user_id, ts, value,
        CASE WHEN prev_maxext IS NULL OR ts >= prev_maxext THEN 1 ELSE 0 END
          AS new_s
      FROM o
    ),
    s AS (
      SELECT user_id, ts, value,
        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS sid
      FROM f
    )
    SELECT user_id, MIN(ts) AS session_start,
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
        AS value_sum
    FROM s GROUP BY user_id, sid
    """,
    description="DYNAMIC-gap sessionization (A-surface, the batch form of "
    "§2.12's session windows): session_window(ts, CASE ...) with a PER-"
    "EVENT gap — error events hold a session open 6 h, everything else "
    "24 h — the real-world policy (checkout flows time out faster than "
    "browsing) that a fixed-gap sessionizer cannot express. Spark's "
    "session merge is window-overlap ([ts, ts+gap) intervals, "
    "exclusive end); the oracle derives identical sessions by island "
    "detection — cumulative MAX of extents, a new session exactly when "
    "ts >= every preceding extent — proving the merge semantics, "
    "including the ts == end boundary (new session) and out-of-order "
    "extents (a long-gap event swallowing later short-gap ones). One "
    "user-keyed shuffle; the aggregate is decimal-exact.",
)
def a25_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    gap = (
        F.when(F.col("event_type") == "error", F.lit("6 hours"))
        .otherwise(F.lit("24 hours"))
    )
    return (
        ev.groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("value_sum"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n",
            "value_sum",
        )
    )


@register(
    "a28_seasonal_anomaly",
    oracle="""
    WITH enriched AS (
      SELECT event_id, value,
        AVG(value) OVER (PARTITION BY dayofweek(ts) + 1, hour(ts)) AS baseline
      FROM events
    )
    SELECT event_id, ROUND(value, 6) AS value, ROUND(baseline, 6) AS baseline,
      ROUND(value - baseline, 6) AS residual
    FROM enriched
    ORDER BY ROUND(abs(value - baseline), 6) DESC, event_id
    LIMIT 50
    """,
    description="Seasonal-baseline anomaly detection (A-surface time-"
    "series family): per-(day-of-week, hour) mean value as the seasonal "
    "baseline, top-50 events by absolute residual. The baseline is a "
    "168-row aggregate BROADCAST back onto the stream (explicit "
    "broadcast join — never a window sort over the raw events, which "
    "would shuffle the full table into 168 skewed partitions at scale); "
    "the only full-data ordering is the bounded top-k. Oracle uses the "
    "equivalent partition-window AVG; DuckDB dayofweek is offset +1 to "
    "Spark's Sunday=1 convention.",
)
def a28_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    keyed = ev.select(
        "event_id",
        "value",
        F.dayofweek("ts").alias("dow"),
        F.hour("ts").alias("hr"),
    )
    baseline = keyed.groupBy("dow", "hr").agg(F.avg("value").alias("baseline"))
    resid = F.col("value") - F.col("baseline")
    return (
        keyed.join(F.broadcast(baseline), ["dow", "hr"])
        .select(
            "event_id",
            F.round("value", 6).alias("value"),
            F.round("baseline", 6).alias("baseline"),
            F.round(resid, 6).alias("residual"),
        )
        .orderBy(F.round(F.abs(F.col("residual")), 6).desc(), "event_id")
        .limit(50)
    )


@register(
    "a29_robust_zscore",
    oracle="""
    WITH med AS (
      SELECT user_id, median(value) AS med
      FROM events GROUP BY user_id
    ),
    dev AS (
      SELECT e.event_id, e.user_id, e.value, m.med,
             abs(e.value - m.med) AS adev
      FROM events e JOIN med m USING (user_id)
    ),
    mad AS (
      SELECT user_id, median(adev) AS mad FROM dev GROUP BY user_id
    )
    SELECT d.event_id, d.user_id, ROUND(d.value, 6) AS value,
      ROUND(0.6745 * (d.value - d.med) / m.mad, 6) AS robust_z
    FROM dev d JOIN mad m USING (user_id)
    WHERE m.mad > 0
    ORDER BY ROUND(abs(0.6745 * (d.value - d.med) / m.mad), 6) DESC, d.event_id
    LIMIT 50
    """,
    description="Robust z-score outliers (A-surface statistics family): "
    "per-user median + MAD (median absolute deviation), consistency "
    "constant 0.6745, top-50 by |z| — the heavy-tail-safe twin of the "
    "mean/stddev z-score. Two exact-percentile aggregates (Spark "
    "percentile() is the exact interpolating form, matching DuckDB "
    "median) with the per-user median/MAD tables BROADCAST back — "
    "per-user cardinality, not event cardinality, so the joins are "
    "dimension-sized at any scale; MAD=0 users excluded on both sides.",
)
def a29_robust_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select("event_id", "user_id", "value")
    med = ev.groupBy("user_id").agg(F.expr("percentile(value, 0.5)").alias("med"))
    dev = ev.join(F.broadcast(med), "user_id").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("user_id").agg(F.expr("percentile(adev, 0.5)").alias("mad"))
    z = F.lit(0.6745) * (F.col("value") - F.col("med")) / F.col("mad")
    return (
        dev.join(F.broadcast(mad), "user_id")
        .filter(F.col("mad") > 0)
        .select(
            "event_id",
            "user_id",
            F.round("value", 6).alias("value"),
            F.round(z, 6).alias("robust_z"),
        )
        .orderBy(F.round(F.abs(z), 6).desc(), "event_id")
        .limit(50)
    )


@register(
    "a31_sequence_pattern",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
        LEAD(event_type, 1) OVER w AS e1,
        LEAD(event_type, 2) OVER w AS e2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_seq
    FROM seq
    WHERE event_type = 'view' AND e1 = 'click' AND e2 = 'purchase'
    GROUP BY user_id
    ORDER BY user_id
    """,
    description="Consecutive-sequence pattern matching (W/A-surface, the "
    "MATCH_RECOGNIZE-lite adjacency complement to a12_funnel_steps' "
    "min-timestamp ordering): per user, count strictly ADJACENT "
    "view->click->purchase runs in the (ts, event_id)-ordered stream "
    "via two stacked lead() windows — one shuffle on user_id shared by "
    "both leads and the final count. The funnel asks 'did the stages "
    "ever happen in order'; this asks 'how often did they happen "
    "back-to-back', which only adjacency windows express.",
)
def a31_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("e1"),
        F.lead("event_type", 2).over(w).alias("e2"),
    )
    return (
        seq.filter(
            (F.col("event_type") == "view")
            & (F.col("e1") == "click")
            & (F.col("e2") == "purchase")
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_seq"))
        .orderBy("user_id")
    )


@register(
    "a30_autocorr",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS DOUBLE) AS cnt
      FROM events GROUP BY 1
    ),
    lagged AS (
      SELECT cnt,
        LAG(cnt, 1) OVER w AS l1,
        LAG(cnt, 2) OVER w AS l2,
        LAG(cnt, 3) OVER w AS l3
      FROM hourly WINDOW w AS (ORDER BY h)
    )
    SELECT lag, ROUND(acf, 6) AS acf FROM (
      SELECT 1 AS lag, corr(cnt, l1) AS acf FROM lagged
      UNION ALL SELECT 2, corr(cnt, l2) FROM lagged
      UNION ALL SELECT 3, corr(cnt, l3) FROM lagged
    ) ORDER BY lag
    """,
    description="Autocorrelation function of the hourly event-count "
    "series at lags 1-3 (A-surface time-series family, beside TWA/OHLC/"
    "seasonal baseline): one map-side-combined hourly aggregate "
    "REDUCES the data to one row per hour — the global-order lag "
    "window then runs over that bounded series (720 rows for a month, "
    "8.8k for a year, regardless of event volume), which is why the "
    "single-partition window is safe here and only here. Pearson r "
    "per lag via the built-in corr aggregate (null lag pairs at the "
    "series head are skipped identically by both engines).",
)
def a30_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).cast("double").alias("cnt")
    )
    w = Window.orderBy("h")
    lagged = hourly.select(
        "cnt",
        F.lag("cnt", 1).over(w).alias("l1"),
        F.lag("cnt", 2).over(w).alias("l2"),
        F.lag("cnt", 3).over(w).alias("l3"),
    )
    # NOT the corr aggregate: Spark 4's ANSI `corr` THROWS
    # DIVIDE_BY_ZERO on a zero-variance series where DuckDB's returns
    # NULL (found by the r14 events-table fuzz: identical hourly
    # counts). Same Pearson estimator composed from the pairwise
    # co-moments with try_divide, which yields NULL exactly where
    # DuckDB does — zero variance, and n<2 pairs (stddev_samp NULL).
    # The x-side moments must use only pairwise-COMPLETE rows (corr's
    # pairwise deletion), hence the when(lk notnull, cnt) columns.
    def acf(lk: str):
        x = F.when(F.col(lk).isNotNull(), F.col("cnt"))
        return F.try_divide(
            F.covar_samp(x, F.col(lk)),
            F.stddev_samp(x) * F.stddev_samp(F.col(lk)),
        )

    acfs = lagged.agg(
        acf("l1").alias("a1"),
        acf("l2").alias("a2"),
        acf("l3").alias("a3"),
    )
    return (
        acfs.select(
            F.explode(
                F.array(
                    F.struct(F.lit(1).alias("lag"), F.round("a1", 6).alias("acf")),
                    F.struct(F.lit(2).alias("lag"), F.round("a2", 6).alias("acf")),
                    F.struct(F.lit(3).alias("lag"), F.round("a3", 6).alias("acf")),
                )
            ).alias("r")
        )
        .select("r.lag", "r.acf")
        .orderBy("lag")
    )


@register(
    "w10_rolling_median",
    oracle="""
    SELECT event_id,
      ROUND(median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6)
        AS rolling_med
    FROM events ORDER BY event_id
    """,
    description="Bounded-frame rolling MEDIAN (W-surface, the order-"
    "statistic frame the built-in window aggregates lack): per user, "
    "median of the last 5 values in (ts, event_id) order. Spark has no "
    "median window function — the frame is materialized as a "
    "collect_list over the 5-row bounded frame, array_sorted in-row, "
    "and interpolated exactly like DuckDB's median (odd -> middle, "
    "even -> mean of the two middles). The frame bound is the safety "
    "contract: state per row is O(frame), never O(partition), so the "
    "plan holds at any scale on the same single user-keyed shuffle as "
    "every other per-user window.",
)
def w10_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    mid_hi = (n / 2 + 1).cast("int")  # 1-based upper middle
    mid_lo = (n / 2).cast("int")
    # n == 0 branch FIRST: collect_list skips NULLs, so a frame whose
    # every value is NULL yields an empty array — without the guard the
    # even-length branch evaluates element_at(arr, 0), a runtime error
    # under ANSI (found by the r14 events-table fuzz; DuckDB's median
    # returns NULL on an all-NULL set, so the mirrors now agree).
    med = (
        F.when(n == 0, F.lit(None).cast("double"))
        .when(n % 2 == 1, F.element_at(arr, ((n + 1) / 2).cast("int")))
        .otherwise((F.element_at(arr, mid_lo) + F.element_at(arr, mid_hi)) / 2)
    )
    return ev.select(
        "event_id", F.round(med, 6).alias("rolling_med")
    ).orderBy("event_id")


_SEQ_PATTERN = "vc*p"  # view, any clicks, purchase — greedy, both engines


@register(
    "w11_regex_sequence",
    oracle=f"""
    WITH seqs AS (
      SELECT user_id,
        string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id
    )
    SELECT user_id, CAST(len(seq) AS BIGINT) AS seq_len,
      CAST(len(regexp_extract_all(seq, '{_SEQ_PATTERN}')) AS BIGINT) AS n_matches
    FROM seqs ORDER BY user_id
    """,
    description="Regex sequence mining (W/A-surface, the MATCH_RECOGNIZE "
    "quantifier complement to a31's strict adjacency): each user's "
    "event-type initials concatenated in (ts, event_id) order into one "
    "string, then non-overlapping 'vc*p' matches counted — view, any "
    "number of clicks, purchase, with the Kleene star a31's fixed-lag "
    "leads cannot express. One user-keyed aggregate builds the ordered "
    "string (array_sort over (ts, event_id, initial) structs — "
    "deterministic total order, no window sort); the regex runs per "
    "user string, JVM-side. Both engines' regex dialects agree on this "
    "backreference-free pattern. Per-user strings are bounded by "
    "per-user activity, not corpus size.",
)
def w11_regex_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    rows = ev.select(
        "user_id",
        F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("c")).alias(
            "r"
        ),
    )
    seq = F.concat_ws(
        "", F.transform(F.array_sort(F.collect_list("r")), lambda x: x["c"])
    )
    return (
        rows.groupBy("user_id")
        .agg(seq.alias("seq"))
        .select(
            "user_id",
            F.length("seq").cast("long").alias("seq_len"),
            F.size(F.regexp_extract_all("seq", F.lit(_SEQ_PATTERN), 0)).cast("long")
            .alias("n_matches"),
        )
        .orderBy("user_id")
    )


@register(
    "a34_funnel_timing",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_completed,
      CAST(SUM(epoch_us(t2) - epoch_us(t1)) AS BIGINT) AS view_to_click_us,
      CAST(SUM(epoch_us(t3) - epoch_us(t2)) AS BIGINT) AS click_to_purchase_us
    FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id)
    """,
    description="Funnel TIME-TO-CONVERT (A-surface, the duration "
    "complement to a12's stage counts): first view, first click after "
    "it, first purchase after that — three chained min-ts aggregates, "
    "each a user-keyed groupBy broadcast back onto the next stage's "
    "filter, all sharing one user_id partitioning. Total stage "
    "durations in exact integer microseconds (no float time math), "
    "summed only over users completing the whole funnel. The chained-"
    "min formulation never materializes per-user event lists and "
    "never window-sorts the raw stream.",
)
def a34_funnel_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(F.broadcast(s1), "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(s2), "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    from accident_prediction_montreal_spark.sources.registry import epoch_us

    # event time is TIMESTAMP_NTZ engine-wide; epoch_us is the
    # NTZ-safe micros accessor (unix_micros rejects NTZ)
    us = lambda c: epoch_us(F.col(c), "timestamp_ntz")  # noqa: E731
    return (
        s1.join(s2, "user_id")
        .join(s3, "user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_completed"),
            F.sum(us("t2") - us("t1")).cast("long").alias("view_to_click_us"),
            F.sum(us("t3") - us("t2")).cast("long").alias("click_to_purchase_us"),
        )
    )


@register(
    "a36_cusum_changepoint",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS DOUBLE) AS cnt
      FROM events GROUP BY 1
    ),
    mu AS (SELECT AVG(cnt) AS mu FROM hourly),
    cusum AS (
      SELECT h, SUM(cnt - mu) OVER (ORDER BY h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM hourly CROSS JOIN mu
    )
    SELECT h AS peak_hour, ROUND(s, 6) AS peak_s,
      CAST((SELECT COUNT(*) FROM hourly) AS BIGINT) AS n_hours
    FROM cusum ORDER BY ROUND(abs(s), 6) DESC, h LIMIT 1
    """,
    description="CUSUM changepoint detection (A-surface time-series "
    "family, beside autocorrelation/seasonal anomalies): cumulative "
    "sum of hourly-count deviations from the global mean, peak |S_t| "
    "locates the level shift. Same reduce-then-window shape as "
    "a30_autocorr — the aggregate collapses the data to one row per "
    "hour BEFORE the global-order cumulative window, so the single-"
    "partition stage is bounded by the time span, never the data "
    "volume; the mean is a 1-row broadcast. Rounded-|S| ordering with "
    "an hour tie-break pins the argmax deterministically.",
)
def a36_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).cast("double").alias("cnt")
    )
    from pyspark.sql import Window as W

    # mu and n_hours as UNBOUNDED windows over the same 720-row series
    # the cumulative window already sorts: separate 1-row aggregates
    # would make `hourly` a 3-consumer frame and replay the scan +
    # aggregate per branch (measured 3 hash exchanges); this form has
    # exactly one.
    whole = W.partitionBy()
    w = W.orderBy("h").rowsBetween(W.unboundedPreceding, W.currentRow)
    cusum = hourly.select(
        "h",
        F.sum(F.col("cnt") - F.avg("cnt").over(whole)).over(w).alias("s"),
        F.count(F.lit(1)).over(whole).cast("long").alias("n_hours"),
    )
    return (
        cusum.select(
            F.col("h").alias("peak_hour"),
            F.round("s", 6).alias("peak_s"),
            "n_hours",
        )
        .orderBy(F.round(F.abs(F.col("peak_s")), 6).desc(), "peak_hour")
        .limit(1)
    )


@register(
    "j9_asof_nearest",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click'
      QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
    ),
    errors AS (
      SELECT event_id, ts, user_id FROM events WHERE event_type = 'error'
    ),
    bwd AS (
      SELECT e.event_id, c.event_id AS cid, c.value AS cval, c.ts AS cts
      FROM errors e
      ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.ts >= c.ts
    ),
    fwd AS (
      SELECT e.event_id, c.event_id AS cid, c.value AS cval, c.ts AS cts
      FROM errors e
      ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.ts <= c.ts
    )
    SELECT e.user_id, e.event_id,
      CASE WHEN b.cts IS NOT NULL AND (f.cts IS NULL
             OR (epoch_us(e.ts) - epoch_us(b.cts))
                <= (epoch_us(f.cts) - epoch_us(e.ts)))
           THEN b.cid ELSE f.cid END AS nearest_click_event_id,
      ROUND(CASE WHEN b.cts IS NOT NULL AND (f.cts IS NULL
             OR (epoch_us(e.ts) - epoch_us(b.cts))
                <= (epoch_us(f.cts) - epoch_us(e.ts)))
           THEN b.cval ELSE f.cval END, 6) AS nearest_click_value,
      CASE WHEN b.cts IS NOT NULL AND (f.cts IS NULL
             OR (epoch_us(e.ts) - epoch_us(b.cts))
                <= (epoch_us(f.cts) - epoch_us(e.ts)))
           THEN epoch_us(e.ts) - epoch_us(b.cts)
           ELSE epoch_us(f.cts) - epoch_us(e.ts) END AS gap_us
    FROM errors e
    LEFT JOIN bwd b USING (event_id)
    LEFT JOIN fwd f USING (event_id)
    """,
    description="NEAREST as-of join (pandas merge_asof direction='nearest' "
    "semantics, completing J9's backward/forward/tolerance family): for "
    "each error, the click minimizing |gap| per user, ties to the "
    "backward side. One shuffle: both carries (last-non-null backward, "
    "first-non-null forward) run over the SAME (ts, side, tie) sort and "
    "the per-row chooser compares microsecond gaps "
    "(operators/asof.py, direction='nearest'). Oracle composes DuckDB's "
    "two native ASOF directions with the identical tie rule.",
)
def j9_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.asof import asof_join
    from accident_prediction_montreal_spark.sources.registry import epoch_us

    ev = load_table(spark, "events", sf_dir)
    clicks = _click_events(ev)
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "ts", "user_id"
    )
    out = asof_join(
        errors, clicks, by=["user_id"], value_cols=["event_id", "value"],
        direction="nearest",
    )
    dt = dict(out.dtypes)
    gap = F.abs(
        epoch_us(F.col("ts"), dt["ts"]) - epoch_us(F.col("ts_right"), dt["ts_right"])
    )
    return out.select(
        "user_id",
        "event_id",
        F.col("event_id_right").alias("nearest_click_event_id"),
        F.round("value_right", 6).alias("nearest_click_value"),
        gap.cast("long").alias("gap_us"),
    )
