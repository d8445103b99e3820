"""Privacy family (SURVEY.md §2.14) as queries: the auditing and
anonymization surface a training-data platform needs before shipping a
corpus — k-anonymity and l-diversity audits over quasi-identifier
groups, a generalization ladder that prices coarsening against
re-identification risk, and seeded differentially-private counts whose
Laplace noise is replayed EXACTLY by the oracle (the engine-portable
LCG from operators/mixing.py). Complements text_pii_scrub (content
redaction) with release-level guarantees.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from accident_prediction_montreal_spark import cachereg
from accident_prediction_montreal_spark.operators.mixing import (
    lcg_uniform,
    lcg_uniform_sql,
)
from accident_prediction_montreal_spark.operators.text import (
    EMAIL_PATTERN,
    PHONE_PATTERN,
)
from accident_prediction_montreal_spark.plans.registry import register
from accident_prediction_montreal_spark.sources.registry import load_table


_K = 5

# Quasi-identifier projection shared by the audits: coarse enough to
# form real groups, fine enough that some groups violate k=5.
_QI_SQL = "event_type, dayofweek(ts) + 1 AS dow, CAST(floor(value / 100.0) AS INT) AS vband"


def _qi_cols():
    return [
        F.col("event_type"),
        F.dayofweek("ts").alias("dow"),
        F.floor(F.col("value") / 100.0).cast("int").alias("vband"),
    ]


@register(
    "p13_k_anonymity",
    oracle=f"""
    WITH qi AS (
      SELECT {_QI_SQL}, user_id FROM events
    ),
    grp AS (
      SELECT event_type, dow, vband, CAST(COUNT(*) AS BIGINT) AS sz
      FROM qi GROUP BY event_type, dow, vband
    )
    SELECT CAST({_K} AS BIGINT) AS k,
      CAST(COUNT(*) AS BIGINT) AS n_groups,
      CAST(MIN(sz) AS BIGINT) AS min_group_size,
      CAST(SUM(CASE WHEN sz < {_K} THEN sz ELSE 0 END) AS BIGINT) AS n_rows_unsafe,
      ROUND(SUM(CASE WHEN sz < {_K} THEN sz ELSE 0 END)
            / CAST(SUM(sz) AS DOUBLE), 6) AS pct_unsafe
    FROM grp
    """,
    description="k-ANONYMITY audit (privacy family, with text_pii_scrub): "
    "group the release candidate by its quasi-identifier projection "
    "(event_type, day-of-week, value band) and report the minimum group "
    "size plus the row mass re-identifiable under k=5 — the standard "
    "release gate. ONE map-side-combinable groupBy on the QI key "
    "followed by a constant-size summary aggregate; no row ever leaves "
    "the cluster, so the audit itself is release-safe. At 100 TB the "
    "QI-group table is the only shuffle and it is bounded by the QI "
    "domain, not the data.",
)
def p13_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    grp = ev.select(*_qi_cols()).groupBy("event_type", "dow", "vband").agg(
        F.count(F.lit(1)).alias("sz")
    )
    unsafe = F.sum(F.when(F.col("sz") < _K, F.col("sz")).otherwise(0))
    return grp.agg(
        F.lit(_K).cast("long").alias("k"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("sz").cast("long").alias("min_group_size"),
        unsafe.cast("long").alias("n_rows_unsafe"),
        F.round(unsafe / F.sum("sz").cast("double"), 6).alias("pct_unsafe"),
    )


@register(
    "p16_l_diversity",
    oracle=f"""
    WITH qi AS (
      SELECT {_QI_SQL}, user_id FROM events
    ),
    grp AS (
      SELECT event_type, dow, vband,
        CAST(COUNT(*) AS BIGINT) AS sz,
        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS l
      FROM qi GROUP BY event_type, dow, vband
    )
    SELECT CAST(MIN(l) AS BIGINT) AS min_l,
      CAST(COUNT(*) AS BIGINT) AS n_groups,
      CAST(SUM(CASE WHEN l < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_homogeneous,
      ROUND(SUM(CASE WHEN l < 2 THEN sz ELSE 0 END)
            / CAST(SUM(sz) AS DOUBLE), 6) AS pct_rows_homogeneous
    FROM grp
    """,
    description="l-DIVERSITY audit (privacy family): k-anonymity's "
    "complement — a QI group whose SENSITIVE attribute (here user_id) "
    "is homogeneous leaks even when the group is large. Per QI group, "
    "distinct sensitive values; summary reports the minimum l and the "
    "row mass in homogeneous (l<2) groups. The distinct count rides "
    "the same QI-keyed aggregate as the k-audit (two-level exact "
    "groupBy, map-side combined); constant-size output.",
)
def p16_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    grp = (
        ev.select(*_qi_cols(), F.col("user_id"))
        .groupBy("event_type", "dow", "vband")
        .agg(
            F.count(F.lit(1)).alias("sz"),
            F.countDistinct("user_id").alias("l"),
        )
    )
    return grp.agg(
        F.min("l").cast("long").alias("min_l"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum((F.col("l") < 2).cast("int")).cast("long").alias("n_groups_homogeneous"),
        F.round(
            F.sum(F.when(F.col("l") < 2, F.col("sz")).otherwise(0))
            / F.sum("sz").cast("double"),
            6,
        ).alias("pct_rows_homogeneous"),
    )


_DP_EPS = 1.0  # Laplace scale b = sensitivity / epsilon = 1 / 1.0


@register(
    "p14_dp_counts",
    oracle=f"""
    WITH cnt AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type
    ),
    seeded AS (
      SELECT event_type, n,
        ROW_NUMBER() OVER (ORDER BY event_type) AS gid
      FROM cnt
    ),
    noised AS (
      SELECT event_type,
        {lcg_uniform_sql("gid", salt=7)} AS u, n
      FROM seeded
    )
    SELECT event_type,
      ROUND(n + (-1.0 / {_DP_EPS}) * CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END
            * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noisy_count
    FROM noised ORDER BY event_type
    """,
    description="Seeded differentially-private counts (privacy family): "
    "per-group counts released with Laplace(1/epsilon) noise via "
    "inverse-transform sampling — noise = -(b)*sign(u-.5)*ln(1-2|u-.5|) "
    "over the engine-portable integer LCG (operators/mixing.py), seeded "
    "by the group's rank so the oracle replays the EXACT noise values "
    "(the determinism contract every seeded operator here carries; a "
    "production release would swap the LCG for a CSPRNG, the plan shape "
    "is identical). One aggregate + a window over the group table; the "
    "noise math never touches row-level data.",
)
def p14_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    cnt = ev.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n"))
    gid = F.row_number().over(Window.orderBy("event_type"))
    seeded = cnt.select("event_type", "n", gid.alias("gid"))
    u = lcg_uniform("gid", salt=7)
    noise = (
        F.lit(-1.0 / _DP_EPS)
        * F.when(u >= 0.5, 1.0).otherwise(-1.0)
        * F.log(1.0 - 2.0 * F.abs(u - 0.5))
    )
    return seeded.select(
        "event_type", F.round(F.col("n") + noise, 6).alias("noisy_count")
    ).orderBy("event_type")


_WIDTHS = [10, 50, 100]


@register(
    "p15_generalization_ladder",
    oracle=f"""
    WITH widths AS (SELECT UNNEST([{", ".join(str(w) for w in _WIDTHS)}]) AS width),
    grp AS (
      SELECT w.width, e.event_type,
        CAST(floor(e.value / w.width) AS INT) AS bucket,
        CAST(COUNT(*) AS BIGINT) AS sz
      FROM events e CROSS JOIN widths w
      GROUP BY w.width, e.event_type, bucket
    )
    SELECT width,
      CAST(COUNT(*) AS BIGINT) AS n_groups,
      CAST(MIN(sz) AS BIGINT) AS min_group_size,
      CAST(CASE WHEN MIN(sz) >= {_K} THEN 1 ELSE 0 END AS BIGINT) AS k_ok
    FROM grp GROUP BY width ORDER BY width
    """,
    description="GENERALIZATION ladder (privacy family): price three "
    "candidate value-band widths against the k=5 gate in ONE scan — "
    "each row explodes into its (width, bucket) assignments (bounded "
    "3x fan-out, a map-side explode, no second pass over the data), "
    "one QI-keyed aggregate per the exploded key, then a 3-row summary "
    "picking which widths satisfy k-anonymity. The classic Mondrian-"
    "style coarsening decision reduced to a declarative plan; at "
    "100 TB the ladder costs one pass regardless of how many widths "
    "are priced.",
)
def p15_generalization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    widths = F.array(*[F.lit(w) for w in _WIDTHS])
    exploded = ev.select(
        "event_type", "value", F.explode(widths).alias("width")
    ).select(
        "width",
        "event_type",
        F.floor(F.col("value") / F.col("width")).cast("int").alias("bucket"),
    )
    grp = exploded.groupBy("width", "event_type", "bucket").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return (
        grp.groupBy("width")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.min("sz").cast("long").alias("min_group_size"),
            (F.min("sz") >= _K).cast("long").alias("k_ok"),
        )
        .orderBy("width")
    )


@register(
    "privacy_release_pipeline",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id,
        text || ' contact user' || doc_id || '@example.com or +1 (514) 555-'
             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
      FROM documents
    ),
    scrub AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
        CAST(SUM(len(regexp_extract_all(t, '{EMAIL_PATTERN}'))) AS DOUBLE) AS n_emails,
        CAST(SUM(len(regexp_extract_all(
          regexp_replace(t, '{EMAIL_PATTERN}', '<EMAIL>', 'g'), '{PHONE_PATTERN}'))) AS DOUBLE)
          AS n_phones
      FROM planted
    ),
    widths AS (SELECT UNNEST([{", ".join(str(w) for w in _WIDTHS)}]) AS width),
    grp AS (
      SELECT w.width, e.event_type,
        CAST(floor(e.value / w.width) AS INT) AS bucket, COUNT(*) AS sz
      FROM events e CROSS JOIN widths w
      GROUP BY w.width, e.event_type, bucket
    ),
    ladder AS (SELECT width, MIN(sz) AS mg, COUNT(*) AS ng FROM grp GROUP BY width),
    chosen AS (
      SELECT COALESCE(MIN(CASE WHEN mg >= {_K} THEN width END), MAX(width)) AS cw
      FROM ladder
    ),
    chosen_stats AS (SELECT l.* FROM ladder l, chosen c WHERE l.width = c.cw),
    safe AS (
      SELECT g.event_type, SUM(g.sz) AS n
      FROM grp g, chosen c WHERE g.width = c.cw AND g.sz >= {_K}
      GROUP BY g.event_type
    ),
    seeded AS (
      SELECT event_type, n, ROW_NUMBER() OVER (ORDER BY event_type) AS gid
      FROM safe
    ),
    noised AS (
      SELECT event_type, n, {lcg_uniform_sql("gid", salt=11)} AS u FROM seeded
    ),
    released AS (
      SELECT 'scrub' AS stage, 'n_docs' AS metric, n_docs AS value FROM scrub
      UNION ALL SELECT 'scrub', 'n_emails_masked', n_emails FROM scrub
      UNION ALL SELECT 'scrub', 'n_phones_masked', n_phones FROM scrub
      UNION ALL SELECT 'generalize', 'chosen_width', CAST(width AS DOUBLE)
        FROM chosen_stats
      UNION ALL SELECT 'generalize', 'min_group_size', CAST(mg AS DOUBLE)
        FROM chosen_stats
      UNION ALL SELECT 'generalize', 'n_groups', CAST(ng AS DOUBLE)
        FROM chosen_stats
      UNION ALL SELECT 'dp', 'noisy_' || event_type,
        n + (-1.0 / {_DP_EPS}) * CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END
          * ln(1.0 - 2.0 * abs(u - 0.5))
        FROM noised
    )
    SELECT stage, metric, ROUND(value, 6) AS value FROM released
    ORDER BY stage, metric
    """,
    description="PRIVACY-RELEASE capstone (the wave-7 composition, "
    "sibling of the apm / llm_pretrain / st_pipeline / x12 capstones): "
    "content scrub -> generalization choice -> DP release as ONE lazy "
    "plan. Stage 1 masks planted emails+phones over the documents "
    "corpus (pure regexp chain); stage 2 prices the width ladder in "
    "one exploded scan and SELECTS the smallest width passing k=5 (a "
    "1-row aggregate broadcast, no driver round-trip); stage 3 "
    "suppresses under-k groups at the chosen width and releases "
    "per-type counts with seeded Laplace noise the oracle replays "
    "exactly. The QI group table is persisted once (cachereg) and "
    "feeds both the ladder and the suppression branch. Output is a "
    "uniform (stage, metric, value) audit trail; the oracle is the "
    "full CTE composition.",
)
def privacy_release_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.text import (
        EMAIL_PATTERN,
        PHONE_PATTERN,
    )

    docs = load_table(spark, "documents", sf_dir)
    ev = load_table(spark, "events", sf_dir)

    planted = docs.select(
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 (514) 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("t")
    )
    email_masked = F.regexp_replace("t", EMAIL_PATTERN, "<EMAIL>")
    scrub = planted.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum(F.regexp_count("t", F.lit(EMAIL_PATTERN)))
        .cast("double")
        .alias("n_emails"),
        F.sum(F.regexp_count(email_masked, F.lit(PHONE_PATTERN)))
        .cast("double")
        .alias("n_phones"),
    )

    def rows3(df, stage: str, metrics: list[tuple[str, str]]):
        return df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(stage).alias("stage"),
                            F.lit(m).alias("metric"),
                            F.col(c).cast("double").alias("value"),
                        )
                        for m, c in metrics
                    ]
                )
            ).alias("r")
        ).select("r.stage", "r.metric", "r.value")

    scrub_rows = rows3(
        scrub,
        "scrub",
        [("n_docs", "n_docs"), ("n_emails_masked", "n_emails"),
         ("n_phones_masked", "n_phones")],
    )

    widths = F.array(*[F.lit(w) for w in _WIDTHS])
    grp = cachereg.generation("plans.privacy.capstone").persist(
        ev.select("event_type", "value", F.explode(widths).alias("width"))
        .select(
            "width",
            "event_type",
            F.floor(F.col("value") / F.col("width")).cast("int").alias("bucket"),
        )
        .groupBy("width", "event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("sz"))
    )

    ladder = grp.groupBy("width").agg(
        F.min("sz").alias("mg"), F.count(F.lit(1)).alias("ng")
    )
    chosen1 = ladder.agg(
        F.coalesce(
            F.min(F.when(F.col("mg") >= _K, F.col("width"))), F.max("width")
        ).alias("cw")
    )
    chosen_stats = ladder.join(
        F.broadcast(chosen1), ladder["width"] == F.col("cw")
    )
    gen_rows = rows3(
        chosen_stats,
        "generalize",
        [("chosen_width", "width"), ("min_group_size", "mg"), ("n_groups", "ng")],
    )

    safe = (
        grp.join(F.broadcast(chosen1), grp["width"] == F.col("cw"))
        .filter(F.col("sz") >= _K)
        .groupBy("event_type")
        .agg(F.sum("sz").alias("n"))
    )
    gid = F.row_number().over(Window.orderBy("event_type"))
    seeded = safe.select("event_type", "n", gid.alias("gid"))
    u = lcg_uniform("gid", salt=11)
    noise = (
        F.lit(-1.0 / _DP_EPS)
        * F.when(u >= 0.5, 1.0).otherwise(-1.0)
        * F.log(1.0 - 2.0 * F.abs(u - 0.5))
    )
    dp_rows = seeded.select(
        F.lit("dp").alias("stage"),
        F.concat(F.lit("noisy_"), F.col("event_type")).alias("metric"),
        (F.col("n") + noise).alias("value"),
    )

    return (
        scrub_rows.unionByName(gen_rows)
        .unionByName(dp_rows)
        .select("stage", "metric", F.round("value", 6).alias("value"))
        .orderBy("stage", "metric")
    )
