"""Training-data curation family (SURVEY.md §2.14) as queries: the corpus-level
passes of an LLM data pipeline — decontamination, temperature mixing, source
quotas (batch and streaming), blocklists with public-suffix semantics, the
quality cascade, domain reweighting, epoch schedules, shard shuffles, URL
canonicalization, and the snapshot-delta set (corpus diff, index maintenance,
embedding refresh and the streaming change filter) built on plans/snapshot_fixture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from accident_prediction_montreal_spark import cachereg
from accident_prediction_montreal_spark.functions.url import (
    PSL_SNAPSHOT,
    registrable_domain_join,
    registrable_domain_sql,
)
from accident_prediction_montreal_spark.operators.checksum import (
    checksum_equal_fact,
)
from accident_prediction_montreal_spark.operators.mixing import (
    SALT_SAMPLE,
    lcg_uniform_sql,
)
from accident_prediction_montreal_spark.plans.registry import checks, register
from accident_prediction_montreal_spark.plans.snapshot_fixture import (
    SQL_SNAPSHOT_B,
    snapshot_b,
)
from accident_prediction_montreal_spark.plans.text import SQL_TOKENS
from accident_prediction_montreal_spark.sources.registry import load_table
from accident_prediction_montreal_spark.sources.scratch import session_dir
from accident_prediction_montreal_spark.streaming.finite import (
    drain,
    pin_arrival_order,
)


@register(
    "llm_decontaminate",
    oracle="""
    WITH toks AS (
      SELECT doc_id, CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
             ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
        UNNEST(list_distinct(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
      FROM toks WHERE len(w) >= 3
    ),
    capped AS (
      SELECT doc_id, s FROM sh
      QUALIFY COUNT(*) OVER (PARTITION BY s) <= 8
    )
    SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM capped t JOIN capped e ON t.s = e.s
    WHERE t.doc_id % 10 <> 0 AND e.doc_id % 10 = 0
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    """,
    description="Train/eval DECONTAMINATION (standard pretraining hygiene): "
    "flag train docs sharing >=2 distinct word-3-grams with an eval set "
    "(doc_id % 10 == 0 plays the benchmark). operators/decontam.py: "
    "postings-bucket inverted index over 64-bit shingle hashes, combined "
    "doc-frequency cap (8) drops non-discriminative frequent n-grams "
    "BEFORE any pair is formed (quadratic-skew guard); counts are "
    "hash-invariant, so the DuckDB oracle computes over string trigrams. "
    "The uncapped operator path broadcasts the (small) eval postings -- "
    "no shuffle of the 100-TB train side.",
)
def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.decontam import (
        contamination_pairs,
    )

    docs = load_table(spark, "documents", sf_dir)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    eval_df = docs.filter(F.col("doc_id") % 10 == 0)
    return contamination_pairs(
        train, eval_df, n=3, min_shared=2, max_doc_freq=8
    )


@register(
    "llm_temperature_mix",
    oracle=f"""
    WITH d AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
    ),
    t AS (SELECT CAST(SUM(n_docs) AS DOUBLE) AS total FROM d),
    w AS (
      SELECT source, n_docs, CAST(n_docs AS DOUBLE) / total AS p_share,
        CAST(ROUND(sqrt(CAST(n_docs AS DOUBLE) / total), 12) AS DECIMAL(20,12)) AS pw
      FROM d, t
    ),
    norm AS (
      SELECT source, n_docs, p_share,
        CAST(pw AS DOUBLE) / CAST(SUM(pw) OVER () AS DOUBLE) AS p_tau
      FROM w
    ),
    rates AS (
      SELECT source, n_docs, p_share, p_tau,
        LEAST(1.0, 0.5 * (SELECT total FROM t) * p_tau / n_docs) AS sample_rate
      FROM norm
    ),
    samp AS (
      SELECT doc.source, CAST(COUNT(*) AS BIGINT) AS n_sampled
      FROM documents doc JOIN rates r USING (source)
      WHERE {lcg_uniform_sql('doc.doc_id', SALT_SAMPLE)} < r.sample_rate
      GROUP BY doc.source
    )
    SELECT r.source, r.n_docs,
      ROUND(r.p_share, 6) + 0.0 AS p_share,
      ROUND(r.p_tau, 6) + 0.0 AS p_tau,
      ROUND(r.sample_rate, 6) + 0.0 AS sample_rate,
      COALESCE(s.n_sampled, 0) AS n_sampled
    FROM rates r LEFT JOIN samp s USING (source)
    """,
    description="Temperature-based corpus mixing (multi-domain pretraining "
    "recipe, p_d ~ share^0.5): per-domain shares, normalized temperature "
    "weights, Bernoulli keep-rates targeting half the corpus, and the "
    "REALIZED deterministic sample count. operators/mixing.py: stats are "
    "|domains| rows broadcast back over the corpus -- the 100-TB side is "
    "touched in one map pass, no shuffle; selection is an integer LCG on "
    "doc_id (reproducible, partition-independent), sqrt/DECIMAL-sum "
    "arithmetic keeps every boundary bit-identical across engines.",
)
def llm_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.mixing import (
        temperature_mix_rates,
        temperature_sample,
    )

    docs = load_table(spark, "documents", sf_dir)
    rates = temperature_mix_rates(docs, "source", temperature=0.5, target_frac=0.5)
    sampled = (
        temperature_sample(docs, "source", "doc_id", temperature=0.5, target_frac=0.5)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    return (
        rates.withColumnRenamed("domain", "source")
        .join(sampled, "source", "left")
        .select(
            "source",
            "n_docs",
            (F.round("p_share", 6) + 0.0).alias("p_share"),
            (F.round("p_tau", 6) + 0.0).alias("p_tau"),
            (F.round("sample_rate", 6) + 0.0).alias("sample_rate"),
            F.coalesce(F.col("n_sampled"), F.lit(0)).cast("long").alias("n_sampled"),
        )
    )


@register(
    "llm_epoch_schedule",
    oracle="""
    WITH d AS (
      SELECT source AS domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS units
      FROM documents GROUP BY source
    ),
    t AS (SELECT CAST(SUM(units) AS DOUBLE) AS total FROM d),
    w AS (
      SELECT domain, n_docs, units,
        CAST(ROUND(sqrt(CAST(units AS DOUBLE) / total), 12)
             AS DECIMAL(20,12)) AS pw
      FROM d, t
    ),
    n AS (
      SELECT domain, n_docs, units,
        CAST(pw AS DOUBLE) / CAST(SUM(pw) OVER () AS DOUBLE) AS p_tau
      FROM w
    ),
    s AS (
      SELECT domain, n_docs, units, p_tau,
        (1.5 * (SELECT total FROM t)) * p_tau AS target,
        LEAST(2.0, ((1.5 * (SELECT total FROM t)) * p_tau)
                   / CAST(units AS DOUBLE)) AS epochs
      FROM n
    )
    SELECT domain, n_docs, units,
      ROUND(p_tau, 6) + 0.0 AS p_tau,
      ROUND(epochs, 6) + 0.0 AS epochs,
      ROUND(epochs * CAST(units AS DOUBLE), 2) + 0.0 AS realized_units,
      ROUND(target - epochs * CAST(units AS DOUBLE), 2) + 0.0 AS deficit_units
    FROM s ORDER BY domain
    """,
    description="Per-domain epoch/repeat schedule for a 1.5x-corpus training "
    "budget (the UP-sampling complement to llm_temperature_mix, whose "
    "Bernoulli rates cap at 1 epoch): temperature-weighted target "
    "shares p_tau ~ share^0.5 over char units, epochs = min(2.0, "
    "budget*p_tau/units) — small domains hit the repetition cap and "
    "surface a deficit, large domains train under one epoch. The whole "
    "table is one map-side-combined groupBy producing |domains| rows; "
    "shares reuse the mixing module's DECIMAL-exact normalizer "
    "(operators/mixing.py::epoch_schedule), so every column is engine-"
    "reproducible to the rounded decimal.",
)
def llm_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.mixing import epoch_schedule

    docs = load_table(spark, "documents", sf_dir)
    out = epoch_schedule(
        docs, budget_frac=1.5, temperature=0.5, max_epochs=2.0
    )
    return out.select(
        "domain",
        "n_docs",
        "units",
        (F.round("p_tau", 6) + 0.0).alias("p_tau"),
        (F.round("epochs", 6) + 0.0).alias("epochs"),
        (F.round("realized_units", 2) + 0.0).alias("realized_units"),
        (F.round("deficit_units", 2) + 0.0).alias("deficit_units"),
    ).orderBy("domain")


def _source_quota_oracle() -> str:
    from accident_prediction_montreal_spark.operators.mixing import lcg_uniform_sql

    return f"""
    WITH ranked AS (
      SELECT source, doc_id, n_chars,
        ROW_NUMBER() OVER (
          PARTITION BY source
          ORDER BY {lcg_uniform_sql('doc_id', 7)}, doc_id
        ) AS rnk
      FROM documents
    )
    SELECT source,
      CAST(COUNT(*) AS BIGINT) AS n_total,
      CAST(SUM(CASE WHEN rnk <= 40 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      CAST(SUM(CASE WHEN rnk <= 40 THEN doc_id ELSE 0 END) AS BIGINT)
        AS kept_id_sum,
      CAST(SUM(CASE WHEN rnk <= 40 THEN n_chars ELSE 0 END) AS BIGINT)
        AS kept_chars
    FROM ranked GROUP BY source ORDER BY source
    """


@register(
    "llm_source_quota",
    oracle=_source_quota_oracle(),
    description="PER-SOURCE QUOTA CAP — the domain-rebalancing step every "
    "web-corpus curation pipeline runs (over-represented domains are "
    "down-sampled to a per-domain budget before mixing): each source "
    "keeps at most K=40 documents, chosen by a DETERMINISTIC seeded "
    "order (operators/mixing.lcg_uniform salt 7, doc_id tie-break) so "
    "the kept set is reproducible across runs, partition layouts and "
    "engines — never rand()/limit. Plan: one slim 4-column projection "
    "into a per-source rank window (ONE shuffle keyed by source) and a "
    "map-side-combined per-source aggregate over counts + kept-id/char "
    "checksums. SKEW LEVER (implemented): before the window shuffle, "
    "an Arrow per-partition combiner (mixing.local_topk_pretruncate) "
    "keeps each partition's local top-K per source — the global top-K "
    "is always a subset of the union of local top-Ks — so the window "
    "input is at most n_partitions × n_sources × K rows and a single "
    "dominant domain (the NORM in web corpora) never lands its entire "
    "row set on one reducer; per-source totals come from a separate "
    "map-side-combined count over the full projection (no window). "
    "The lever is GATED on input size (mixing.should_pretruncate: "
    "engage only past 1M rows AND a 4x projected shuffle reduction — "
    "decided from a parquet-footer count, no data scan) so bench-scale "
    "runs skip its fixed Arrow-worker cost while skew-scale runs keep "
    "the 625x exchange-row bound (BENCH_quota_skew). "
    "Property-tested pretruncated == plain-window on arbitrary corpora "
    "(test_properties.py); skew stress artifact BENCH_quota_skew. "
    "Oracle: the identical window from the shared lcg_uniform_sql "
    "generator, so the keep decision cannot drift between engines.",
)
def llm_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from accident_prediction_montreal_spark.operators.mixing import (
        lcg_uniform,
        local_topk_pretruncate,
        should_pretruncate,
    )

    K = 40
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "n_chars"
    )
    totals = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )
    # Seeded order materialized as a column so the pandas combiner and
    # the exact re-rank window sort the SAME values.
    ordered = docs.withColumn("__ord", lcg_uniform(F.col("doc_id"), salt=7))
    # Input-size gate (mixing.should_pretruncate): the lever's fixed
    # Arrow-worker cost only pays for itself once the window shuffle is
    # big enough to matter — docs.count() is a parquet FOOTER read (no
    # data scan), so the gate itself stays cheap at 100 TB. Both paths
    # produce the identical kept set (property-tested superset contract).
    if should_pretruncate(
        docs.count(), docs.rdd.getNumPartitions(), n_keys_hint=64, k=K
    ):
        pruned = local_topk_pretruncate(ordered, "source", ["__ord", "doc_id"], K)
    else:
        pruned = ordered
    w = Window.partitionBy("source").orderBy("__ord", "doc_id")
    kept_rows = pruned.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= K
    )
    kept = kept_rows.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("doc_id").cast("long").alias("kept_id_sum"),
        F.sum("n_chars").cast("long").alias("kept_chars"),
    )
    # Every source with >=1 doc keeps >=1 row (rank 1 <= K), so the
    # join is total on both sides.
    return totals.join(kept, "source").select(
        "source", "n_total", "n_kept", "kept_id_sum", "kept_chars"
    ).orderBy("source")


@register(
    "llm_corpus_diff",
    oracle=f"""
    WITH a AS (
      SELECT doc_id, md5(text) AS h FROM documents
    ),
    b AS (
      SELECT doc_id, md5(text) AS h FROM ({SQL_SNAPSHOT_B})
    ),
    d AS (
      SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        CASE
          WHEN a.doc_id IS NULL THEN 'added'
          WHEN b.doc_id IS NULL THEN 'removed'
          -- null-safe, mirroring Spark's eqNullSafe: md5(NULL) is NULL
          WHEN a.h IS DISTINCT FROM b.h THEN 'changed'
          ELSE 'unchanged'
        END AS status
      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM d GROUP BY status ORDER BY status
    """,
    description="CORPUS SNAPSHOT DIFF — the incremental-ingestion "
    "primitive: given two corpus versions, classify every document as "
    "added / removed / changed / unchanged by comparing CONTENT DIGESTS "
    "(md5 — byte-identical across engines), so downstream stages "
    "(dedup index maintenance, embedding refresh, decontamination "
    "re-screen) process only the delta instead of re-reading 100 TB. "
    "Plan shape: digests are computed MAP-SIDE on each snapshot scan — "
    "the full-outer join's shuffle carries (id, 32-byte digest), never "
    "document text — and the join key is the doc id, so snapshots "
    "bucketed/partitioned by id at rest co-locate and the join needs no "
    "re-shuffle at all (x11_bucketed_join is the at-rest layout twin). "
    "Fixture: version B plants modifications (every 41st doc's text "
    "revised), deletions (every 43rd dropped) and additions (every "
    "47th re-id'd at a collision-proof +2^40 shift — see "
    "plans/snapshot_fixture). Oracle: the identical digest compare in "
    "DuckDB.",
)
def llm_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.text import corpus_diff

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    b = snapshot_b(docs)
    return (
        corpus_diff(docs, b)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
        .orderBy("status")
    )


@register(
    "st_source_quota_stream",
    oracle="""
    SELECT 'st_quota_counts_match' AS chk, CAST(1 AS BIGINT) AS ok
    UNION ALL SELECT 'st_quota_no_dup', CAST(1 AS BIGINT)
    UNION ALL SELECT 'st_quota_subset', CAST(1 AS BIGINT)
    ORDER BY chk
    """,
    description="STREAMING per-source quota ADMISSION — llm_source_quota's "
    "arrival-shape twin: documents stream in (3 parquet shards, "
    "maxFilesPerTrigger=1 so micro-batches genuinely interleave) and a "
    "custom stateful operator (applyInPandasWithState, the F8/2.12 "
    "escape hatch) admits each source's first K=25 documents by "
    "arrival, rejecting the rest — per-domain budget enforcement at "
    "INGESTION time, before anything downstream pays for over-"
    "represented domains. State is ONE counter per source (O(|sources|) "
    "forever, no growth with stream length); within a micro-batch the "
    "admitted subset is the smallest-doc_id (K-n) rows of the WHOLE "
    "batch arrival via an incremental nsmallest across pandas chunks — "
    "deterministic given batch content (not merely chunk-local), "
    "bounded O(K) memory. The admitted SET "
    "depends on arrival order by design (admission control, not "
    "sampling — the batch twin llm_source_quota is the layout-"
    "independent form), so the contracts check the order-invariant "
    "guarantees: per-source admitted count == least(K, total) exactly, "
    "no admitted duplicate ids, every admitted (id, source) exists in "
    "the corpus.",
)
def st_source_quota_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    K = 25
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "n_chars"
    )
    base, _ = session_dir("stquota", sf_dir)
    fix_dir = os.path.join(base, "docs")
    docs.repartition(3).write.mode("overwrite").parquet(fix_dir)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(fix_dir)
    )

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
        ]
    )

    def admit(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (source,) = key
        n = state.get[0] if state.exists else 0
        # applyInPandasWithState may deliver one group's micro-batch as
        # SEVERAL pandas chunks; a chunk-local sort would make the
        # admitted subset depend on chunk boundaries. Instead keep a
        # running nsmallest(K-n) ACROSS chunks — bounded O(K) memory,
        # and the admitted set is exactly the (K-n) smallest doc_ids of
        # the whole micro-batch arrival: deterministic given batch
        # content, independent of chunk order/shape.
        room = K - n
        best = None
        for pdf in pdfs:
            if room <= 0:
                break
            pool = pdf if best is None else pd.concat([best, pdf])
            best = pool.nsmallest(room, "doc_id")
        if room > 0 and best is not None and len(best):
            n += len(best)
            yield pd.DataFrame({"doc_id": best["doc_id"], "source": source})
        state.update((n,))

    admitted = (
        stream.groupBy("source")
        .applyInPandasWithState(
            admit,
            outputStructType=out_schema,
            stateStructType="n LONG",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    got = cachereg.generation("plans.st_source_quota_stream").persist(
        drain(admitted, "append")
    )

    per_source = got.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_admitted")
    )
    want = docs.groupBy("source").agg(
        F.least(F.count(F.lit(1)), F.lit(K)).alias("n_want")
    )
    counts_bad = per_source.join(want, "source", "full_outer").filter(
        (F.col("n_admitted").isNull())
        | (F.col("n_want").isNull())
        | (F.col("n_admitted") != F.col("n_want"))
    )
    dups = got.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") > 1)
    strays = got.join(docs.select("doc_id", "source"), ["doc_id", "source"], "left_anti")
    row = (
        counts_bad.agg(F.count(F.lit(1)).alias("n_counts_bad"))
        .crossJoin(dups.agg(F.count(F.lit(1)).alias("n_dup")))
        .crossJoin(strays.agg(F.count(F.lit(1)).alias("n_stray")))
    )
    return checks(row, {
        "st_quota_counts_match": F.col("n_counts_bad") == 0,
        "st_quota_no_dup": F.col("n_dup") == 0,
        "st_quota_subset": F.col("n_stray") == 0,
    }).orderBy("chk")


_N_SHARDS = 16
_SHARD_SALT = 5


def _shuffle_shards_oracle() -> str:
    from accident_prediction_montreal_spark.operators.mixing import lcg_uniform_sql

    u = lcg_uniform_sql("doc_id", salt=_SHARD_SALT)
    return f"""
    WITH keyed AS (
      SELECT doc_id, n_chars, {u} AS u,
        CAST(LEAST(FLOOR({u} * {_N_SHARDS}), {_N_SHARDS - 1}) AS BIGINT)
          AS shard_id
      FROM documents
    ),
    pos AS (
      SELECT shard_id, doc_id, n_chars,
        ROW_NUMBER() OVER (PARTITION BY shard_id ORDER BY u, doc_id) AS p
      FROM keyed
    )
    SELECT shard_id,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(doc_id) AS BIGINT) AS id_sum,
      CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
      CAST(SUM(p * doc_id) AS BIGINT) AS perm_checksum
    FROM pos GROUP BY shard_id ORDER BY shard_id
    """


@register(
    "llm_shuffle_shards",
    oracle=_shuffle_shards_oracle(),
    description="TRAINING-SHUFFLE SHARD MATERIALIZATION — the global "
    "deterministic permutation every pretraining run consumes: each "
    "document draws a seeded LCG uniform (operators/mixing.lcg_uniform, "
    f"salt {_SHARD_SALT}), shard_id = floor(u * {_N_SHARDS}) assigns it "
    "to one of "
    f"{_N_SHARDS} shards WITHOUT a global sort (uniform u ==> balanced "
    "shards in expectation; the rank-free assignment is the 100-TB "
    "design — NTILE-style exact balance would demand a total order "
    "over the corpus), and the within-shard training order is "
    "(u, doc_id). Output pins the BYTE ORDER, not just membership: "
    "per-shard counts/id/char sums plus a position-weighted checksum "
    "sum(pos * doc_id) over the within-shard rank — any transposition "
    "anywhere changes it. Plan: one shuffle keyed by shard_id (the "
    "same exchange the shard WRITE pays; writers chain "
    ".repartition(shard_id).sortWithinPartitions(u) into a partitioned "
    "sink — the S3 partitioned-write path), window + aggregate reuse "
    "that partitioning with no further exchange. Post-shuffle "
    "parallelism == n_shards and each task sorts one shard, so the "
    "shard count is a function of CORPUS size, not cluster size: pick "
    "shards of a few hundred MB (1e4-1e6 shards at 100 TB — exactly "
    "why real training corpora ship as many small shard files); the "
    "fixture's 16 matches the gate scale. Oracle: identical "
    "seeded assignment + window in DuckDB via the shared "
    "lcg_uniform_sql generator.",
)
def llm_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from accident_prediction_montreal_spark.operators.mixing import lcg_uniform

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "n_chars")
    u = lcg_uniform(F.col("doc_id"), salt=_SHARD_SALT)
    keyed = docs.select(
        "doc_id",
        "n_chars",
        u.alias("u"),
        F.least(F.floor(u * _N_SHARDS), F.lit(_N_SHARDS - 1))
        .cast("long")
        .alias("shard_id"),
    )
    w = Window.partitionBy("shard_id").orderBy("u", "doc_id")
    pos = keyed.withColumn("p", F.row_number().over(w))
    return (
        pos.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_sum"),
            F.sum("n_chars").cast("long").alias("chars_sum"),
            F.sum(F.col("p") * F.col("doc_id"))
            .cast("long")
            .alias("perm_checksum"),
        )
        .orderBy("shard_id")
    )


# --- incremental index maintenance -------------------------------------------

# Snapshot B: the SAME planted revision as llm_corpus_diff, shared via
# plans/snapshot_fixture (single source of truth for the Spark builder
# and the DuckDB mirror) so the four incremental-pipeline queries tell
# one story and the fixture cannot drift between call sites.

# A doc contributes LSH band rows iff it has at least one word 3-gram
# shingle, i.e. >= 3 whitespace tokens (operators/dedup.py:
# word_shingle_hashes -> explode drops empty shingle arrays). 8 bands
# per indexed doc (num_hashes=32 / bands=8 defaults).
_SQL_HAS_SHINGLES = (
    "len(CASE WHEN text IS NULL OR trim(lower(text)) = '' "
    "THEN CAST([] AS VARCHAR[]) "
    "ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) >= 3"
)


def _index_maintenance_oracle() -> str:
    return f"""
    WITH b AS ({SQL_SNAPSHOT_B}),
    d AS (
      SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        CASE
          WHEN a.doc_id IS NULL THEN 'added'
          WHEN b.doc_id IS NULL THEN 'removed'
          WHEN md5(a.text) IS DISTINCT FROM md5(b.text) THEN 'changed'
          ELSE 'unchanged'
        END AS status
      FROM documents a FULL OUTER JOIN b ON a.doc_id = b.doc_id
    ),
    counts AS (SELECT status, COUNT(*) AS n FROM d GROUP BY status),
    facts AS (
      SELECT 'docs_' || status AS facet, CAST(n AS BIGINT) AS n FROM counts
      UNION ALL
      SELECT 'rows_deleted', CAST(8 * COUNT(*) AS BIGINT)
      FROM documents a JOIN d USING (doc_id)
      WHERE d.status IN ('removed', 'changed') AND {_SQL_HAS_SHINGLES}
      UNION ALL
      SELECT 'rows_inserted', CAST(8 * COUNT(*) AS BIGINT)
      FROM b JOIN d USING (doc_id)
      WHERE d.status IN ('added', 'changed') AND {_SQL_HAS_SHINGLES}
      UNION ALL
      SELECT 'rows_final', CAST(8 * COUNT(*) AS BIGINT)
      FROM b WHERE {_SQL_HAS_SHINGLES}
      UNION ALL
      SELECT 'delta_equals_rebuild', CAST(1 AS BIGINT)
    )
    SELECT facet, n FROM facts ORDER BY facet
    """


def _delta_facts(
    diff: DataFrame, counted: dict[str, DataFrame], mismatches: DataFrame
) -> DataFrame:
    """(facet, n) rows of the snapshot-delta queries, ordered by facet:
    one ``docs_<status>`` count per corpus_diff status, one row count per
    ``counted`` frame, then the checksum ``mismatches`` facts."""
    out = diff.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).select(F.concat(F.lit("docs_"), F.col("status")).alias("facet"), "n")
    for facet, frame in counted.items():
        out = out.unionByName(
            frame.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
                F.lit(facet).alias("facet"), "n"
            )
        )
    return out.unionByName(mismatches).orderBy("facet")


@register(
    "llm_index_maintenance",
    oracle=_index_maintenance_oracle(),
    description="INCREMENTAL LSH-INDEX MAINTENANCE — the at-rest dedup "
    "index (operators/dedup.banded_signatures: one (doc, band_id, "
    "band_hash) row per band) kept current from a corpus snapshot diff "
    "instead of a rebuild: corpus_diff(A, B) classifies docs, stale "
    "index rows (removed + changed) leave via an anti-join on doc id, "
    "and MinHash signatures are computed ONLY for the delta (added + "
    "changed) — at 100 TB the maintenance cost is O(|delta|) signature "
    "work + an anti-join against the slim 3-column index, never a "
    "corpus re-signature. CONTRACT: the maintained index must equal "
    "the from-scratch rebuild of B exactly — verified Spark-side by an "
    "O(1)-ROW multiset checksum (operators/checksum.py: count + "
    "bit_xor + decimal-sum of xxhash64 over (doc, band_id, band_hash), "
    "each side folding map-side to one row — no corpus-width exchange; "
    "xxhash64 has no ANSI form, so that check is a literal-1 oracle "
    "row), while per-status doc counts and index-row deltas are "
    "SQL-exact: a doc carries 8 band rows iff it has >= 3 tokens "
    "(word 3-gram shingles exist), which the oracle computes from the "
    "same tokenizer convention. At rest the index stays partitioned on "
    "(band_id, band_hash) (the probe key — see st_incremental_dedup); "
    "deletions land as doc-id tombstones folded in on compaction, "
    "expressed here as the anti-join.",
)
def llm_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.dedup import (
        banded_signatures,
    )
    from accident_prediction_montreal_spark.operators.text import corpus_diff

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    b = snapshot_b(docs)
    # diff feeds four consumers (status counts, stale set, fresh set);
    # it is tiny ((id, status) rows) — persist, lifecycle via cachereg.
    diff = cachereg.generation("plans.llm_index_maintenance").persist(
        corpus_diff(docs, b)
    )

    bands = ["doc", "band_id", "band_hash"]
    # The fact branches re-reference idx_a/maintained/rebuild; the
    # planned tree shows 93 parquet scans, but persisting them was
    # MEASURED as a non-win at sf0.1 (4.35 -> 4.58 s min-of-3): AQE
    # reuses the identical signature-aggregate exchanges at runtime,
    # and at 100 TB the at-rest index is a parquet table, not a
    # recomputation — so the branches would read cheap pruned parquet,
    # and caching corpus-scale frames would be the real anti-pattern.
    idx_a = banded_signatures(docs).select(*bands)
    stale = diff.filter(F.col("status").isin("removed", "changed")).select(
        F.col("doc_id").alias("doc")
    )
    fresh_docs = b.join(
        diff.filter(F.col("status").isin("added", "changed")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    inserted = banded_signatures(fresh_docs).select(*bands)
    kept = idx_a.join(stale, "doc", "left_anti")
    maintained = kept.unionByName(inserted)
    rebuild = banded_signatures(b).select(*bands)

    # Multiset-checksum equality (operators/checksum.py): each side
    # folds map-side to ONE (cnt, xor, sum-of-xxhash64) row — the
    # contract keeps its full strength (multiset equality over the
    # 3-col index) without the two corpus-width symmetric-anti-join
    # exchanges r11 paid. The rebuild re-signature pass remains the
    # honest price of the contract; the anti-join form survives in
    # pytest (test_wave11.py) as the checksum's own oracle.
    mismatches = checksum_equal_fact(
        maintained, rebuild, bands, "delta_equals_rebuild"
    )
    return _delta_facts(
        diff,
        {
            "rows_deleted": idx_a.join(stale, "doc", "left_semi"),
            "rows_inserted": inserted,
            "rows_final": maintained,
        },
        mismatches,
    )


# --- URL canonicalization + variant dedup -------------------------------------


def _url_fixture_sql() -> str:
    """Raw-URL fixture as SQL: 4 decorated variants per base page (the
    same closed-form construction as the Spark side below)."""
    return """
      SELECT doc_id,
        CASE CAST(doc_id % 4 AS INT)
          WHEN 0 THEN 'https://d' || CAST((doc_id // 4) % 50 AS VARCHAR)
            || '.example.com/p/' || CAST(doc_id // 4 AS VARCHAR)
          WHEN 1 THEN 'https://d' || CAST((doc_id // 4) % 50 AS VARCHAR)
            || '.example.com/p/' || CAST(doc_id // 4 AS VARCHAR)
            || '?utm_source=feed&utm_campaign=c' || CAST(doc_id % 9 AS VARCHAR)
          WHEN 2 THEN 'HTTPS://WWW.D' || CAST((doc_id // 4) % 50 AS VARCHAR)
            || '.EXAMPLE.COM/p/' || CAST(doc_id // 4 AS VARCHAR)
          ELSE 'https://d' || CAST((doc_id // 4) % 50 AS VARCHAR)
            || '.example.com:443/p/' || CAST(doc_id // 4 AS VARCHAR)
            || '/#sec' || CAST(doc_id % 5 AS VARCHAR)
        END AS url
      FROM documents
    """


def _url_canonicalize_oracle() -> str:
    from accident_prediction_montreal_spark.functions.url import (
        canonicalize_url_sql,
    )

    canon = canonicalize_url_sql("url")
    return f"""
    WITH raw AS ({_url_fixture_sql()}),
    canon AS (
      SELECT doc_id, {canon} AS curl FROM raw
    ),
    per_url AS (
      SELECT curl,
        regexp_extract(curl, '^https?://([^/]*)', 1) AS domain,
        COUNT(*) AS n_variants, MIN(doc_id) AS canonical_doc_id
      FROM canon GROUP BY curl
    )
    SELECT domain,
      CAST(SUM(n_variants) AS BIGINT) AS n_urls_raw,
      CAST(COUNT(*) AS BIGINT) AS n_urls_canonical,
      CAST(SUM(n_variants) - COUNT(*) AS BIGINT) AS n_dup_variants,
      CAST(SUM(canonical_doc_id) AS BIGINT) AS canonical_id_sum
    FROM per_url GROUP BY domain ORDER BY domain
    """


@register(
    "llm_url_canonicalize",
    oracle=_url_canonicalize_oracle(),
    description="URL CANONICALIZATION + VARIANT DEDUP — the first "
    "normalization pass of a web corpus (CCNet-style pipelines dedup "
    "on the canonical URL before any content hashing): lowercase "
    "scheme/host, strip www. and default ports, drop fragments, remove "
    "tracking parameters (utm_*/fbclid/gclid, other params preserved), "
    "strip trailing slashes (functions/url.canonicalize_url — pure "
    "regexp/lower column expressions inside whole-stage codegen, no "
    "UDF), then per-domain rollup: raw vs canonical URL counts, "
    "collapsed-variant count, canonical-representative id checksum. "
    "Fixture: 4 closed-form decorated variants per base page "
    "(plain / +utm / WWW+uppercase / :443+trailing-slash+fragment) "
    "that MUST collapse to one canonical URL each. Plan: one map pass "
    "+ two map-side-combined aggregates (per-URL then per-domain). "
    "Oracle: the identical regex pipeline in DuckDB via the shared "
    "functions/url.canonicalize_url_sql builder, so the two "
    "canonicalizers cannot drift.",
)
def llm_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.functions.url import canonicalize_url

    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    # integer `div`, not a double `/` + cast: double math truncates
    # differently for ids past 2^53 and `//` floors — keep the fixture
    # exact at any id width (mirrors the oracle's `//`).
    base = F.expr("doc_id div 4")
    dom_n = (base % 50).cast("string")
    page = base.cast("string")
    v = (F.col("doc_id") % 4).cast("int")
    url = (
        F.when(
            v == 0,
            F.concat(
                F.lit("https://d"), dom_n, F.lit(".example.com/p/"), page
            ),
        )
        .when(
            v == 1,
            F.concat(
                F.lit("https://d"), dom_n, F.lit(".example.com/p/"), page,
                F.lit("?utm_source=feed&utm_campaign=c"),
                (F.col("doc_id") % 9).cast("string"),
            ),
        )
        .when(
            v == 2,
            F.concat(
                F.lit("HTTPS://WWW.D"), dom_n, F.lit(".EXAMPLE.COM/p/"), page
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://d"), dom_n, F.lit(".example.com:443/p/"), page,
                F.lit("/#sec"), (F.col("doc_id") % 5).cast("string"),
            )
        )
    )
    canon = docs.select("doc_id", canonicalize_url(url).alias("curl"))
    per_url = canon.groupBy("curl").agg(
        F.count(F.lit(1)).alias("n_variants"),
        F.min("doc_id").alias("canonical_doc_id"),
    ).withColumn(
        "domain", F.regexp_extract(F.col("curl"), "^https?://([^/]*)", 1)
    )
    return (
        per_url.groupBy("domain")
        .agg(
            F.sum("n_variants").cast("long").alias("n_urls_raw"),
            F.count(F.lit(1)).cast("long").alias("n_urls_canonical"),
            (F.sum("n_variants") - F.count(F.lit(1)))
            .cast("long")
            .alias("n_dup_variants"),
            F.sum("canonical_doc_id").cast("long").alias("canonical_id_sum"),
        )
        .orderBy("domain")
    )


# --- incremental embedding refresh --------------------------------------------


def _embedding_refresh_oracle() -> str:
    return f"""
    WITH b AS ({SQL_SNAPSHOT_B}),
    d AS (
      SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        CASE
          WHEN a.doc_id IS NULL THEN 'added'
          WHEN b.doc_id IS NULL THEN 'removed'
          WHEN md5(a.text) IS DISTINCT FROM md5(b.text) THEN 'changed'
          ELSE 'unchanged'
        END AS status
      FROM documents a FULL OUTER JOIN b ON a.doc_id = b.doc_id
    ),
    facts AS (
      SELECT 'docs_' || status AS facet, CAST(COUNT(*) AS BIGINT) AS n
      FROM d GROUP BY status
      UNION ALL
      SELECT 'emb_recomputed', CAST(COUNT(*) AS BIGINT)
      FROM d WHERE status IN ('added', 'changed')
      UNION ALL
      SELECT 'emb_carried', CAST(COUNT(*) AS BIGINT)
      FROM d WHERE status = 'unchanged'
      UNION ALL
      SELECT 'emb_final', CAST(COUNT(*) AS BIGINT) FROM b
      UNION ALL
      SELECT 'refresh_equals_recompute', CAST(1 AS BIGINT)
    )
    SELECT facet, n FROM facts ORDER BY facet
    """


@register(
    "llm_embedding_refresh",
    oracle=_embedding_refresh_oracle(),
    description="INCREMENTAL EMBEDDING REFRESH — the third leg of the "
    "snapshot-delta trilogy (llm_corpus_diff classifies, "
    "llm_index_maintenance patches the dedup index, THIS patches the "
    "embedding table): the ENCODER is the expensive stage of a real "
    "pipeline (GPU inference), so unchanged documents CARRY their "
    "existing vectors via a join against the old embedding table — the "
    "model runs only on added + changed docs, O(|delta|) inference "
    "instead of O(|corpus|). The encoder here is a deterministic "
    "Arrow-batched mapInPandas stub (numpy hash of the text bytes -> "
    "unit 8-dim vector; a real sentence encoder plugs into the same "
    "batch signature — the Spark-side plumbing, schema and batching "
    "are the real thing). CONTRACT: the refreshed table must equal a "
    "full re-encode of snapshot B exactly — verified Spark-side by an "
    "O(1)-row multiset checksum over (doc_id, vector rounded to 1e-12) "
    "(operators/checksum.py — no corpus-width exchange; the stub has "
    "no ANSI form, so that check is a literal-1 oracle row), while "
    "per-status doc counts and "
    "recomputed/carried/final row counts are SQL-exact from the same "
    "md5 diff the trilogy shares. At rest both snapshots and the "
    "embedding table are id-partitioned, so the carry join and the "
    "diff co-locate shuffle-free.",
)
def llm_embedding_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.text import corpus_diff

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    b = snapshot_b(docs)

    # emb_a / refreshed / recompute_full feed several fact branches;
    # persisting them was measured as a non-win at sf0.1 (1.74 ->
    # 2.01 s) — AQE exchange reuse covers the recompute, and the
    # production embedding table is at rest anyway (see the
    # llm_index_maintenance note).
    emb_a = _encode_stub(docs)

    diff = cachereg.generation("plans.llm_embedding_refresh").persist(
        corpus_diff(docs, b)
    )
    carried = emb_a.join(
        diff.filter(F.col("status") == "unchanged").select("doc_id"),
        "doc_id",
        "left_semi",
    )
    fresh_docs = b.join(
        diff.filter(F.col("status").isin("added", "changed")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    recomputed = _encode_stub(fresh_docs)
    refreshed = carried.unionByName(recomputed)

    recompute_full = _encode_stub(b)

    # Multiset-checksum equality over (doc_id, rounded vector) — one
    # 1-row aggregate per side instead of r11's full-outer element-wise
    # compare (a corpus-width exchange). Vectors hash ROUNDED to 12
    # decimals: our encoder stub is bitwise-deterministic, but the
    # pattern must survive a real encoder whose float reductions can
    # wobble in the last ulp; a genuine divergence dwarfs 1e-12. The
    # full-outer form survives in pytest as the checksum's oracle.
    def _rounded(frame: DataFrame) -> DataFrame:
        return frame.select(
            "doc_id",
            F.transform("embedding", lambda x: F.round(x, 12)).alias("emb_r"),
        )

    mismatches = checksum_equal_fact(
        _rounded(refreshed),
        _rounded(recompute_full),
        ["doc_id", "emb_r"],
        "refresh_equals_recompute",
    )
    # Count facts from the cached DIFF, not from encoder passes (r15;
    # guide §1.2 don't compute what you throw away): the encoder is a
    # 1:1 row map, so |emb_recomputed| = |added ∪ changed|,
    # |emb_carried| = |unchanged| and |emb_final| = |b| BY DEFINITION —
    # and the ORACLE defines these three facets exactly this way
    # (counts over the diff statuses / over b, _embedding_refresh_
    # oracle above). The old branches re-ran the mapInPandas encoder
    # (opaque to column pruning, invisible to AQE exchange reuse) once
    # per count just to throw the vectors away — 3 of the plan's ~7
    # encode passes. The encoder itself stays fully exercised where it
    # carries information: the refresh-equals-recompute multiset
    # checksum over the actual vectors.
    return _delta_facts(
        diff,
        {
            "emb_recomputed": diff.filter(F.col("status").isin("added", "changed")),
            "emb_carried": diff.filter(F.col("status") == "unchanged"),
            "emb_final": b,
        },
        mismatches,
    )


def _encode_stub(docs: DataFrame, dim: int = 8) -> DataFrame:
    """Deterministic encoder STUB with a real model-serving shape:
    Arrow-batched mapInPandas over (doc_id, text) -> (doc_id,
    embedding array<double>) — the batch signature a sentence encoder
    (or a Triton/vLLM client) plugs into. Vector = md5(text) bytes
    folded into ``dim`` doubles in [0,1), L2-normalized; NULL text
    encodes as the zero vector (a real pipeline would filter first).
    Deterministic across runs/layouts so refresh-vs-recompute equality
    is byte-exact."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )

    def encode(batches):
        for pdf in batches:
            vecs = []
            for t in pdf["text"]:
                if t is None:
                    vecs.append([0.0] * dim)
                    continue
                h = hashlib.md5(t.encode("utf-8")).digest()
                raw = np.frombuffer(h, dtype=np.uint16).astype(np.float64)
                v = (raw[:dim] % 4096) / 4096.0
                n = float(np.sqrt((v * v).sum()))
                vecs.append(list(v / n) if n > 0 else [0.0] * dim)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "embedding": vecs})

    return docs.mapInPandas(encode, schema=out_schema)


# --- streaming digest change filter (CDC twin of the trilogy) -----------------


def _fold_digest_revisions(st_rev, st_dig, ids, revs, texts):
    """Pure fold of one state shard's batch slice — extracted so the
    stream's two contracts are directly property-testable
    (test_properties.py): (a) emissions are identical under ANY split
    of rev-ordered delivery into batches; (b) the final state is
    identical under ANY arrival order (a stale rev <= seen is dropped,
    never re-emitted). Mutates st_rev/st_dig in place (the caller owns
    the state round-trip); returns (out_ids, out_revs, out_statuses).
    """
    import hashlib

    order = sorted(range(len(ids)), key=lambda k: (revs[k], ids[k]))
    out_id, out_rev, out_status = [], [], []
    for k in order:
        i, rev, t = ids[k], int(revs[k]), texts[k]
        last = st_rev.get(i)
        if last is not None and last >= rev:
            continue  # stale replay: drop
        dg = None if t is None else hashlib.md5(t.encode("utf-8")).hexdigest()
        if last is None:
            status = "added"
        elif st_dig[i] != dg:  # None-safe: both-None == unchanged
            status = "changed"
        else:
            status = "unchanged"
        out_id.append(i)
        out_rev.append(rev)
        out_status.append(status)
        st_rev[i] = rev
        st_dig[i] = dg
    return out_id, out_rev, out_status


def _corpus_diff_stream_oracle() -> str:
    return f"""
    WITH b AS ({SQL_SNAPSHOT_B}),
    rev1 AS (
      SELECT CAST(1 AS BIGINT) AS rev, 'added' AS status,
        CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM documents
    ),
    d AS (
      SELECT b.doc_id,
        CASE
          WHEN a.doc_id IS NULL THEN 'added'
          WHEN md5(a.text) IS DISTINCT FROM md5(b.text) THEN 'changed'
          ELSE 'unchanged'
        END AS status
      FROM b LEFT JOIN documents a ON a.doc_id = b.doc_id
    ),
    rev2 AS (
      SELECT CAST(2 AS BIGINT) AS rev, status,
        CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM d GROUP BY status
    )
    SELECT * FROM rev1 UNION ALL SELECT * FROM rev2
    ORDER BY rev, status
    """


@register(
    "st_corpus_diff_stream",
    oracle=_corpus_diff_stream_oracle(),
    description="STREAMING DIGEST CHANGE FILTER — the CDC twin of the "
    "snapshot-delta trilogy: document upserts stream in (two snapshot "
    "replays as mtime-pinned micro-batches, the 'periodic full-crawl "
    "re-send' shape), and a stateful filter keeps ONE (rev, 16-byte "
    "md5) per doc_id — suppressing no-op upserts so only genuinely "
    "added/changed docs flow to the expensive downstream stages "
    "(re-embed, re-index, re-screen). Statuses are REV-order driven "
    "(rows fold per key sorted by rev, state advances monotonically; "
    "stale rev <= seen is dropped), so the emitted classification is "
    "identical under ANY split of rev-ordered delivery into "
    "micro-batches, and the FINAL STATE (max rev + its digest per doc) "
    "is identical under ANY arrival order — an out-of-order replay "
    "degrades gracefully: its stale revisions are dropped, not "
    "re-emitted (both properties hypothesis-tested, "
    "test_properties.py). The mtime-pinned fixture delivers revs in "
    "order, which is what makes a full VALUE oracle possible for a "
    "stateful stream: md5 is byte-identical across engines, so the per-rev "
    "status counts + id sums equal the batch diff SQL exactly (only "
    "'removed' is absent — upsert streams cannot see deletions without "
    "tombstones; the batch diff llm_corpus_diff covers those). State "
    "cost is the honest CDC price: O(|corpus|) keys x ~24 bytes, "
    "RocksDB-backed at 100 TB; the saving is the downstream encoder "
    "never re-running on unchanged docs (llm_embedding_refresh's "
    "measured 4x).",
)
def st_corpus_diff_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    b = snapshot_b(docs)
    base, _ = session_dir("stdiff", sf_dir)
    p1 = os.path.join(base, "rev1.parquet")
    p2 = os.path.join(base, "rev2.parquet")
    docs.withColumn("rev", F.lit(1).cast("long")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(p1)
    b.withColumn("rev", F.lit(2).cast("long")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(p2)
    # maxFilesPerTrigger=1 replays rev1 before rev2. The fold below is
    # rev-ordered anyway, so even a merged/reordered delivery yields the
    # same statuses.
    pin_arrival_order([p1, p2])

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("rev", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        # glob: the two revisions live in sibling rev*.parquet dirs
        .parquet(os.path.join(base, "rev*.parquet"))
    )
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("rev", T.LongType()),
            T.StructField("status", T.StringType()),
        ]
    )

    # SHARDED state (the sharded_heavy_hitters pattern,
    # streaming/stateful.py): one state GROUP per doc_id means one
    # Python call + state round-trip per document per batch — measured
    # 25 s at sf1 (114k groups). Hash shards cut that to NB groups,
    # each folding its slice vectorized; a doc's whole stream lands in
    # ONE shard, so the per-doc rev logic is unchanged. State per shard
    # is three parallel arrays (~|corpus|/NB entries, 24 B/doc).
    NB = 64

    def classify(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ids0, revs0, digs0 = state.get
            st_rev = dict(zip(ids0, revs0))
            st_dig = dict(zip(ids0, digs0))
        else:
            st_rev, st_dig = {}, {}
        pdf = pd.concat(list(pdfs))
        out_id, out_rev, out_status = _fold_digest_revisions(
            st_rev, st_dig, pdf["doc_id"].tolist(), pdf["rev"].tolist(),
            pdf["text"].tolist(),
        )
        keys = list(st_rev.keys())
        state.update(
            (keys, [st_rev[k] for k in keys], [st_dig[k] for k in keys])
        )
        if out_id:
            yield pd.DataFrame(
                {"doc_id": out_id, "rev": out_rev, "status": out_status}
            )

    classified = (
        stream.withColumn(
            "shard", (F.col("doc_id") % NB).cast("int")
        )
        .groupBy("shard")
        .applyInPandasWithState(
            classify,
            outputStructType=out_schema,
            stateStructType=(
                "ids ARRAY<LONG>, revs ARRAY<LONG>, digs ARRAY<STRING>"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    got = drain(classified, "append")
    return (
        got.groupBy("rev", "status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
        .orderBy("rev", "status")
    )


# --- blocklist domain filtering ------------------------------------------------


def _blocklist_oracle() -> str:
    return """
    WITH hosts AS (
      SELECT doc_id,
        CASE CAST(doc_id % 3 AS INT)
          WHEN 0 THEN 'd' || CAST(doc_id % 20 AS VARCHAR) || '.example.com'
          WHEN 1 THEN 'cdn.d' || CAST(doc_id % 20 AS VARCHAR) || '.example.com'
          ELSE 'd' || CAST(doc_id % 20 AS VARCHAR) || '.example.org'
        END AS host
      FROM documents
    ),
    blocklist AS (
      SELECT * FROM (VALUES ('d3.example.com'), ('d7.example.com'),
                            ('cdn.d11.example.com'), ('example.org')) b(rule)
    ),
    sufs AS (
      SELECT doc_id, host, unnest(list_transform(
        range(1, len(string_split(host, '.'))),
        i -> array_to_string(string_split(host, '.')[i:], '.'))) AS suf
      FROM hosts
    ),
    blocked AS (
      SELECT DISTINCT doc_id FROM sufs JOIN blocklist ON suf = rule
    ),
    labeled AS (
      SELECT h.doc_id, h.host,
        CASE WHEN b.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_blocked
      FROM hosts h LEFT JOIN blocked b ON h.doc_id = b.doc_id
    )
    SELECT host,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(is_blocked) AS BIGINT) AS n_blocked,
      CAST(SUM(CASE WHEN is_blocked = 0 THEN doc_id ELSE 0 END) AS BIGINT)
        AS kept_id_sum
    FROM labeled GROUP BY host ORDER BY host
    """


@register(
    "llm_blocklist_filter",
    oracle=_blocklist_oracle(),
    description="BLOCKLIST DOMAIN FILTERING with SUFFIX-match semantics "
    "— the C4/CCNet gating step that drops documents from banned "
    "domains, where a rule like 'example.org' must block EVERY "
    "subdomain under it: each host expands to its dot-suffix chain "
    "(full host down to the 2-label apex, <= ~5 rows per host — a "
    "bounded explode), the expansion equi-joins the blocklist "
    "(broadcast: real blocklists are 1e4-1e6 rules, kilobytes-to-MBs "
    "beside a 100 TB corpus — the classic small-dim broadcast), and "
    "blocked ids drop via the distinct-semi/anti pattern so a host "
    "matching several rules still blocks once. Suffix labels build "
    "with transform/slice/array_join column HOFs — interpreted, but "
    "over <=5-element arrays in a pure map stage (no HOF-in-join-key "
    "hot path). Fixture: hosts are a closed-form mix of apex, "
    "subdomain and .org variants; rules hit an apex (blocks its cdn. "
    "subdomain too), an exact subdomain (blocks ONLY that host), and "
    "a registrable-domain suffix (blocks every .example.org host). "
    "Oracle: the identical suffix expansion in DuckDB "
    "(list_transform/range/list-slice).",
)
def llm_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    k = (F.col("doc_id") % 20).cast("string")
    v = (F.col("doc_id") % 3).cast("int")
    host = (
        F.when(v == 0, F.concat(F.lit("d"), k, F.lit(".example.com")))
        .when(v == 1, F.concat(F.lit("cdn.d"), k, F.lit(".example.com")))
        .otherwise(F.concat(F.lit("d"), k, F.lit(".example.org")))
    )
    hosts = docs.select("doc_id", host.alias("host"))
    rules = hosts.sparkSession.createDataFrame(
        [("d3.example.com",), ("d7.example.com",),
         ("cdn.d11.example.com",), ("example.org",)],
        ["rule"],
    )
    labels = F.split(F.col("host"), "\\.")
    n = F.size(labels)
    suffixes = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.array_join(F.slice(labels, i, n - i + 1), "."),
    )
    sufs = hosts.select("doc_id", F.explode(suffixes).alias("suf"))
    blocked = (
        sufs.join(F.broadcast(rules), sufs["suf"] == rules["rule"], "left_semi")
        .select("doc_id")
        .distinct()
    )
    labeled = hosts.join(
        blocked.withColumn("is_blocked", F.lit(1)), "doc_id", "left"
    ).withColumn("is_blocked", F.coalesce("is_blocked", F.lit(0)))
    return (
        labeled.groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("is_blocked").cast("long").alias("n_blocked"),
            F.sum(
                F.when(F.col("is_blocked") == 0, F.col("doc_id")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("kept_id_sum"),
        )
        .orderBy("host")
    )


#: fixture rules: apex / exact-subdomain / registrable-suffix rules that
#: MUST block, and public-suffix rules that MUST be inert.
_PSL_RULES = [
    "d3.example.com",        # apex: blocks its cdn. subtree too
    "cdn.d11.example.com",   # deeper than registrable: that host only
    "example.org",           # registrable: blocks every d*.example.org
    "org",                   # PUBLIC SUFFIX -> inert (the PSL point)
    "github.io",             # PSL private-section entry -> inert
    "u7.github.io",          # registrable one label below github.io
    "co.uk",                 # two-label public suffix -> inert
    "example.co.uk",         # registrable under co.uk: blocks subtree
]


def _psl_hosts_sql() -> str:
    return """
      SELECT doc_id,
        CASE CAST(doc_id % 5 AS INT)
          WHEN 0 THEN 'd' || CAST(doc_id % 20 AS VARCHAR) || '.example.com'
          WHEN 1 THEN 'cdn.d' || CAST(doc_id % 20 AS VARCHAR) || '.example.com'
          WHEN 2 THEN 'd' || CAST(doc_id % 20 AS VARCHAR) || '.example.org'
          WHEN 3 THEN 'u' || CAST(doc_id % 20 AS VARCHAR) || '.github.io'
          ELSE 'd' || CAST(doc_id % 20 AS VARCHAR) || '.example.co.uk'
        END AS host
      FROM documents
    """


def _blocklist_psl_oracle() -> str:
    rules = ", ".join(f"('{r}')" for r in _PSL_RULES)
    reg = registrable_domain_sql("host")
    return f"""
    WITH hosts AS ({_psl_hosts_sql()}),
    reghosts AS (
      SELECT doc_id, host, {reg} AS reg FROM hosts
    ),
    sufs AS (
      SELECT doc_id, unnest(list_transform(
        range(len(string_split(reg, '.')), len(string_split(host, '.')) + 1),
        L -> array_to_string(
          string_split(host, '.')[len(string_split(host, '.')) - L + 1:],
          '.'))) AS suf
      FROM reghosts WHERE reg IS NOT NULL
    ),
    blocklist AS (SELECT * FROM (VALUES {rules}) b(rule)),
    blocked AS (
      SELECT DISTINCT doc_id FROM sufs JOIN blocklist ON suf = rule
    ),
    labeled AS (
      SELECT h.doc_id, h.host,
        CASE WHEN b.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_blocked
      FROM hosts h LEFT JOIN blocked b ON h.doc_id = b.doc_id
    )
    SELECT host,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(is_blocked) AS BIGINT) AS n_blocked,
      CAST(SUM(CASE WHEN is_blocked = 0 THEN doc_id ELSE 0 END) AS BIGINT)
        AS kept_id_sum
    FROM labeled GROUP BY host ORDER BY host
    """


@register(
    "llm_blocklist_filter_psl",
    oracle=_blocklist_psl_oracle(),
    description="PSL-AWARE BLOCKLIST FILTERING — llm_blocklist_filter's "
    "suffix semantics refined to what a real C4/CCNet gate enforces: a "
    "rule blocks a host only if the rule is AT OR BELOW the host's "
    "REGISTRABLE domain (functions/url.registrable_domain — eTLD+1 "
    "against an offline public-suffix snapshot), so 'example.org' "
    "blocks its whole subtree while bare 'org', 'co.uk' or the PSL "
    "private entry 'github.io' block NOTHING (each label under them "
    "belongs to a different owner). Plan (r13: measured against a "
    "full-size ~9k-rule snapshot, BENCH_psl_r13.json): the "
    "registrable-domain step is functions/url.registrable_domain_join "
    "— one BROADCAST left hash join per suffix length (<= 6), O(labels) "
    "hash probes per host, map-side only, no shuffle — which beat the "
    "literal-array HOF scan 60x at 9k rules (the HOF's array_contains "
    "is O(|PSL|) per suffix; it remains the property-tested semantic "
    "reference form). The host's suffix chain is then TRUNCATED at the "
    "registrable domain (public-suffix rules are inert by "
    "construction, not by rule-table curation), and the bounded "
    "explode (<= ~4 rows/host) equi-joins the broadcast rule table "
    "with the distinct-semi pattern, exactly the scale shape of the "
    "non-PSL variant. Oracle: the identical PSL longest-match + "
    "truncated chain in DuckDB via the paired "
    "functions/url.registrable_domain_sql builder.",
)
def llm_blocklist_filter_psl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    k = (F.col("doc_id") % 20).cast("string")
    v = (F.col("doc_id") % 5).cast("int")
    host = (
        F.when(v == 0, F.concat(F.lit("d"), k, F.lit(".example.com")))
        .when(v == 1, F.concat(F.lit("cdn.d"), k, F.lit(".example.com")))
        .when(v == 2, F.concat(F.lit("d"), k, F.lit(".example.org")))
        .when(v == 3, F.concat(F.lit("u"), k, F.lit(".github.io")))
        .otherwise(F.concat(F.lit("d"), k, F.lit(".example.co.uk")))
    )
    hosts = docs.select("doc_id", host.alias("host"))
    rules = spark.createDataFrame([(r,) for r in _PSL_RULES], ["rule"])

    reghosts = registrable_domain_join(hosts, "host", "reg", PSL_SNAPSHOT)
    labels = F.split(F.col("host"), "\\.")
    n = F.size(labels)
    reg_len = F.size(F.split(F.col("reg"), "\\."))
    chain = F.when(
        F.col("reg").isNotNull(),
        F.transform(
            F.sequence(reg_len, n),
            lambda length: F.array_join(
                F.slice(labels, n - length + 1, length), "."
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sufs = reghosts.select("doc_id", F.explode(chain).alias("suf"))
    blocked = (
        sufs.join(F.broadcast(rules), sufs["suf"] == rules["rule"], "left_semi")
        .select("doc_id")
        .distinct()
    )
    labeled = hosts.join(
        blocked.withColumn("is_blocked", F.lit(1)), "doc_id", "left"
    ).withColumn("is_blocked", F.coalesce("is_blocked", F.lit(0)))
    return (
        labeled.groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("is_blocked").cast("long").alias("n_blocked"),
            F.sum(
                F.when(F.col("is_blocked") == 0, F.col("doc_id")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("kept_id_sum"),
        )
        .orderBy("host")
    )


# --- quality-filter attrition cascade ------------------------------------------

def _cascade_oracle() -> str:
    from accident_prediction_montreal_spark.plans.snapshot_fixture import (
        REID_SHIFT,
    )

    return f"""
    WITH corpus AS (
      SELECT doc_id, text, lang, n_chars FROM documents
      UNION ALL
      SELECT doc_id + {REID_SHIFT}, text, lang, n_chars
      FROM documents WHERE doc_id % 29 = 0
    ),
    flags AS (
      SELECT doc_id, n_chars,
        (lang = 'en') AS c1,
        (lang = 'en' AND n_chars BETWEEN 100 AND 400) AS c2,
        (lang = 'en' AND n_chars BETWEEN 100 AND 400
         AND len({SQL_TOKENS}) >= 20) AS c3,
        md5(text) AS dig
      FROM corpus
    ),
    dedup AS (
      SELECT doc_id, n_chars, c1, c2, c3,
        CASE WHEN c3 THEN ROW_NUMBER() OVER (
          PARTITION BY dig, c3 ORDER BY doc_id) ELSE NULL END AS rnk
      FROM flags
    ),
    stages AS (
      SELECT 1 AS stage, 'lang_en' AS stage_name,
        COUNT(*) AS n_in, SUM(CASE WHEN c1 THEN 1 ELSE 0 END) AS n_out,
        SUM(CASE WHEN c1 THEN n_chars ELSE 0 END) AS chars_out
      FROM dedup
      UNION ALL
      SELECT 2, 'len_100_400',
        SUM(CASE WHEN c1 THEN 1 ELSE 0 END),
        SUM(CASE WHEN c2 THEN 1 ELSE 0 END),
        SUM(CASE WHEN c2 THEN n_chars ELSE 0 END)
      FROM dedup
      UNION ALL
      SELECT 3, 'min_20_tokens',
        SUM(CASE WHEN c2 THEN 1 ELSE 0 END),
        SUM(CASE WHEN c3 THEN 1 ELSE 0 END),
        SUM(CASE WHEN c3 THEN n_chars ELSE 0 END)
      FROM dedup
      UNION ALL
      SELECT 4, 'digest_dedup',
        SUM(CASE WHEN c3 THEN 1 ELSE 0 END),
        SUM(CASE WHEN rnk = 1 THEN 1 ELSE 0 END),
        SUM(CASE WHEN rnk = 1 THEN n_chars ELSE 0 END)
      FROM dedup
    )
    SELECT CAST(stage AS BIGINT) AS stage, stage_name,
      CAST(n_in AS BIGINT) AS n_in, CAST(n_out AS BIGINT) AS n_out,
      CAST(n_in - n_out AS BIGINT) AS n_dropped,
      CAST(chars_out AS BIGINT) AS chars_out
    FROM stages ORDER BY stage
    """


@register(
    "llm_quality_cascade",
    oracle=_cascade_oracle(),
    description="QUALITY-FILTER ATTRITION CASCADE — the funnel report "
    "every curation pipeline publishes (C4/RefinedWeb/FineWeb all "
    "document per-stage attrition): documents flow through language "
    "gate -> length band -> minimum token count -> exact-digest dedup, "
    "and the output is one row per stage with rows-in/rows-out/"
    "dropped/surviving chars. Fixture plants re-submitted duplicates "
    "(every 29th doc re-added under the collision-proof 2^40 re-id, "
    "same bytes) so the dedup stage has real work. Plan shape (r13 "
    "rewrite — the r12 form scanned the corpus 8x and shuffled every "
    "row through the dedup window): ONE pass over the corpus. The "
    "three predicate stages are cumulative boolean columns; every "
    "stage's n_in/n_out/chars sum AND the dedup survivor pick fold "
    "into a single groupBy whose key is CASE WHEN c3 THEN dig END — "
    "all non-survivors collapse MAP-SIDE into one NULL-key partial row "
    "per task, so the only corpus-width exchange carries exactly the "
    "stage-3 survivor digests (plus ~numPartitions NULL rows). The "
    "survivor per digest is min(struct(doc_id, n_chars)) — the same "
    "skew-immune aggregate-over-window choice as llm_line_dedup. A "
    "final global aggregate reduces to one row, unpivoted (explode of "
    "4 structs) into the stage report. Verified by the plan test: 2 "
    "parquet scans (one per union leg), 1 hash-partitioned exchange, "
    "no Window, no Join. Oracle: identical flags + windowed dedup in "
    "DuckDB, tokenizer convention shared with the text family.",
)
def llm_quality_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.text import tokenize
    from accident_prediction_montreal_spark.plans.snapshot_fixture import (
        REID_SHIFT,
    )

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "text", "lang", "n_chars"
    )
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") % 29 == 0).select(
            (F.col("doc_id") + REID_SHIFT).alias("doc_id"),
            "text",
            "lang",
            "n_chars",
        )
    )
    c1 = F.col("lang") == "en"
    c2 = c1 & F.col("n_chars").between(100, 400)
    c3 = c2 & (F.size(tokenize(F.col("text"))) >= 20)
    flags = corpus.select(
        "doc_id",
        "n_chars",
        c1.alias("c1"),
        c2.alias("c2"),
        c3.alias("c3"),
        F.md5("text").alias("dig"),
    )

    def gated_chars(cond) -> F.Column:
        return F.sum(F.when(cond, F.col("n_chars")).otherwise(F.lit(0)))

    # ONE corpus pass. Key = survivor digest or NULL: map-side partial
    # aggregation folds every non-survivor into the single NULL-key row
    # per task, so the exchange carries only stage-3 survivor digests.
    # min(struct(doc_id, n_chars)) picks the first-by-doc_id survivor
    # per digest (equals the oracle's ROW_NUMBER ... ORDER BY doc_id).
    per_key = flags.groupBy(
        F.when(F.col("c3"), F.col("dig")).alias("k")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        # SUM(CASE WHEN c THEN 1 ELSE 0 END), NOT sum(c::long): when the
        # flag is NULL for every row in a group (e.g. lang IS NULL makes
        # c1 NULL), sum-over-casts returns NULL where the oracle returns
        # 0 (the r13 verdict's fuzz repro: a corpus whose every row has
        # NULL lang). when/otherwise(0) can never produce NULL, at either
        # aggregation level.
        F.sum(F.when(F.col("c1"), 1).otherwise(0)).alias("n1"),
        gated_chars(F.col("c1")).alias("ch1"),
        F.sum(F.when(F.col("c2"), 1).otherwise(0)).alias("n2"),
        gated_chars(F.col("c2")).alias("ch2"),
        F.sum(F.when(F.col("c3"), 1).otherwise(0)).alias("n3"),
        gated_chars(F.col("c3")).alias("ch3"),
        F.min(
            F.when(F.col("c3"), F.struct("doc_id", "n_chars"))
        ).alias("first"),
    )
    tot = per_key.agg(
        F.sum("cnt").alias("n0"),
        F.sum("n1").alias("n1"),
        F.sum("ch1").alias("ch1"),
        F.sum("n2").alias("n2"),
        F.sum("ch2").alias("ch2"),
        F.sum("n3").alias("n3"),
        F.sum("ch3").alias("ch3"),
        # non-NULL keys = distinct digests among survivors (stage-4 out)
        F.count("k").alias("n4"),
        # coalesce: with ZERO stage-3 survivors the sum is over all-NULL
        # `first` structs -> NULL, while the oracle's SUM(CASE .. ELSE 0)
        # yields 0 (caught by the r13 generative cross-engine fuzz —
        # the sf fixtures always have survivors, so the driver harness
        # could never see this divergence)
        F.coalesce(F.sum("first.n_chars"), F.lit(0)).alias("ch4"),
    )

    def stage(n: int, name: str, n_in: str, n_out: str, ch: str):
        return F.struct(
            F.lit(n).cast("long").alias("stage"),
            F.lit(name).alias("stage_name"),
            F.col(n_in).cast("long").alias("n_in"),
            F.col(n_out).cast("long").alias("n_out"),
            (F.col(n_in) - F.col(n_out)).cast("long").alias("n_dropped"),
            F.col(ch).cast("long").alias("chars_out"),
        )

    return (
        tot.select(
            F.explode(
                F.array(
                    stage(1, "lang_en", "n0", "n1", "ch1"),
                    stage(2, "len_100_400", "n1", "n2", "ch2"),
                    stage(3, "min_20_tokens", "n2", "n3", "ch3"),
                    stage(4, "digest_dedup", "n3", "n4", "ch4"),
                )
            ).alias("r")
        )
        .select("r.*")
        .orderBy("stage")
    )


# --- DoReMi-style domain reweighting -------------------------------------------

_REWEIGHT_ETA = 2.0
_REWEIGHT_CAP = 400  # chars cap for the proxy loss (2500 = 1e6/400 exact)


@register(
    "llm_domain_reweight",
    oracle=f"""
    WITH stats AS (
      SELECT source AS domain,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS units,
        CAST(SUM(1000000 - LEAST(n_chars, {_REWEIGHT_CAP}) * 2500) AS BIGINT)
          AS loss_milli_sum
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(units) AS DOUBLE) AS units_all,
        CAST(SUM(loss_milli_sum) AS DOUBLE) AS loss_all,
        CAST(SUM(n_docs) AS DOUBLE) AS docs_all
      FROM stats
    ),
    upd AS (
      SELECT domain, n_docs, units, loss_milli_sum,
        CAST(units AS DOUBLE) / units_all AS p_share,
        (CAST(loss_milli_sum AS DOUBLE) / n_docs - loss_all / docs_all)
          / 1000000.0 AS excess,
        CAST(ROUND(
          (CAST(units AS DOUBLE) / units_all)
          * GREATEST(0.0, 1.0 + {_REWEIGHT_ETA}
            * ((CAST(loss_milli_sum AS DOUBLE) / n_docs - loss_all / docs_all)
               / 1000000.0)),
          12) AS DECIMAL(20,12)) AS raw_w
      FROM stats CROSS JOIN tot
    ),
    norm AS (SELECT SUM(raw_w) AS w_all FROM upd)
    SELECT domain, n_docs, units,
      ROUND(p_share, 6) + 0.0 AS share,
      ROUND(excess, 6) + 0.0 AS excess,
      ROUND(CAST(raw_w AS DOUBLE) / CAST(w_all AS DOUBLE), 6) + 0.0 AS weight
    FROM upd CROSS JOIN norm ORDER BY domain
    """,
    description="DOMAIN REWEIGHTING STEP (DoReMi-style, one round) — the "
    "data-mixture optimization every multi-domain pretraining recipe "
    "runs: domains whose proxy loss EXCEEDS the corpus mean get "
    "up-weighted, easy domains down-weighted. Update rule is the "
    "LINEAR (first-order) form of the exponentiated-gradient step, "
    "w'_d proportional to share_d * max(0, 1 + eta*excess_d) — chosen "
    "deliberately over exp() because +/*/max are IEEE-identical across "
    "engines while libm exp() is not, so the oracle stays value-exact "
    "(the same determinism discipline as functions/money.py). The "
    "per-doc proxy loss lives in INTEGER milli-units (1e6 - "
    "min(n_chars,400)*2500 — a real run plugs per-doc reference-model "
    "losses into the same column), so every aggregate is an exact "
    "BIGINT sum under any partitioning; doubles appear only in final "
    "per-domain ratios, and the weight normalizer quantizes to "
    "DECIMAL(20,12) before summing (order-independent — the "
    "temperature_mix_rates/epoch_schedule pattern). Plan: ONE "
    "map-side-combined groupBy over the corpus to |domains| rows; "
    "everything after is window math on tens of rows. Scale: at 100 "
    "TB this is the cheapest query in the curation loop — the corpus "
    "pass is a 3-integer-column scan-aggregate.",
)
def llm_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir).select("source", "n_chars")
    loss_milli = F.lit(1_000_000) - F.least(
        F.col("n_chars"), F.lit(_REWEIGHT_CAP)
    ) * F.lit(2500)
    stats = docs.groupBy(F.col("source").alias("domain")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("units"),
        F.sum(loss_milli).cast("long").alias("loss_milli_sum"),
    )
    everything = Window.partitionBy()
    units_all = F.sum("units").over(everything).cast("double")
    loss_all = F.sum("loss_milli_sum").over(everything).cast("double")
    docs_all = F.sum("n_docs").over(everything).cast("double")
    # try_divide: an all-empty corpus has units_all = 0; plain `/` is an
    # ANSI DIVIDE_BY_ZERO error, DuckDB returns NULL (r14 fuzz triage)
    p_share = F.try_divide(F.col("units").cast("double"), units_all)
    excess = (
        F.col("loss_milli_sum").cast("double") / F.col("n_docs") - loss_all / docs_all
    ) / F.lit(1_000_000.0)
    raw_w = F.round(
        p_share
        * F.greatest(F.lit(0.0), F.lit(1.0) + F.lit(_REWEIGHT_ETA) * excess),
        12,
    ).cast("decimal(20,12)")
    upd = stats.select(
        "domain",
        "n_docs",
        "units",
        p_share.alias("p_share"),
        excess.alias("excess"),
        raw_w.alias("raw_w"),
    )
    w_all = F.sum("raw_w").over(everything)
    return upd.select(
        "domain",
        "n_docs",
        "units",
        (F.round("p_share", 6) + 0.0).alias("share"),
        (F.round("excess", 6) + 0.0).alias("excess"),
        (
            F.round(
                F.try_divide(
                    F.col("raw_w").cast("double"), w_all.cast("double")
                ),
                6,
            )
            + 0.0
        ).alias("weight"),
    ).orderBy("domain")
