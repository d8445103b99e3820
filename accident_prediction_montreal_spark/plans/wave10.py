"""Wave-10 queries (r8): source-surface and pipeline widening —
JSON-lines ingestion with PERMISSIVE corrupt-record capture, a BPE
merge-candidate step (the tokenizer-training primitive), and
perceptual image dedup (average-hash over REAL decoded rasters — the
multimodal twin of the text dedup family), the dataset-card rollup,
and incremental batch/stream dedup against an existing corpus index.
All oracle-backed (value oracles where ANSI-expressible, literal-1
contract checks for the xxhash-based incremental pair sets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from accident_prediction_montreal_spark.plans.registry import checks, register
from accident_prediction_montreal_spark.plans.relational_extra import _scratch
from accident_prediction_montreal_spark.plans.snapshot_fixture import (
    SQL_SNAPSHOT_B,
    snapshot_b,
)
from accident_prediction_montreal_spark.sources.registry import load_table
from accident_prediction_montreal_spark.streaming.finite import drain

_SQL_TOKS = (
    "CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) "
    "ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END"
)


@register(
    "s13_jsonl_roundtrip",
    oracle="""
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
      CAST(0 AS BIGINT) AS n_corrupt
    FROM documents GROUP BY source
    UNION ALL
    SELECT '__corrupt__', 0, 0, 2
    ORDER BY source
    """,
    description="JSON-LINES source roundtrip (S-surface widening beyond the "
    "reference's CSV/Parquet/KML): documents write as JSONL (nested "
    "meta struct exercises the object encoder), a planted shard with "
    "two malformed lines joins the directory, and the read-back uses an "
    "EXPLICIT schema + PERMISSIVE mode with columnNameOfCorruptRecord — "
    "malformed lines surface as rows with only the corrupt column set "
    "(counted under a sentinel source), never as a job failure, and "
    "schema enforcement means NO inference scan. Scale notes: JSONL is "
    "splittable (line-oriented), the explicit schema prunes to the read "
    "columns, and the aggregate is one map-side-combined groupBy. "
    "Oracle: the parquet-side aggregate plus the planted corrupt-line "
    "constant.",
)
def s13_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import types as T

    base, _ = _scratch("jsonl", sf_dir)
    out_dir = os.path.join(base, "docs")
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id",
        F.struct(F.col("source"), F.col("n_chars")).alias("meta"),
    )
    docs.write.mode("overwrite").json(out_dir)
    # Two malformed lines in their own shard: one truncated object, one
    # non-JSON junk. PERMISSIVE must land both in the corrupt column.
    with open(os.path.join(out_dir, "part-corrupt.json"), "w") as f:
        f.write('{"doc_id": 1, "meta": {"source": "trunc"\nnot json at all\n')
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("source", T.StringType()),
                        T.StructField("n_chars", T.LongType()),
                    ]
                ),
            ),
            T.StructField("_bad", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(out_dir)
    )
    return (
        back.select(
            F.when(F.col("_bad").isNotNull(), F.lit("__corrupt__"))
            .otherwise(F.col("meta.source"))
            .alias("source"),
            F.when(F.col("_bad").isNull(), F.col("meta.n_chars"))
            .otherwise(F.lit(0))
            .alias("n_chars"),
            F.col("_bad").isNotNull().cast("long").alias("corrupt"),
        )
        .groupBy("source")
        .agg(
            F.sum(F.lit(1) - F.col("corrupt")).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars_sum"),
            F.sum("corrupt").cast("long").alias("n_corrupt"),
        )
        .orderBy("source")
    )


@register(
    "text_bpe_merges",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_SQL_TOKS}) AS t FROM documents
    ),
    vocab AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS freq FROM toks GROUP BY t),
    bigrams AS (
      SELECT substring(t, i, 2) AS pair, freq FROM (
        SELECT t, freq, unnest(range(1, length(t))) AS i
        FROM vocab WHERE length(t) >= 2
      )
    ),
    counts AS (
      SELECT pair, CAST(SUM(freq) AS BIGINT) AS n FROM bigrams GROUP BY pair
    )
    SELECT pair, n, CAST(rnk AS BIGINT) AS rnk FROM (
      SELECT pair, n,
        ROW_NUMBER() OVER (ORDER BY n DESC, pair ASC) AS rnk
      FROM counts
    ) WHERE rnk <= 20 ORDER BY rnk
    """,
    description="BPE MERGE-CANDIDATE step (the tokenizer-TRAINING primitive "
    "next to the tokenizer-APPLICATION ops text_token_hash/"
    "text_sequence_pack): the top-20 most frequent adjacent character "
    "pairs over the corpus, weighted by word frequency — exactly the "
    "statistic byte-pair encoding greedily merges each round. The scale "
    "shape is the real BPE one: pair counting runs over the DISTINCT "
    "word table (vocab-bounded, built by one map-side-combined groupBy "
    "over the corpus) times word length — NOT over raw corpus "
    "characters — so a 100-TB corpus pays corpus-size only for the "
    "vocab build, and the merge statistics are |vocab|-scale. "
    "Deterministic (n DESC, pair ASC) tie-break; iterating = re-running "
    "with the merged symbol substituted, each round one job.",
)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from accident_prediction_montreal_spark.operators.text import tokenize

    docs = load_table(spark, "documents", sf_dir)
    vocab = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .filter(F.length("t") >= 2)
    )
    bigrams = vocab.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("t") - 1),
                lambda i: F.col("t").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "freq",
    )
    counts = bigrams.groupBy("pair").agg(F.sum("freq").cast("long").alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("pair").asc())
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 20)
        .orderBy("rnk")
    )


@register(
    "mm_image_dedup",
    oracle="""
    WITH fams AS (
      SELECT doc_id, doc_id % 251 AS fam FROM documents
    ),
    dims AS (
      SELECT doc_id, fam, 8 + fam % 9 AS w, 5 + fam % 7 AS h FROM fams
    ),
    samp AS (
      SELECT doc_id, fam, w, h, s,
        CAST((fam * 7 + (((s // 8) * h // 8) * w + ((s % 8) * w // 8)) * 13)
             % 256 AS DOUBLE) AS val
      FROM dims, range(0, 64) r(s)
    ),
    means AS (SELECT doc_id, AVG(val) AS m FROM samp GROUP BY doc_id),
    hashed AS (
      SELECT s.doc_id,
        string_agg(CASE WHEN s.val > m.m THEN '1' ELSE '0' END, ''
                   ORDER BY s.s) AS ahash
      FROM samp s JOIN means m USING (doc_id)
      GROUP BY s.doc_id
    ),
    px AS (
      SELECT doc_id, CAST(SUM((fam * 7 + p * 13) % 256) AS BIGINT)
        AS raster_sum
      FROM (SELECT doc_id, fam, unnest(range(0, w * h)) AS p FROM dims)
      GROUP BY doc_id
    ),
    per AS (
      SELECT h.doc_id AS media_id, h.ahash, px.raster_sum
      FROM hashed h JOIN px ON px.doc_id = h.doc_id
    )
    SELECT media_id, ahash, raster_sum,
      CAST(COUNT(*) OVER (PARTITION BY ahash, raster_sum) AS BIGINT)
        AS n_members,
      CAST(MIN(media_id) OVER (PARTITION BY ahash, raster_sum) AS BIGINT)
        AS canonical_id
    FROM per ORDER BY media_id
    """,
    description="PERCEPTUAL IMAGE DEDUP (the multimodal member of the dedup "
    "family, §2.14): every document synthesizes a REAL binary PGM whose "
    "raster repeats per doc_id % 251 family (planted visual duplicates "
    "across different ids), the REAL decoder parses it back "
    "(operators/multimodal.py::decode_pgm), and a 64-bit AVERAGE HASH "
    "(aHash: nearest-neighbor 8x8 downsample, threshold at the sample "
    "mean, emitted as a 64-char bit string — no signed-overflow "
    "ambiguity) buckets the corpus; an exact raster checksum verifies "
    "each bucket so a perceptual collision can never merge distinct "
    "images. Scale: hashing is one Arrow-batched map pass; grouping is "
    "an equi-aggregation on (ahash, checksum) — the visual analogue of "
    "dedup_exact's digest groupBy, with the same no-all-pairs "
    "guarantee. Oracle replays the closed-form raster, the integer "
    "downsample arithmetic and the exact mean threshold (integer "
    "samples / 64 is exact in binary) term-for-term.",
)
def mm_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from accident_prediction_montreal_spark.operators.multimodal import (
        decode_pgm_raster,
        encode_pgm_p5,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id")

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("ahash", T.StringType()),
            T.StructField("raster_sum", T.LongType()),
        ]
    )

    def hash_batches(batches):
        for pdf in batches:
            ids, hashes, sums = [], [], []
            for d in pdf["doc_id"]:
                fam = int(d) % 251
                w, h = 8 + fam % 9, 5 + fam % 7
                p = np.arange(w * h, dtype=np.int64)
                payload = encode_pgm_p5((fam * 7 + p * 13) % 256, w, h)
                # REAL decode back to the raster, then aHash it.
                width, height, gray = decode_pgm_raster(payload)
                g = gray.reshape(height, width)
                ys = (np.arange(8) * height) // 8
                xs = (np.arange(8) * width) // 8
                samples = g[np.ix_(ys, xs)].astype(np.float64).ravel()
                bits = samples > samples.mean()
                ids.append(int(d))
                hashes.append("".join("1" if b else "0" for b in bits))
                sums.append(int(gray.astype(np.int64).sum()))
            yield pd.DataFrame(
                {"media_id": ids, "ahash": hashes, "raster_sum": sums}
            )

    from pyspark.sql import Window

    per = docs.mapInPandas(hash_batches, schema=out_schema)
    grp = Window.partitionBy("ahash", "raster_sum")
    return per.select(
        "media_id",
        "ahash",
        "raster_sum",
        F.count(F.lit(1)).over(grp).cast("long").alias("n_members"),
        F.min("media_id").over(grp).cast("long").alias("canonical_id"),
    ).orderBy("media_id")


@register(
    "llm_dataset_card",
    oracle=f"""
    WITH per AS (
      SELECT source, n_chars,
        COALESCE(len({_SQL_TOKS}), 0) AS n_tokens,
        CASE WHEN trim(text) = '' THEN 1 ELSE 0 END AS is_empty
      FROM documents
    ),
    card AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
        CAST(SUM(n_tokens) AS BIGINT) AS tokens_sum,
        CAST(SUM(is_empty) AS BIGINT) AS n_empty,
        CAST((SUM(n_chars) * 10000) // COUNT(*) AS BIGINT)
          AS mean_chars_e4,
        CAST(0 AS BIGINT) AS is_total
      FROM per GROUP BY source
      UNION ALL
      -- Every aggregate in this branch MUST be cast: DuckDB SUM(int)
      -- returns HUGEINT, UNION type-unification promotes the whole
      -- column, and HUGEINT reaches pandas/arrow as float64 — a
      -- hash-fail with rows+schema green (the r9/r10 driver red).
      SELECT '__all__', CAST(COUNT(*) AS BIGINT),
        CAST(SUM(n_chars) AS BIGINT), CAST(SUM(n_tokens) AS BIGINT),
        CAST(SUM(is_empty) AS BIGINT),
        CAST((SUM(n_chars) * 10000) // COUNT(*) AS BIGINT),
        CAST(1 AS BIGINT)
      FROM per
    )
    SELECT * FROM card ORDER BY is_total, source
    """,
    description="DATASET CARD (the release-notes aggregate every corpus "
    "ships with): per-source document/char/token/empty-doc counts and "
    "mean length plus the corpus total, in ONE pass via ROLLUP(source) "
    "— one Expand + one map-side-combined shuffle, not one scan per "
    "grain (the same hypertable shape as st_time_rollup, applied to "
    "the documents table). Token counts reuse the engine's whitespace "
    "tokenizer; empty docs counted under the same trim convention. "
    "GROUPING() distinguishes the total row portably. mean_chars is "
    "emitted as REPRESENTATION-PROOF integer 1e-4 units "
    "(floor(sum*10000/count) via integer `div`, never a rounded double) "
    "— the r9 driver red was a last-ulp double-formatting divergence "
    "between two independently ROUNDed doubles, not a logic bug.",
)
def llm_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.text import token_count

    docs = load_table(spark, "documents", sf_dir).select(
        "source",
        "n_chars",
        token_count(F.col("text")).alias("n_tokens"),
        # when/otherwise, not a bare cast: NULL text is NOT the empty
        # string — the oracle's CASE yields 0 there, the bare cast gave
        # NULL and poisoned the sum (r14 registry-wide fuzz triage)
        F.when(F.trim(F.col("text")) == "", 1).otherwise(0)
        .cast("long")
        .alias("is_empty"),
    )
    return (
        docs.rollup("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars_sum"),
            F.sum("n_tokens").cast("long").alias("tokens_sum"),
            F.sum("is_empty").cast("long").alias("n_empty"),
            F.expr("(sum(n_chars) * CAST(10000 AS BIGINT)) div count(1)")
            .cast("long")
            .alias("mean_chars_e4"),
            F.grouping("source").cast("long").alias("is_total"),
        )
        .select(
            F.coalesce(F.col("source"), F.lit("__all__")).alias("source"),
            "n_docs",
            "chars_sum",
            "tokens_sum",
            "n_empty",
            "mean_chars_e4",
            "is_total",
        )
        .orderBy("is_total", "source")
    )


@register(
    "dedup_incremental",
    oracle="""
    SELECT 'incr_planted_dups_found_est_1' AS chk, CAST(1 AS BIGINT) AS ok
    UNION ALL SELECT 'incr_novel_docs_clean', CAST(1 AS BIGINT)
    UNION ALL SELECT 'incr_sides_correct', CAST(1 AS BIGINT)
    UNION ALL SELECT 'incr_est_jaccard_in_range', CAST(1 AS BIGINT)
    """,
    description="INCREMENTAL near-dup detection — the continuous-ingestion "
    "shape every production corpus runs: a NEW BATCH is checked against "
    "the EXISTING corpus's LSH band index "
    "(operators/dedup.py::minhash_incremental_pairs), so candidate cost "
    "scales with |batch| x collision rate — never |corpus|^2, never "
    "new-vs-new (in-batch dups are the ordinary self-pass). At rest the "
    "index is banded_signatures persisted partitioned by band_id, so "
    "each arriving batch's probe prunes to its band partitions. "
    "Contracts (xxhash64 signatures have no ANSI oracle, so literal-1 "
    "checks like the minhash family): every planted exact copy of a "
    "corpus doc (re-ids'd at +200000) surfaces against its original at "
    "est_jaccard exactly 1.0; synthesized NOVEL batch docs (unique "
    "token streams) surface nothing; every emitted pair has new_id from "
    "the batch and corpus_id from the corpus; est respects the 0.5 "
    "threshold.",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark import cachereg
    from accident_prediction_montreal_spark.operators.dedup import (
        minhash_incremental_pairs,
    )
    from accident_prediction_montreal_spark.operators.text import tokenize

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    dup_src = docs.filter(
        (F.col("doc_id") % 13 == 0) & (F.size(tokenize(F.col("text"))) >= 3)
    )
    planted = dup_src.select((F.col("doc_id") + 200_000).alias("doc_id"), "text")
    novel = docs.filter(F.col("doc_id") % 13 == 1).select(
        (F.col("doc_id") + 200_000).alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit(f"zq{i}x"), F.col("doc_id").cast("string"))
                for i in range(6)
            ],
        ).alias("text"),
    )
    new_batch = planted.unionByName(novel)
    pairs = minhash_incremental_pairs(
        new_batch, docs, min_est_jaccard=0.5
    ).persist()
    cachereg.register("plans.dedup_incremental", pairs)

    expected = dup_src.select(
        (F.col("doc_id") + 200_000).alias("new_id"),
        F.col("doc_id").alias("corpus_id"),
    )
    missing = expected.join(
        pairs.filter(F.col("est_jaccard") == 1.0),
        ["new_id", "corpus_id"],
        "left_anti",
    )
    novel_hits = pairs.join(
        novel.select(F.col("doc_id").alias("new_id")), "new_id", "left_semi"
    )
    stray = (
        pairs.select(F.col("new_id").alias("k"))
        .join(new_batch.select(F.col("doc_id").alias("k")), "k", "left_anti")
        .unionByName(
            pairs.select(F.col("corpus_id").alias("k")).join(
                docs.select(F.col("doc_id").alias("k")), "k", "left_anti"
            )
        )
    )
    row = (
        missing.agg(F.count(F.lit(1)).alias("n_missing"))
        .crossJoin(novel_hits.agg(F.count(F.lit(1)).alias("n_novel")))
        .crossJoin(stray.agg(F.count(F.lit(1)).alias("n_stray")))
        .crossJoin(
            pairs.agg(
                F.min(
                    (
                        (F.col("est_jaccard") >= 0.5) & (F.col("est_jaccard") <= 1.0)
                    ).cast("long")
                ).alias("r")
            )
        )
    )
    return checks(row, {
        "incr_planted_dups_found_est_1": F.col("n_missing") == 0,
        "incr_novel_docs_clean": F.col("n_novel") == 0,
        "incr_sides_correct": F.col("n_stray") == 0,
        "incr_est_jaccard_in_range": F.coalesce(F.col("r") == 1, F.lit(True)),
    })


@register(
    "st_incremental_dedup",
    oracle="""
    SELECT 'st_incr_planted_found' AS chk, CAST(1 AS BIGINT) AS ok
    UNION ALL SELECT 'st_incr_novel_clean', CAST(1 AS BIGINT)
    UNION ALL SELECT 'st_incr_matches_batch_twin', CAST(1 AS BIGINT)
    """,
    description="STREAMING incremental dedup — dedup_incremental's arrival "
    "shape: the new batch arrives as a file STREAM "
    "(maxFilesPerTrigger=1, so micro-batches genuinely interleave) and "
    "each micro-batch's LSH band rows probe the STATIC corpus band "
    "index via a stream-static equi-join on (band_id, band_hash) — the "
    "production topology where the index is at rest (partitioned by "
    "band_id) and ingestion streams. The banding expressions "
    "(tokenize -> shingle-hash -> 32-family min -> band xxhash) are "
    "pure column math, so the SAME operator code runs under streaming "
    "semantics unchanged. Contracts (no ANSI oracle for xxhash): "
    "planted exact copies of corpus docs all surface, synthesized "
    "novel docs never do, and the streamed pair set EQUALS the batch "
    "operator's pair set exactly (streaming adds arrival semantics, "
    "not different answers).",
)
def st_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import types as T

    from accident_prediction_montreal_spark import cachereg
    from accident_prediction_montreal_spark.operators.dedup import (
        band_explode,
        banded_signatures,
        minhash_incremental_pairs,
        minhash_signature_hashed,
    )
    from accident_prediction_montreal_spark.operators.text import tokenize

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    dup_src = docs.filter(
        (F.col("doc_id") % 13 == 0) & (F.size(tokenize(F.col("text"))) >= 3)
    )
    planted = dup_src.select((F.col("doc_id") + 200_000).alias("doc_id"), "text")
    novel = docs.filter(F.col("doc_id") % 13 == 1).select(
        (F.col("doc_id") + 200_000).alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit(f"zq{i}x"), F.col("doc_id").cast("string"))
                for i in range(6)
            ],
        ).alias("text"),
    )
    new_batch = planted.unionByName(novel)

    # The batch lands as 3 parquet files; maxFilesPerTrigger=1 makes the
    # probe run across 3 genuine micro-batches.
    base, _ = _scratch("stincr", sf_dir)
    fix_dir = os.path.join(base, "batch")
    new_batch.repartition(3).write.mode("overwrite").parquet(fix_dir)

    # The at-rest index is persisted PRE-PARTITIONED on the probe key —
    # the cached HashPartitioning then satisfies every micro-batch's
    # join requirement, so only the (small) stream side shuffles per
    # batch instead of the whole index re-shuffling each trigger
    # (measured 2.8-4.4 → 2.5 s over 3 micro-batches at sf1; the
    # partition count is session.STATE_PARTITIONS — the SAME constant
    # the state_partitions pin applies to the stream side, so the two
    # can't silently drift apart).
    from accident_prediction_montreal_spark.session import STATE_PARTITIONS

    # The full (doc, sig, band_id, band_hash) index is persisted — not
    # the 3-column probe projection — because the batch-twin parity
    # check needs the signatures too: feeding both consumers from ONE
    # cached table removes the twin's second corpus-wide MinHash pass
    # (measured: the twin check was re-signaturing all ~52.5k docs from
    # scratch). Projections preserve the cached HashPartitioning, so
    # the stream probe's join requirement is still satisfied from
    # cache and only the stream side shuffles per micro-batch.
    bands_full = (
        banded_signatures(docs)
        .repartition(STATE_PARTITIONS, "band_id", "band_hash")
        .persist()
    )
    idx = bands_full.select(
        F.col("doc").alias("corpus_id"), "band_id", "band_hash"
    )
    cachereg.register("plans.st_incremental_dedup", bands_full)
    # Materialize the index BEFORE the stream starts: it is the at-rest
    # side by contract, and building it lazily inside the first
    # micro-batch would run the signature aggregation under the sink
    # runner's small state-partition pin (8-way instead of the session's
    # full parallelism — measured ~4x slower on the 52.5k-doc corpus).
    bands_full.count()

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(fix_dir)
    )
    # Map-only signature form on the stream side: the batch builder's
    # groupBy would be a streaming aggregation (watermark demanded in
    # append mode); the column expression computes the SAME values, and
    # the banding layout comes from the SAME band_explode helper the
    # corpus index used — the two sides cannot drift apart.
    stream_bands = (
        stream.select(
            F.col("doc_id").alias("new_id"),
            minhash_signature_hashed(F.col("text")).alias("sig"),
        )
        .filter(F.col("sig").isNotNull())
        .select("new_id", band_explode("sig").alias("band"))
        .select("new_id", "band.band_id", "band.band_hash")
    )
    # Raw band collisions stream out; the per-pair dedup happens on the
    # sink table (a stateful stream-side dropDuplicates would need a
    # watermark in append mode and buys nothing here — a pair's
    # duplicates all come from band multiplicity, not arrival order).
    probed = stream_bands.join(idx, ["band_id", "band_hash"]).select(
        "new_id", "corpus_id"
    )
    streamed = (
        drain(probed, "append")
        .dropDuplicates(["new_id", "corpus_id"])
        .persist()
    )

    expected = dup_src.select(
        (F.col("doc_id") + 200_000).alias("new_id"),
        F.col("doc_id").alias("corpus_id"),
    )
    missing = expected.join(streamed, ["new_id", "corpus_id"], "left_anti")
    novel_hits = streamed.join(
        novel.select(F.col("doc_id").alias("new_id")), "new_id", "left_semi"
    )
    # Band-collision candidates from the batch twin (threshold 0 keeps
    # every collision so the sets are comparable pre-scoring).
    twin = (
        minhash_incremental_pairs(
            new_batch, docs, min_est_jaccard=0.0, corpus_index=bands_full
        )
        .select("new_id", "corpus_id")
    )
    diff = streamed.join(twin, ["new_id", "corpus_id"], "left_anti").unionByName(
        twin.join(streamed, ["new_id", "corpus_id"], "left_anti")
    )
    row = (
        missing.agg(F.count(F.lit(1)).alias("n_missing"))
        .crossJoin(novel_hits.agg(F.count(F.lit(1)).alias("n_novel")))
        .crossJoin(diff.agg(F.count(F.lit(1)).alias("n_diff")))
    )
    return checks(row, {
        "st_incr_planted_found": F.col("n_missing") == 0,
        "st_incr_novel_clean": F.col("n_novel") == 0,
        "st_incr_matches_batch_twin": F.col("n_diff") == 0,
    })


@register(
    "m18_isotonic_calibration",
    oracle="""
    WITH scored AS (
      SELECT ((o_orderkey * 2654435761) % 1001) / 1000.0 AS prob,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
      FROM orders
    ),
    bins AS (
      SELECT CAST(LEAST(FLOOR(prob * 10), 9) AS INT) AS bin,
        CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(label) AS BIGINT) AS pos
      FROM scored GROUP BY 1
    ),
    iv AS (
      SELECT j.bin AS j, k.bin AS k,
        SUM(e.pos) / CAST(SUM(e.n) AS DOUBLE) AS a
      FROM bins j JOIN bins k ON j.bin <= k.bin
      JOIN bins e ON e.bin BETWEEN j.bin AND k.bin
      GROUP BY j.bin, k.bin
    ),
    mins AS (
      SELECT b.bin, iv.j, MIN(iv.a) AS m
      FROM bins b JOIN iv ON iv.j <= b.bin AND iv.k >= b.bin
      GROUP BY b.bin, iv.j
    ),
    fit AS (SELECT bin, MAX(m) AS iso FROM mins GROUP BY bin)
    SELECT b.bin, b.n,
      ROUND(b.pos / CAST(b.n AS DOUBLE), 6) AS frac_pos,
      ROUND(f.iso, 6) AS iso_prob
    FROM bins b JOIN fit f USING (bin) ORDER BY b.bin
    """,
    description="ISOTONIC CALIBRATION over the reliability bins — the "
    "monotone-map companion to m_calibration_bins (and the engine-"
    "checkable complement to MLlib's black-box IsotonicRegression): the "
    "weighted isotonic fit comes from the EXACT minimax closed form "
    "iso(i) = max over j<=i of min over k>=i of (pos[j..k] / n[j..k]) — "
    "equivalent to pool-adjacent-violators but expressed as two nested "
    "aggregations over interval sums of EXACT integers, so both engines "
    "compute identical doubles and the oracle checks the fitted values "
    "literally. Scale: the raw pass is the same one map-side-combined "
    "aggregation as the bins query; everything after operates on the "
    "10-row bin table (55 intervals, 100 (i,j) cells) — distributed "
    "joins over metadata-sized frames, no collect, O(B^3) only in the "
    "BIN count, never in rows.",
)
def m18_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    bins = (
        orders.select(
            (((F.col("o_orderkey") * 2654435761) % 1001) / 1000.0).alias("prob"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("label"),
        )
        .select(
            F.least(F.floor(F.col("prob") * 10), F.lit(9)).cast("int").alias("bin"),
            "label",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("label").cast("long").alias("pos"),
        )
    )
    j = bins.select(F.col("bin").alias("j"))
    k = bins.select(F.col("bin").alias("k"))
    e = bins.select(F.col("bin").alias("e"), "n", "pos")
    iv = (
        j.join(k, F.col("j") <= F.col("k"))
        .join(e, (F.col("e") >= F.col("j")) & (F.col("e") <= F.col("k")))
        .groupBy("j", "k")
        .agg((F.sum("pos") / F.sum("n").cast("double")).alias("a"))
    )
    b = bins.select(F.col("bin"), "n", "pos")
    mins = (
        b.join(iv, (F.col("j") <= F.col("bin")) & (F.col("k") >= F.col("bin")))
        .groupBy("bin", "j")
        .agg(F.min("a").alias("m"))
    )
    fit = mins.groupBy("bin").agg(F.max("m").alias("iso"))
    return (
        b.join(fit, "bin")
        .select(
            "bin",
            "n",
            F.round(F.col("pos") / F.col("n").cast("double"), 6).alias("frac_pos"),
            F.round("iso", 6).alias("iso_prob"),
        )
        .orderBy("bin")
    )


# --- round 9 additions (r10 rotate-in set) --------------------------------

from accident_prediction_montreal_spark.plans.snapshot_fixture import (  # noqa: E402
    REID_SHIFT as _CONTAIN_SHIFT,  # collision-proof re-id shift (2^40)
)
_CONTAIN_T = 0.9
_CONTAIN_CAP = 8


@register(
    "dedup_containment",
    oracle=f"""
    WITH toks0 AS (
      SELECT doc_id, CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
             ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS w
      FROM documents
    ),
    corpus AS (
      SELECT doc_id, w FROM toks0
      UNION ALL
      SELECT doc_id + {_CONTAIN_SHIFT},
             w[3:2 + CAST(floor(len(w) * 3 / 5.0) AS INT)]
      FROM toks0 WHERE doc_id % 17 = 0 AND len(w) >= 10
    ),
    sh AS (
      SELECT doc_id,
        UNNEST(list_distinct(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
      FROM corpus WHERE len(w) >= 3
    ),
    rare AS (
      SELECT doc_id, s FROM sh
      QUALIFY COUNT(*) OVER (PARTITION BY s) <= {_CONTAIN_CAP}
    ),
    sized AS (
      SELECT doc_id, s, COUNT(*) OVER (PARTITION BY doc_id) AS n_sh FROM rare
    ),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        ANY_VALUE(a.n_sh) AS n_a, ANY_VALUE(b.n_sh) AS n_b,
        COUNT(*) AS n_common
      FROM sized a JOIN sized b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    directed AS (
      SELECT id_a AS contained_id, id_b AS container_id,
             n_common / CAST(n_a AS DOUBLE) AS containment FROM inter
      UNION ALL
      SELECT id_b, id_a, n_common / CAST(n_b AS DOUBLE) FROM inter
    )
    SELECT contained_id, container_id, ROUND(containment, 6) AS containment
    FROM directed WHERE containment >= {_CONTAIN_T}
    ORDER BY contained_id, container_id
    """,
    description="Exact n-gram CONTAINMENT join (Broder 1997's asymmetric "
    "resemblance twin, operators/dedup.py::containment_pairs): "
    "containment(A->B) = |A inter B|/|A| over doc-freq-capped shingle "
    "sets — the SUBSET-duplication detector Jaccard structurally "
    "misses (a short doc quoted inside a long one has J ~ |A|/|B| -> 0 "
    "but containment 1.0), i.e. the quote/boilerplate/embedded-document "
    "shape of training-corpus dedup. Planted quotes (inner 60%% token "
    "slice of every 17th doc, re-ids'd at a collision-proof +2^40 — "
    "every shingle of a "
    "contiguous slice is a shingle of its source, so true containment "
    "is exactly 1.0 while Jaccard sits near 0.6 below near-dup "
    "thresholds) guarantee non-trivial asymmetric matches; the oracle "
    "replays the slice planting and the df-cap verbatim and computes "
    "BOTH directed ratios from an uncapped shared-shingle join, so a "
    "dropped direction, a mixed-up denominator, or cap drift all "
    "hash-mismatch. Plan: the SAME one-map bucketed inverted index as "
    "dedup_ngram_jaccard (shared core _shingle_pair_intersections) — "
    "the asymmetric join costs exactly what the symmetric one does.",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.dedup import containment_pairs
    from accident_prediction_montreal_spark.operators.text import tokenize

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    toks = tokenize(F.col("text"))
    keep = F.floor(F.size(toks) * 3 / F.lit(5.0)).cast("int")
    planted = docs.filter((F.col("doc_id") % 17 == 0) & (F.size(toks) >= 10)).select(
        (F.col("doc_id") + _CONTAIN_SHIFT).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 3, keep)).alias("text"),
    )
    corpus = docs.unionByName(planted)
    out = containment_pairs(
        corpus, "doc_id", "text", n=3,
        min_containment=_CONTAIN_T, max_doc_freq=_CONTAIN_CAP,
    )
    return out.select(
        "contained_id",
        "container_id",
        F.round("containment", 6).alias("containment"),
    ).orderBy("contained_id", "container_id")


@register(
    "text_ngram_novelty",
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
    firsts AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s),
    per AS (
      SELECT sh.doc_id, COUNT(*) AS n_sh,
        SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS n_novel
      FROM sh JOIN firsts f ON f.s = sh.s GROUP BY sh.doc_id
    )
    SELECT doc_id, CAST(n_sh AS BIGINT) AS n_shingles,
      CAST(n_novel AS BIGINT) AS n_novel,
      ROUND(n_novel / CAST(n_sh AS DOUBLE), 6) AS novelty
    FROM per ORDER BY doc_id
    """,
    description="Per-document n-gram NOVELTY — the curation-ordering "
    "statistic behind 'how much does each document add to the corpus': "
    "the fraction of a doc's distinct 3-gram shingles whose FIRST "
    "corpus occurrence (min doc_id under the ingestion order) is this "
    "document. Duplicates and boilerplate-heavy docs score near 0, "
    "fresh content near 1; the corpus-level novelty curve is the "
    "standard diminishing-returns diagnostic for dedup pressure. Plan: "
    "one shingle-hash map pass, a 16-byte-key min-aggregate for first "
    "attribution, one postings join back — work linear in total "
    "postings, no pair stage anywhere. Shingles are 64-bit hashes "
    "engine-side while the oracle uses the strings: min-doc attribution "
    "and counts are preserved under the injective hash (same argument "
    "as the Jaccard family).",
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from accident_prediction_montreal_spark.operators.dedup import word_shingle_hashes

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    post = docs.select(
        "doc_id", F.explode(word_shingle_hashes("text", 3)).alias("sh")
    )
    # First-introduction attribution as a WINDOW min over the shingle
    # partition — one corpus scan; the aggregate-then-join-back form
    # evaluated the tokenize/hash/explode map twice (audited: 2 parquet
    # scans vs 1 here, same single 16-byte-key shuffle).
    first_doc = F.min("doc_id").over(Window.partitionBy("sh"))
    return (
        post.withColumn("first_doc", first_doc)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("int"))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(
                F.col("n_novel") / F.col("n_shingles").cast("double"), 6
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


@register(
    "llm_decontaminate_semantic",
    oracle="""
    WITH valid AS (
      -- degenerate-vector contract (r14): cosine undefined for
      -- NULL/zero-norm vectors; both screen sides drop them
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE embedding IS NOT NULL
        AND list_dot_product(CAST(embedding AS DOUBLE[]),
                             CAST(embedding AS DOUBLE[])) > 0
    ),
    ev AS (
      SELECT vec_id + 20000000 AS eval_id, v AS ev_v
      FROM valid WHERE vec_id % 37 = 0
    ),
    tr AS (
      SELECT vec_id AS train_id, v AS tr_v FROM valid
    ),
    hits AS (
      SELECT train_id, eval_id,
        list_dot_product(tr_v, ev_v)
          / (sqrt(list_dot_product(tr_v, tr_v))
             * sqrt(list_dot_product(ev_v, ev_v))) AS cosine
      FROM tr CROSS JOIN ev
      WHERE list_dot_product(tr_v, ev_v)
          / (sqrt(list_dot_product(tr_v, tr_v))
             * sqrt(list_dot_product(ev_v, ev_v))) >= 0.95
    ),
    best AS (
      SELECT train_id, eval_id, cosine,
        ROW_NUMBER() OVER (PARTITION BY train_id
                           ORDER BY cosine DESC, eval_id ASC) AS rn
      FROM hits
    )
    SELECT train_id, eval_id, ROUND(cosine, 5) + 0.0 AS cosine
    FROM best WHERE rn = 1 ORDER BY train_id
    """,
    description="EMBEDDING-level train/eval DECONTAMINATION "
    "(operators/decontam.py::semantic_contamination) — the semantic "
    "screen run beside the n-gram one (llm_decontaminate): paraphrased "
    "eval leakage shares almost no shingles but keeps a high embedding "
    "cosine, so production reports both. Per contaminated train doc the "
    "BEST eval match (cosine >= 0.95, ties by eval_id) is returned as "
    "evidence. Fixture: every 37th embedding re-ids'd as the eval set, "
    "so each planted eval doc must flag exactly its origin at cosine "
    "1.0 while random high-dim pairs sit near 0 — engine-portable "
    "margins. Scale shape: the eval side (small by nature) is BROADCAST "
    "with the threshold applied inside the map pass, so the 100-TB "
    "train side never shuffles; only the already-flagged fraction "
    "reaches the per-train best-match window. Oracle: uncapped "
    "cross-join + list_dot_product with the same deterministic "
    "tie-break.",
)
def llm_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.decontam import (
        semantic_contamination,
    )

    from accident_prediction_montreal_spark.functions.vectors import valid_vectors

    # degenerate vectors drop (r14 contract; the operator itself REFUSES
    # NULL embeddings by design — the plan guarantees it never sees one)
    emb = valid_vectors(load_table(spark, "embeddings", sf_dir)).select(
        "vec_id", "embedding"
    )
    eval_set = emb.filter(F.col("vec_id") % 37 == 0).select(
        (F.col("vec_id") + 20_000_000).alias("eval_id"), "embedding"
    )
    train = emb.select(F.col("vec_id").alias("train_id"), "embedding")
    out = semantic_contamination(train, eval_set, threshold=0.95)
    return out.select(
        "train_id", "eval_id", (F.round("cosine", 5) + 0.0).alias("cosine")
    ).orderBy("train_id")


@register(
    "llm_decontaminate_semantic_bucketed",
    oracle="""
    WITH valid AS (
      -- degenerate-vector contract (r14): cosine undefined for
      -- NULL/zero-norm vectors; both screen sides drop them
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE embedding IS NOT NULL
        AND list_dot_product(CAST(embedding AS DOUBLE[]),
                             CAST(embedding AS DOUBLE[])) > 0
    ),
    ev AS (
      SELECT vec_id + 20000000 AS eval_id, v AS ev_v
      FROM valid WHERE vec_id % 37 = 0
    ),
    tr AS (
      SELECT vec_id AS train_id, v AS tr_v FROM valid
    ),
    hits AS (
      SELECT train_id, eval_id,
        list_dot_product(tr_v, ev_v)
          / (sqrt(list_dot_product(tr_v, tr_v))
             * sqrt(list_dot_product(ev_v, ev_v))) AS cosine
      FROM tr CROSS JOIN ev
      WHERE list_dot_product(tr_v, ev_v)
          / (sqrt(list_dot_product(tr_v, tr_v))
             * sqrt(list_dot_product(ev_v, ev_v))) >= 0.95
    ),
    best AS (
      SELECT train_id, eval_id, cosine,
        ROW_NUMBER() OVER (PARTITION BY train_id
                           ORDER BY cosine DESC, eval_id ASC) AS rn
      FROM hits
    )
    SELECT train_id, eval_id, ROUND(cosine, 5) + 0.0 AS cosine
    FROM best WHERE rn = 1 ORDER BY train_id
    """,
    description="GIANT-EVAL semantic decontamination — the IVF-bucketed "
    "scale path of llm_decontaminate_semantic "
    "(operators/decontam.py::_semantic_contamination_bucketed): when "
    "the eval side outgrows the broadcast cap, strategy='auto' routes "
    "through an IVF coarse quantizer fit on the EVAL side; each train "
    "vector probes only its n_probe nearest cells, so candidate cost is "
    "|train| x n_probe x avg cell size — never |train| x |eval| — and "
    "neither side touches the driver. Exact duplicates are guaranteed "
    "found via the quantizer's metric-matched self-hit property "
    "(operators/ivf.py: cosine cell assignment == the probe ranking), "
    "which is what makes the SAME exhaustive cross-join oracle as the "
    "broadcast query valid here: the fixture's only >=0.95 pairs are "
    "planted exact copies (max non-self cosine ~0.5 at every SF of the "
    "generator). Same output contract as the broadcast path.",
)
def llm_decontaminate_semantic_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from accident_prediction_montreal_spark.operators.decontam import (
        semantic_contamination,
    )

    from accident_prediction_montreal_spark.functions.vectors import valid_vectors

    # degenerate vectors drop (r14 contract; the operator itself REFUSES
    # NULL embeddings by design — the plan guarantees it never sees one)
    emb = valid_vectors(load_table(spark, "embeddings", sf_dir)).select(
        "vec_id", "embedding"
    )
    eval_set = emb.filter(F.col("vec_id") % 37 == 0).select(
        (F.col("vec_id") + 20_000_000).alias("eval_id"), "embedding"
    )
    train = emb.select(F.col("vec_id").alias("train_id"), "embedding")
    # n_cells=8/n_probe=2/max_iter=10: the quantizer fit is pure fixed
    # overhead on a benchmark-sized eval side (one tiny MLlib job per
    # iteration — 20 iters measured 2.8 s at sf0.1, ~all of it fit), and
    # the exactness contract rides the self-hit guarantee, which holds
    # at ANY (n_cells, n_probe >= 1); a giant eval side would instead
    # raise cells with the data (operators/decontam.py defaults).
    out = semantic_contamination(
        train, eval_set, threshold=0.95,
        strategy="bucketed", n_cells=8, n_probe=2, max_iter=10,
    )
    return out.select(
        "train_id", "eval_id", (F.round("cosine", 5) + 0.0).alias("cosine")
    ).orderBy("train_id")


@register(
    "llm_source_quota",
    oracle=None,  # set below: needs lcg_uniform_sql at import time
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


# Patch the oracle in (the registry stores a frozen QuerySpec, so
# re-register with the same fn + description).
from accident_prediction_montreal_spark.plans.registry import REGISTRY as _REG  # noqa: E402
from accident_prediction_montreal_spark.plans.registry import QuerySpec as _QS  # noqa: E402

_REG["llm_source_quota"] = _QS(
    fn=_REG["llm_source_quota"].fn,
    oracle=_source_quota_oracle(),
    description=_REG["llm_source_quota"].description,
)


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
    base, _ = _scratch("stquota", sf_dir)
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
    got = drain(admitted, "append").persist()

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
