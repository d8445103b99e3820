"""Text family (SURVEY.md §2.14) as queries: tokenization, quality signals and
classifiers, language id, fingerprints and token hashes, chunking and sequence
packing, TF-IDF, BM25, n-gram novelty, BPE merge candidates, PII scrubbing,
vocabulary coverage and perplexity, plus the corpus-preparation and pretraining
pipelines and the dataset card built from those operators. Every query shares
the tokenizer convention of operators/text.py::tokenize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from accident_prediction_montreal_spark import cachereg
from accident_prediction_montreal_spark.operators.mixing import (
    SALT_SAMPLE,
    SALT_SPLIT,
    lcg_uniform_sql,
)
from accident_prediction_montreal_spark.operators.text import (
    EMAIL_PATTERN,
    PHONE_PATTERN,
    STOPWORDS,
    fingerprint,
    language_id,
    text_quality,
    tokenize,
)
from accident_prediction_montreal_spark.plans.registry import register
from accident_prediction_montreal_spark.sources.registry import load_table


#: DuckDB token expression mirroring operators/text.py::tokenize.
SQL_TOKENS = (
    "CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) "
    "ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END"
)


# --- Text analysis ------------------------------------------------------------

def _stop_in(langcode: str) -> str:
    return ", ".join(f"'{w}'" for w in STOPWORDS[langcode])


@register(
    "text_quality_signals",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, text, {SQL_TOKENS} AS w FROM documents
    )
    SELECT doc_id,
      CAST(length(text) AS BIGINT) AS n_chars,
      CAST(len(w) AS BIGINT) AS n_tokens,
      ROUND(CASE WHEN len(w) > 0
        THEN length(regexp_replace(trim(lower(text)), '\\s+', '', 'g')) / CAST(len(w) AS DOUBLE)
        ELSE 0.0 END, 6) AS mean_word_len,
      ROUND(CASE WHEN length(text) > 0
        THEN (length(text) - length(regexp_replace(text, '[,.;:!?]', '', 'g')))
             / CAST(length(text) AS DOUBLE)
        ELSE 0.0 END, 6) AS punct_ratio,
      ROUND(CASE WHEN length(text) > 0
        THEN (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
             / CAST(length(text) AS DOUBLE)
        ELSE 0.0 END, 6) AS digit_ratio,
      ROUND(CASE WHEN len(w) > 0
        THEN len(list_filter(w, t -> t IN ({_stop_in("en")}))) / CAST(len(w) AS DOUBLE)
        ELSE 0.0 END, 6) AS stopword_ratio
    FROM toks
    """,
    description="Quality scoring: token/char counts, punct/digit/stopword ratios "
    "(text-analysis north star)",
)
def text_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    out = text_quality(docs, "text")
    return out.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("digit_ratio", 6).alias("digit_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
    )


def _lang_id_oracle() -> str:
    langs = sorted(STOPWORDS)  # matches the Spark reduce order
    hits = ",\n      ".join(
        f"len(list_filter(w, t -> t IN ({_stop_in(lang)}))) AS h_{lang}" for lang in langs
    )
    best = "GREATEST(" + ", ".join(f"h_{lang}" for lang in langs) + ")"
    case = " ".join(f"WHEN h_{lang} = {best} THEN '{lang}'" for lang in langs)
    return f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKENS} AS w FROM documents),
    scored AS (SELECT doc_id, {hits} FROM toks)
    SELECT doc_id,
      CASE WHEN {best} = 0 THEN 'und' {case} END AS lang_pred
    FROM scored
    """


@register(
    "text_language_id",
    oracle=_lang_id_oracle(),
    description="Stopword-hit language-ID heuristic, deterministic tie-break "
    "(text-analysis north star)",
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.select("doc_id", language_id("text").alias("lang_pred"))


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
      md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                              '\\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
    description="Canonicalized md5 document fingerprint (text-analysis north star)",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.select("doc_id", fingerprint("text").alias("fp"))


@register(
    "text_token_hash",
    oracle="""
    SELECT doc_id,
      CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+'))
           AS BIGINT) AS n_bpe_tokens,
      CAST(CASE WHEN length(text) > 0 THEN
        list_reduce(
          list_prepend(CAST(0 AS BIGINT),
            list_transform(range(1, length(text) + 1),
                           i -> CAST(ascii(text[i]) AS BIGINT))),
          (h, c) -> (h * 31 + c) % 1000003)
      ELSE 0 END AS BIGINT) AS roll_hash
    FROM documents
    """,
    description="BPE-ish regex token counting + Rabin-Karp rolling hash over the "
    "character stream (north-star token counting / fingerprinting): both "
    "pure JVM expressions (regexp_extract_all; sequence->transform->"
    "aggregate fold), overflow-safe under ANSI, mirrored term-for-term in "
    "the oracle's regexp/list_reduce.",
)
def text_token_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.text import (
        bpe_token_count,
        rolling_hash,
    )

    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        bpe_token_count("text").alias("n_bpe_tokens"),
        rolling_hash("text").alias("roll_hash"),
    )


_CHUNK_SIZE, _CHUNK_STRIDE = 32, 24


@register(
    "text_chunking",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKENS} AS w FROM documents),
    starts AS (
      SELECT doc_id, w,
        UNNEST(range(0,
          ((GREATEST(len(w) - {_CHUNK_SIZE}, 0) + {_CHUNK_STRIDE} - 1)
           // {_CHUNK_STRIDE}) + 1)) AS k
      FROM toks WHERE len(w) > 0
    )
    SELECT doc_id, CAST(k AS INT) AS chunk_id,
      array_to_string(w[(k*{_CHUNK_STRIDE} + 1):(k*{_CHUNK_STRIDE} + {_CHUNK_SIZE})], ' ')
        AS chunk_text,
      CAST(LEAST(k*{_CHUNK_STRIDE} + {_CHUNK_SIZE}, len(w)) - k*{_CHUNK_STRIDE} AS BIGINT)
        AS n_tokens
    FROM starts
    """,
    description="Overlapping token-window chunking (context-window splitting for "
    "pre-training): chunk k = tokens [k*stride+1, k*stride+size], tail always "
    "covered. sequence->slice->posexplode map stage, no shuffle, no UDF.",
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.text import chunk_documents

    docs = load_table(spark, "documents", sf_dir)
    return chunk_documents(
        docs, "doc_id", "text", chunk_size=_CHUNK_SIZE, stride=_CHUNK_STRIDE
    )


@register(
    "text_tfidf_topk",
    oracle=f"""
    WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
    tf AS (
      SELECT doc_id AS doc, UNNEST({SQL_TOKENS}) AS term FROM documents
    ),
    counts AS (
      SELECT doc, term, COUNT(*) AS tf FROM tf GROUP BY doc, term
    ),
    scored AS (
      SELECT doc, term, tf,
        CAST(COUNT(*) OVER (PARTITION BY term) AS BIGINT) AS df
      FROM counts
    )
    SELECT doc AS doc_id, term, tf, df,
      ROUND(tf * (ln((n_docs + 1) / CAST(df + 1 AS DOUBLE)) + 1), 6) AS tfidf,
      CAST(ROW_NUMBER() OVER (
        PARTITION BY doc
        ORDER BY tf * (ln((n_docs + 1) / CAST(df + 1 AS DOUBLE)) + 1) DESC, term ASC
      ) AS INT) AS rank
    FROM scored CROSS JOIN n
    QUALIFY rank <= 3
    """,
    description="Top-3 TF-IDF terms per document (smoothed sklearn idf): "
    "explode -> map-side-combined groupBy(doc, term), document frequency as "
    "count-over-window on the same shuffle output, broadcast scalar corpus "
    "size, deterministic term-ascending tie-break.",
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.text import tfidf_topk

    docs = load_table(spark, "documents", sf_dir)
    return tfidf_topk(docs, "doc_id", "text", k=3)


@register(
    "text_repetition",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKENS} AS w FROM documents),
    grams AS (
      SELECT doc_id,
        UNNEST(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g
      FROM toks WHERE len(w) >= 2
    ),
    counts AS (SELECT doc_id, g, COUNT(*) AS cnt FROM grams GROUP BY doc_id, g)
    SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
      CAST(COUNT(*) AS BIGINT) AS n_distinct,
      ROUND(1 - COUNT(*) / CAST(SUM(cnt) AS DOUBLE), 6) AS dup_frac,
      ROUND(MAX(cnt) / CAST(SUM(cnt) AS DOUBLE), 6) AS top_frac
    FROM counts GROUP BY doc_id
    """,
    description="Gopher-style within-document repetition signals (Rae et al. "
    "2021): duplicate-bigram mass and most-frequent-bigram fraction per "
    "document. Grams travel as 8-byte hashes (equality-preserving), "
    "explode -> map-side-combined counts -> per-doc aggregate: two bounded "
    "shuffles, no text shuffled. Oracle computes the same ratios over "
    "string bigrams.",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.text import repetition_signals

    docs = load_table(spark, "documents", sf_dir)
    return repetition_signals(docs, "doc_id", "text", n=2)


@register(
    "text_pii_scrub",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id,
        text || ' contact user' || doc_id || '@example.com or +1 (514) 555-'
             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
      FROM documents
    )
    SELECT doc_id,
      CAST(len(regexp_extract_all(t,
        '{EMAIL_PATTERN}')) AS BIGINT) AS n_emails,
      md5(regexp_replace(regexp_replace(t,
        '{EMAIL_PATTERN}', '<EMAIL>', 'g'),
        '{PHONE_PATTERN}', '<PHONE>', 'g')) AS masked_md5
    FROM planted
    """,
    description="PII scrubbing (pre-training text scrub): plant a deterministic "
    "email + phone per document, then mask emails and phone-shaped runs "
    "with a pure regexp_replace chain (no UDF, patterns chosen to behave "
    "identically on Java regex and RE2). The oracle re-plants, re-masks "
    "and compares match counts + md5 of the scrubbed text — a divergent "
    "mask hash-mismatches.",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.text import mask_pii

    docs = load_table(spark, "documents", sf_dir)
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 (514) 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("t"),
    )
    return planted.select(
        "doc_id",
        F.regexp_count("t", F.lit(EMAIL_PATTERN)).cast("long").alias("n_emails"),
        F.md5(mask_pii("t")).alias("masked_md5"),
    )


@register(
    "text_sequence_pack",
    oracle="""
    WITH sized AS (
      SELECT source AS shard, doc_id,
        -- COALESCE: NULL text packs as 0 tokens, the token_count
        -- convention (r14 fuzz triage)
        COALESCE(CASE WHEN trim(lower(text)) = '' THEN 0
             ELSE len(regexp_split_to_array(trim(lower(text)), '\\s+')) END,
             0) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT shard, doc_id, n_tokens,
        CAST(FLOOR((SUM(n_tokens) OVER w - n_tokens) / 512.0) AS BIGINT) AS seq_bin
      FROM sized
      WINDOW w AS (PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT shard, seq_bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_tokens) AS BIGINT) AS tok_sum
    FROM packed GROUP BY shard, seq_bin
    """,
    description="Sequence packing (pre-training batch assembly): documents are "
    "concatenated per source shard in doc_id order and wrapped every 512 "
    "tokens; a doc belongs to the bin where it starts. Per-shard window "
    "cumsum -> bin id -> per-bin stats. Sharding is the scale story: each "
    "shard packs independently, no global ordering.",
)
def text_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.packing import pack_sequences

    docs = load_table(spark, "documents", sf_dir)
    packed = pack_sequences(docs, capacity=512, shard_col="source")
    return packed.groupBy("shard", "seq_bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tok_sum"),
    )


@register(
    "text_quality_deciles",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, COALESCE(len({SQL_TOKENS}), 0) AS n_tokens FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
      CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
      TRUE AS edges_monotone, TRUE AS bins_within_edges,
      TRUE AS counts_match
    FROM sized
    """,
    description="Quality-score decile binning, the 100-TB default: documents "
    "bin against approx_percentile DECILE EDGES (10/20/…/90th, accuracy "
    "10000) broadcast as one row — a per-row bin assignment with NO "
    "global single-partition ntile sort anywhere in the plan (the "
    "r7-flagged scale killer; the exact-ntile form survives as "
    "text_quality_deciles_exact). Sketch edges are engine-specific, so "
    "the oracle checks INVARIANTS valid for ANY edge set plus exact "
    "corpus aggregates: doc count and global min/max token counts "
    "(value-exact both engines), edge monotonicity, every bin's "
    "[min,max] inside its half-open edge interval, and bin counts "
    "summing to the doc count.",
)
def text_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.text import token_count

    docs = cachereg.generation("plans.text_quality_deciles").persist(
        load_table(spark, "documents", sf_dir).select(
            "doc_id", token_count(F.col("text")).alias("n_tokens")
        )
    )
    qs = F.array(*[F.lit(i / 10.0) for i in range(1, 10)])
    edges = docs.agg(F.percentile_approx("n_tokens", qs, 10000).alias("__e"))
    v = F.col("n_tokens").cast("double")
    b = F.lit(1) + F.size(F.filter(F.col("__e"), lambda x: v > x))
    per_bin = (
        docs.crossJoin(F.broadcast(edges))
        .select(v.alias("v"), b.alias("bin"), F.col("__e").alias("edges"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("v").alias("vmin"),
            F.max("v").alias("vmax"),
            F.first("edges").alias("edges"),
        )
    )
    lo = F.when(F.col("bin") > 1, F.try_element_at("edges", F.col("bin") - 1))
    hi = F.try_element_at("edges", F.col("bin"))
    within = F.coalesce(F.col("vmin") > lo, F.lit(True)) & F.coalesce(
        F.col("vmax") <= hi, F.lit(True)
    )
    mono = F.aggregate(
        F.zip_with(
            F.slice("edges", 1, 8), F.slice("edges", 2, 8), lambda a_, b_: a_ <= b_
        ),
        F.lit(True),
        lambda acc, x: acc & x,
    )
    summary = per_bin.groupBy().agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.min("vmin").cast("long").alias("min_tokens"),
        F.max("vmax").cast("long").alias("max_tokens"),
        F.bool_and(mono).alias("edges_monotone"),
        F.bool_and(within).alias("bins_within_edges"),
    )
    totals = docs.groupBy().agg(F.count(F.lit(1)).cast("long").alias("__direct"))
    return summary.crossJoin(F.broadcast(totals)).select(
        "n_docs",
        "min_tokens",
        "max_tokens",
        "edges_monotone",
        "bins_within_edges",
        (F.col("n_docs") == F.col("__direct")).alias("counts_match"),
    )


@register(
    "text_quality_deciles_exact",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, COALESCE(len({SQL_TOKENS}), 0) AS n_tokens FROM documents
    ),
    tiled AS (
      SELECT doc_id, n_tokens,
        NTILE(10) OVER (ORDER BY n_tokens, doc_id) AS decile
      FROM sized
    )
    SELECT CAST(decile AS INT) AS decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
      CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
    FROM tiled GROUP BY decile
    """,
    description="Quality-score decile binning, EXACT-ntile parity twin of "
    "text_quality_deciles: ntile(10) over (score, id) — the unique "
    "tie-break makes tiling deterministic across engines — then "
    "per-decile stats. The global ntile is a single-partition sort BY "
    "CHOICE, the exactness price; the registered default bins against "
    "approx_percentile edges with full parallelism.",
)
def text_quality_deciles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.text import token_count

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    tiled = docs.withColumn(
        "decile",
        F.ntile(10).over(Window.orderBy(F.col("n_tokens").asc(), F.col("doc_id").asc())),
    )
    return tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )


@register(
    "llm_prepare_corpus",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, upper(text) || '  !!' FROM documents
      WHERE doc_id % 10 = 0
    ),
    toks AS (
      SELECT doc_id, text,
        CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
        ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS w
      FROM planted
    ),
    clean AS (
      SELECT doc_id, w FROM toks
      WHERE len(w) >= 20
        AND (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
            / CAST(length(text) AS DOUBLE) <= 0.2
        AND len(list_filter(w, t -> t IN ({{stop_en}})))
            / CAST(len(w) AS DOUBLE) >= 0.02
    ),
    deduped AS (
      SELECT doc_id, w FROM (
        SELECT t.doc_id, t.w,
          md5(trim(regexp_replace(regexp_replace(lower(p.text), '[^a-z0-9\\s]', '', 'g'),
                                  '\\s+', ' ', 'g'))) AS fp
        FROM clean t JOIN planted p USING (doc_id)
      )
      QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1
    ),
    starts AS (
      SELECT doc_id, w,
        UNNEST(range(0,
          ((GREATEST(len(w) - {_CHUNK_SIZE}, 0) + {_CHUNK_STRIDE} - 1)
           // {_CHUNK_STRIDE}) + 1)) AS k
      FROM deduped WHERE len(w) > 0
    )
    SELECT doc_id, CAST(k AS INT) AS chunk_id,
      CAST(LEAST(k*{_CHUNK_STRIDE} + {_CHUNK_SIZE}, len(w)) - k*{_CHUNK_STRIDE} AS BIGINT)
        AS n_tokens
    FROM starts
    """.replace("{stop_en}", _stop_in("en")),
    description="End-to-end LLM corpus preparation composite (north-star "
    "flagship): documents + planted reformatted duplicates (upper-case + "
    "whitespace/punctuation noise for every 10th doc) -> quality filter "
    "(min tokens, digit ratio, stopword ratio from text_quality) -> "
    "fingerprint dedup (canonical md5, ROW_NUMBER keeps the lowest doc_id "
    "— the planted variants MUST collapse onto their originals or the "
    "hash mismatches) -> overlapping token-window chunking. One pipeline "
    "of pure JVM map stages around a SINGLE shuffle (the dedup window) — "
    "the same plan shape a 100 TB corpus run needs.",
)
def llm_prepare_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.text import (
        chunk_documents,
        fingerprint,
        text_quality,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    variants = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("  !!")).alias("text"),
    )
    planted = docs.unionByName(variants)

    q = text_quality(planted, "text")
    clean = q.filter(
        (F.col("n_tokens") >= 20)
        & (F.col("digit_ratio") <= 0.2)
        & (F.col("stopword_ratio") >= 0.02)
    ).select("doc_id", "text")

    w = Window.partitionBy("fp").orderBy("doc_id")
    deduped = (
        clean.withColumn("fp", fingerprint("text"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "text")
    )
    return chunk_documents(
        deduped, "doc_id", "text", chunk_size=_CHUNK_SIZE, stride=_CHUNK_STRIDE
    ).select("doc_id", "chunk_id", "n_tokens")


_PRETRAIN_ORACLE_SQL = f"""
    WITH toks AS (
      SELECT doc_id, text, source,
        CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
        ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS w
      FROM documents
    ),
    clean AS (
      SELECT doc_id, text, source, w, len(w) AS n_tokens FROM toks
      WHERE len(w) >= 20
        AND (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
            / CAST(length(text) AS DOUBLE) <= 0.2
        AND len(list_filter(w, t -> t IN ({_stop_in("en")})))
            / CAST(len(w) AS DOUBLE) >= 0.02
    ),
    ev AS (SELECT * FROM clean WHERE doc_id % 10 = 0),
    train0 AS (SELECT * FROM clean WHERE doc_id % 10 <> 0),
    train AS (
      SELECT doc_id, source, w, n_tokens FROM (
        SELECT t.*,
          md5(trim(regexp_replace(regexp_replace(lower(t.text), '[^a-z0-9\\s]', '', 'g'),
                                  '\\s+', ' ', 'g'))) AS fp
        FROM train0 t
      )
      QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1
    ),
    sh AS (
      SELECT doc_id,
        UNNEST(list_distinct(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
      FROM (
        SELECT doc_id, w FROM train
        UNION ALL
        SELECT doc_id, w FROM ev
      ) WHERE len(w) >= 3
    ),
    capped AS (
      SELECT doc_id, s FROM sh
      QUALIFY COUNT(*) OVER (PARTITION BY s) <= 8
    ),
    pairs AS (
      SELECT t.doc_id AS train_id
      FROM capped t JOIN capped e ON t.s = e.s
      WHERE t.doc_id % 10 <> 0 AND e.doc_id % 10 = 0
      GROUP BY t.doc_id, e.doc_id
      HAVING COUNT(*) >= 2
    ),
    kept AS (
      SELECT * FROM train
      WHERE NOT EXISTS (SELECT 1 FROM pairs WHERE pairs.train_id = train.doc_id)
    ),
    d AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM kept GROUP BY source),
    t AS (SELECT CAST(SUM(n_docs) AS DOUBLE) AS total FROM d),
    wgt AS (
      SELECT source, n_docs,
        CAST(ROUND(sqrt(CAST(n_docs AS DOUBLE) / total), 12) AS DECIMAL(20,12)) AS pw
      FROM d, t
    ),
    rates AS (
      SELECT source, n_docs,
        LEAST(1.0, 0.5 * (SELECT total FROM t)
          * (CAST(pw AS DOUBLE) / CAST(SUM(pw) OVER () AS DOUBLE)) / n_docs) AS rate
      FROM wgt
    ),
    samp AS (
      SELECT k.source, k.n_tokens,
        {lcg_uniform_sql('k.doc_id', SALT_SPLIT)} AS u
      FROM kept k JOIN rates r USING (source)
      WHERE {lcg_uniform_sql('k.doc_id', SALT_SAMPLE)} < r.rate
    )
    SELECT source,
      CASE WHEN u < 0.5 THEN 'train' WHEN u < 0.75 THEN 'val' ELSE 'test' END AS split,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM samp GROUP BY 1, 2
    """


@register(
    "llm_pretrain_pipeline",
    oracle=_PRETRAIN_ORACLE_SQL,
    description="Capstone pretraining-data composite (north-star flagship "
    "#2, composing the r5 surface end-to-end): quality filter (min "
    "tokens, digit ratio, stopword ratio) -> fingerprint dedup (lowest "
    "doc_id per canonical md5) -> DECONTAMINATION against the held-out "
    "eval slice (doc_id%10==0; >=2 shared rare trigrams, combined "
    "doc-freq cap 8) -> temperature mixing (tau=0.5, target half the "
    "corpus, deterministic LCG keep) -> deterministic hash split "
    "(0.5/0.25/0.25) -> per (source, split) doc and exact token totals. "
    "Every stage is the registered operator itself (text_quality, "
    "fingerprint, decontaminate, temperature_sample, hash_split), so "
    "this query proves they COMPOSE: one lazy plan, shuffles only at "
    "the dedup window, the decontam postings bucket, and the final "
    "aggregate; the mixing/split stages are map-side (broadcast rates, "
    "pure id arithmetic).",
)
def llm_pretrain_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.decontam import decontaminate
    from accident_prediction_montreal_spark.operators.mixing import (
        hash_split,
        temperature_sample,
    )
    from accident_prediction_montreal_spark.operators.text import (
        fingerprint,
        text_quality,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text", "source")
    q = text_quality(docs, "text")
    clean = q.filter(
        (F.col("n_tokens") >= 20)
        & (F.col("digit_ratio") <= 0.2)
        & (F.col("stopword_ratio") >= 0.02)
    ).select("doc_id", "text", "source", "n_tokens")

    eval_df = clean.filter(F.col("doc_id") % 10 == 0)
    train0 = clean.filter(F.col("doc_id") % 10 != 0)
    w = Window.partitionBy("fp").orderBy("doc_id")
    train = (
        train0.withColumn("fp", fingerprint("text"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "text", "source", "n_tokens")
    )
    kept = decontaminate(train, eval_df, n=3, min_shared=2, max_doc_freq=8)
    sampled = temperature_sample(
        kept, "source", "doc_id", temperature=0.5, target_frac=0.5
    )
    split = hash_split(sampled, "doc_id", weights=(0.5, 0.25, 0.25))
    return split.groupBy("source", "split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


@register(
    "text_vocab_coverage",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
        unnest(CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
               ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS token
      FROM documents
    ),
    vocab AS (
      SELECT token FROM (
        SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token
      ) ORDER BY cnt DESC, token LIMIT 16
    ),
    per_doc AS (
      SELECT t.doc_id,
        COUNT(*) AS n_tokens,
        CAST(SUM(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_in_vocab
      FROM toks t LEFT JOIN vocab v USING (token)
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens, n_in_vocab FROM per_doc
    WHERE n_in_vocab * 100 >= 60 * n_tokens
    """,
    description="Corpus-vocabulary coverage filter (CCNet/Gopher-style OOV "
    "gate, north-star text analysis): top-16 corpus vocabulary by "
    "occurrence count (DESC count, ASC token — deterministic cut), then "
    "per-document in-vocab share with the vocabulary broadcast back; "
    "documents below 60% coverage drop. Integer-exact comparison "
    "(n_in_vocab*100 >= 60*n_tokens) — no float ratio to flake the hash. "
    "Vocabulary agg shuffles token cardinality (not corpus size); per-doc "
    "agg shuffles doc_id once; token stream deliberately unpersisted "
    "(corpus-sized — two streaming passes beat materializing it).",
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.text import vocab_coverage

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return vocab_coverage(docs, vocab_size=16, min_coverage_pct=60)


_BM25_TERMS = ["spark", "join", "window"]
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_oracle() -> str:
    tf_cols = ", ".join(
        f"len(list_filter(w, x -> x = '{t}')) AS tf_{t}" for t in _BM25_TERMS
    )
    df_cols = ", ".join(
        f"CAST(SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{t}"
        for t in _BM25_TERMS
    )
    score = " + ".join(
        f"ln(1 + (n_docs - df_{t} + 0.5) / (df_{t} + 0.5)) * tf_{t} * {_BM25_K1 + 1}"
        f" / (tf_{t} + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))"
        for t in _BM25_TERMS
    )
    return f"""
    WITH base AS (
      SELECT doc_id,
        CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
             ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS w
      FROM documents
    ),
    tf AS (
      SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl, {tf_cols} FROM base
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl, {df_cols}
      FROM tf
    )
    SELECT doc_id, ROUND({score}, 6) AS bm25
    FROM tf CROSS JOIN stats
    WHERE {" + ".join(f"tf_{t}" for t in _BM25_TERMS)} > 0
    ORDER BY ROUND({score}, 6) DESC, doc_id
    LIMIT 10
    """


@register(
    "text_bm25",
    oracle=_bm25_oracle(),
    description="BM25 retrieval ranking (text family, beside TF-IDF): "
    "top-10 documents for a fixed 3-term query, k1=1.2 b=0.75. Per-doc "
    "term frequencies are higher-order array filters (JVM-side, zero "
    "shuffle); corpus statistics (N, avgdl, per-term df) come from ONE "
    "1-row aggregate broadcast back with crossJoin — at 100 TB the "
    "scoring pass stays a pure map stage over the corpus with a "
    "scalar-broadcast join, and the only sort is the bounded top-k. "
    "Oracle replays tf/df/avgdl/idf in SQL; rounded scores order the "
    "cut with doc_id tie-break.",
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.dedup import _bind_once

    docs = load_table(spark, "documents", sf_dir)
    toks = tokenize(F.col("text"))

    def term_eq(term: str):
        # closure per term — NOT `lambda x, t=t`: a two-parameter lambda
        # makes pyspark pass the ELEMENT INDEX as the second argument,
        # silently rebinding t (see dedup.minhash_signature_hashed)
        return lambda x: x == F.lit(term)

    # dl + per-term tfs as ONE struct behind inline(): four separate
    # projection columns each re-evaluate tokenize (Catalyst does no CSE
    # across expressions, and project-collapse re-inlines aliases), a
    # measured 4x on the map stage at sf1. Generate is a collapse
    # barrier, so the struct — and the tokenizer — run exactly once;
    # _bind_once keeps the token array bound once INSIDE the struct.
    def packed(ts):
        return F.struct(
            F.size(ts).cast("double").alias("dl"),
            *[
                F.size(F.filter(ts, term_eq(t))).alias(f"tf_{t}")
                for t in _BM25_TERMS
            ],
        )

    # tf feeds BOTH the corpus-stats aggregate and the scoring pass;
    # persisted (cachereg) so the tokenizer map stage runs once total —
    # at 100 TB this is the "materialize the term-frequency table"
    # step every two-phase ranking pipeline has.
    tf = cachereg.generation("plans.text.bm25").persist(
        docs.select("doc_id", F.inline(F.array(_bind_once(toks, packed))))
    )
    stats = tf.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("int")).cast("double").alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    score = None
    for t in _BM25_TERMS:
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df_{t}") + 0.5) / (F.col(f"df_{t}") + 0.5)
        )
        part = (
            idf
            * F.col(f"tf_{t}")
            * (_BM25_K1 + 1)
            / (
                F.col(f"tf_{t}")
                + _BM25_K1
                * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
            )
        )
        score = part if score is None else score + part
    any_tf = None
    for t in _BM25_TERMS:
        c = F.col(f"tf_{t}")
        any_tf = c if any_tf is None else any_tf + c
    return (
        tf.crossJoin(F.broadcast(stats))
        .filter(any_tf > 0)
        .select("doc_id", F.round(score, 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
    )


@register(
    "text_quality_classifier",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKENS} AS w FROM documents),
    per AS (
      SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        -- NULL text -> NULL score (mirrors Spark's aggregate-over-NULL-
        -- array; DuckDB's list_prepend(0, NULL) would otherwise yield
        -- [0] and score 0 -- r14 registry-wide fuzz triage)
        CASE WHEN w IS NULL THEN NULL ELSE
        CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(w, t ->
            ((list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(range(1, length(t) + 1),
                               i -> CAST(ascii(t[i]) AS BIGINT))),
              (h, c) -> (h * 31 + c) % 1000003) % 64)
             * 2654435761) % 2001 - 1000)),
          (a, b) -> a + b) AS BIGINT) END AS score_milli
      FROM toks
    )
    SELECT doc_id, n_tokens, score_milli,
      ROUND(1.0 / (1.0 + exp(-(CAST(score_milli AS DOUBLE)
            / (1000.0 * GREATEST(n_tokens, 1))))), 6) + 0.0 AS prob,
      CAST(score_milli >= 0 AS BIGINT) AS keep
    FROM per
    """,
    description="Hashing-trick linear quality classifier (the fastText-style "
    "model-based filter stage of a pretraining pipeline, §2.14): each "
    "token 31-poly-hashes (rolling_hash convention) into 64 feature "
    "buckets whose integer milli-weights come from a Knuth "
    "multiplicative mix — the 'model' is a pure function, so there is "
    "no weight table to broadcast and the document score is an EXACT "
    "integer fold (bit-equal in any engine); sigmoid(prob) is the only "
    "float, rounded to 6. One map pass, zero shuffles, no UDF, no "
    "explode (operators/text.py::quality_classifier); a trained model "
    "swaps the weight function for a broadcast lookup with the same "
    "plan shape.",
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.text import (
        quality_classifier,
    )

    docs = load_table(spark, "documents", sf_dir)
    return quality_classifier(docs)


@register(
    "text_lm_perplexity",
    oracle="""
    WITH toks AS (SELECT doc_id, {tokens} AS w FROM documents),
    ex AS (SELECT doc_id, unnest(w) AS tok FROM toks),
    cnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM ex GROUP BY tok),
    tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS v
      FROM cnt
    ),
    nll AS (
      SELECT tok,
        CAST(ROUND(-ln((CAST(c AS DOUBLE) + 1.0)
             / (CAST(n AS DOUBLE) + CAST(v AS DOUBLE))), 9)
             AS DECIMAL(20,9)) AS q
      FROM cnt, tot
    ),
    per AS (
      SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, SUM(q) AS s
      FROM ex e JOIN nll USING (tok) GROUP BY e.doc_id
    )
    SELECT doc_id, n_tokens,
      ROUND(CAST(s AS DOUBLE) / n_tokens, 6) + 0.0 AS avg_nll,
      ROUND(exp(CAST(s AS DOUBLE) / n_tokens), 4) + 0.0 AS ppl
    FROM per
    """.replace("{tokens}", SQL_TOKENS),
    description="CCNet-style unigram-LM perplexity filter (Wenzek et al. 2020 "
    "pattern) — the third quality-filter modality next to the heuristic "
    "signals and the hashed classifier: an add-1-smoothed unigram model "
    "fit on the corpus scores each document's average per-token NLL and "
    "perplexity. Per-token NLLs are 9-decimal-rounded and summed as "
    "DECIMAL(20,9), so per-document totals are exact and order-"
    "independent in any engine. Scale: counts are one map-side-combined "
    "groupBy, the (N,V) normalizer a 1-row broadcast, scoring a hash "
    "join on token (stopword skew -> AQE skew split) + one reduce "
    "(operators/text.py::lm_perplexity).",
)
def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.text import lm_perplexity

    docs = load_table(spark, "documents", sf_dir)
    return lm_perplexity(docs)


@register(
    "text_bpe_merges",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({SQL_TOKENS}) AS t FROM documents
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
    "llm_dataset_card",
    oracle=f"""
    WITH per AS (
      SELECT source, n_chars,
        COALESCE(len({SQL_TOKENS}), 0) AS n_tokens,
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
