"""Training-data-pipeline operator inventory (north-star extensions):
dedup, similarity search, text analysis, event-time windows.

Queries without an ``oracle`` use engine-internal hashing (xxhash64) or
MLlib models that no ANSI oracle can replicate — the driver records the
weaker rows-only check for those, and tests/ cover their semantics with
hand-computed fixtures instead.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from accident_prediction_montreal_spark import cachereg
from accident_prediction_montreal_spark.functions.money import dsum
from accident_prediction_montreal_spark.functions.vectors import l2_norm, valid_vectors
from accident_prediction_montreal_spark.operators.components import connected_components
from accident_prediction_montreal_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from accident_prediction_montreal_spark.operators.mixing import (
    SALT_SAMPLE,
    SALT_SPLIT,
    lcg_uniform_sql,
)
from accident_prediction_montreal_spark.operators.sessionize import sessionize
from accident_prediction_montreal_spark.operators.similarity import brp_lsh_ann, cosine_topk
from accident_prediction_montreal_spark.operators.text import (
    STOPWORDS,
    fingerprint,
    language_id,
    text_quality,
)
from accident_prediction_montreal_spark.plans.registry import checks, register
from accident_prediction_montreal_spark.plans.relational_extra import _scratch
from accident_prediction_montreal_spark.sources.registry import load_table
from accident_prediction_montreal_spark.streaming.finite import (
    drain,
    events_stream,
    late_data_fixture,
    read_events_stream,
    two_batch_fixture,
)

# DuckDB token expression mirroring operators/text.py::tokenize.
_SQL_TOKENS = (
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
      SELECT doc_id, text, {_SQL_TOKENS} AS w FROM documents
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
    WITH toks AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
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
    WITH toks AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
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
      SELECT doc_id AS doc, UNNEST({_SQL_TOKENS}) AS term FROM documents
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
    WITH toks AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
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
    oracle="""
    WITH planted AS (
      SELECT doc_id,
        text || ' contact user' || doc_id || '@example.com or +1 (514) 555-'
             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
      FROM documents
    )
    SELECT doc_id,
      CAST(len(regexp_extract_all(t,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      md5(regexp_replace(regexp_replace(t,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\\+?[0-9][0-9()\\- ]{6,}[0-9]', '<PHONE>', 'g')) AS masked_md5
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
    from accident_prediction_montreal_spark.operators.text import (
        EMAIL_PATTERN,
        mask_pii,
    )

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


# --- Deduplication ---------------------------------------------------------------

@register(
    "dedup_exact",
    oracle="""
    SELECT doc_id, md5(text) AS text_hash FROM documents
    QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) = 1
    """,
    description="Exact dedup on content digest, keep smallest id (hash-groupBy dedup)",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).withColumn("text_hash", F.md5("text"))
    return exact_dedup(docs, ["text_hash"], "doc_id").select("doc_id", "text_hash")


# Shared DuckDB CTE chain computing the exact rare-shingle Jaccard pairs
# (mirrors ngram_jaccard_pairs(n=3, min_jaccard=0.05, max_doc_freq=4)).
# Used by the pair query AND as the edge set of the clustering oracle.
_JACCARD_CTES = """
    toks AS (
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
    rare AS (
      SELECT doc_id, s FROM sh
      QUALIFY COUNT(*) OVER (PARTITION BY s) <= 4
    ),
    sized AS (
      SELECT doc_id, s, COUNT(*) OVER (PARTITION BY doc_id) AS n_sh FROM rare
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        COUNT(*) / CAST(ANY_VALUE(a.n_sh) + ANY_VALUE(b.n_sh) - COUNT(*) AS DOUBLE)
          AS jaccard
      FROM sized a JOIN sized b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) / CAST(ANY_VALUE(a.n_sh) + ANY_VALUE(b.n_sh) - COUNT(*) AS DOUBLE) >= 0.05
    )
"""


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_JACCARD_CTES}
    SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard FROM pairs
    """,
    description="Exact n-gram Jaccard near-dup pairs over rare shingles "
    "(inverted-index join; max_doc_freq caps quadratic skew)",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    out = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, min_jaccard=0.05, max_doc_freq=4
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@register(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_CTES},
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    -- transitive min-label closure; only labels below the target node
    -- propagate (the component minimum always does), keeping the
    -- recursion linear in practice
    reach(node, r) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node
      WHERE reach.r < e.b
    ),
    comp AS (SELECT node, MIN(r) AS component_id FROM reach GROUP BY node)
    SELECT node AS doc_id, component_id,
      CAST(COUNT(*) OVER (PARTITION BY component_id) AS BIGINT) AS cluster_size
    FROM comp
    """,
    description="Near-dup CLUSTERS from the Jaccard pair graph: alternating "
    "large-star/small-star connected components (O(log n) rounds, two "
    "shuffles each, no neighbor-list materialization) — the keep-one-per-"
    "group step pair-based dedup needs. Oracle: DuckDB recursive min-label "
    "closure over the same edges.",
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, min_jaccard=0.05, max_doc_freq=4
    )
    comp = connected_components(pairs, src="id_a", dst="id_b")
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("component_id"),
        F.count(F.lit(1))
        .over(Window.partitionBy("component"))
        .cast("long")
        .alias("cluster_size"),
    )


def _zero_or_vacuous(c: str):
    """Check that violation count ``c`` is 0. An aggregate over an EMPTY
    input is NULL, and NULL == 0 is NULL where the literal-1 oracle
    expects 1, so an empty input passes vacuously (r14 registry-wide
    fuzz triage)."""
    return F.coalesce(F.col(c), F.lit(0)) == 0


@register(
    "dedup_near_invariants",
    oracle="""
    SELECT 'minhash_planted_pairs_found' AS chk, CAST(1 AS BIGINT) AS ok
    UNION ALL SELECT 'minhash_est_range', CAST(1 AS BIGINT)
    UNION ALL SELECT 'simhash_planted_identical', CAST(1 AS BIGINT)
    """,
    description="Driver-checkable invariants for the near-dup family, whose "
    "xxhash64 internals no ANSI oracle can replicate: plant exact copies of "
    "every 20th document under shifted ids, then require (a) MinHash+LSH "
    "banding to surface every planted pair (identical text -> identical "
    "signature -> same band buckets, est_jaccard 1), (b) every emitted pair "
    "to satisfy id_a < id_b and threshold <= est_jaccard <= 1, and (c) "
    "SimHash to assign planted copies identical signatures. The oracle pins "
    "each check to literal 1, so a broken hash pipeline hash-mismatches.",
)
def dedup_near_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    shift = 10_000_000
    min_est = 0.5
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    # A planted doc shorter than shingle_n tokens has a null MinHash
    # signature, so its pair can never be emitted — restrict the expected
    # set to docs that actually produce shingles (same tokenizer as the
    # pipeline) or the invariant would false-fail on degenerate docs.
    from accident_prediction_montreal_spark.operators.text import tokenize

    planted = docs.filter(
        (F.col("doc_id") % 20 == 0) & (F.size(tokenize(F.col("text"))) >= 3)
    )
    corpus = docs.unionByName(
        planted.select((F.col("doc_id") + shift).alias("doc_id"), "text")
    )

    # Both minhash checks come out of ONE pass over the candidate pairs
    # (a full-outer join against the expected planted pairs, then a single
    # aggregate): re-using the `pairs` DataFrame in two agg branches would
    # recompute the whole shingle→signature→band pipeline per branch —
    # Spark re-executes shared lineage per action branch, a 2x waste at
    # 100 TB.
    pairs = minhash_dedup_pairs(
        corpus, "doc_id", "text", num_hashes=32, bands=8, shingle_n=3,
        min_est_jaccard=min_est,
    )
    expected = planted.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + shift).alias("id_b"),
        F.lit(1).alias("planted"),
    )
    pair_valid = (
        (F.col("id_a") < F.col("id_b"))
        & (F.col("est_jaccard") >= min_est)
        & (F.col("est_jaccard") <= 1.0)
    )
    minhash_stats = pairs.join(expected, ["id_a", "id_b"], "full_outer").agg(
        F.sum(
            F.when(F.col("planted").isNotNull() & F.col("est_jaccard").isNull(), 1)
            .otherwise(0)
        ).alias("n_missing"),
        F.sum(
            F.when(F.col("est_jaccard").isNotNull() & ~pair_valid, 1).otherwise(0)
        ).alias("n_bad"),
    )

    sigs = corpus.select("doc_id", simhash("text").alias("sh"))
    orig = sigs.filter(F.col("doc_id") % 20 == 0).filter(F.col("doc_id") < shift)
    copy = sigs.filter(F.col("doc_id") >= shift).select(
        (F.col("doc_id") - shift).alias("doc_id"), F.col("sh").alias("sh_copy")
    )
    sim_stats = orig.join(copy, "doc_id").agg(
        F.sum(F.when(F.col("sh") == F.col("sh_copy"), 0).otherwise(1)).alias("n_sim_bad")
    )
    # a corpus with no plantable docs leaves the joins EMPTY: vacuous pass
    return checks(minhash_stats.crossJoin(sim_stats), {
        "minhash_planted_pairs_found": _zero_or_vacuous("n_missing"),
        "minhash_est_range": _zero_or_vacuous("n_bad"),
        "simhash_planted_identical": _zero_or_vacuous("n_sim_bad"),
    })


@register(
    "sim_ann_invariants",
    oracle="""
    SELECT 'lsh_self_hit' AS chk, CAST(1 AS BIGINT) AS ok
    UNION ALL SELECT 'lsh_k_bound', CAST(1 AS BIGINT)
    UNION ALL SELECT 'lsh_candidates_in_corpus', CAST(1 AS BIGINT)
    UNION ALL SELECT 'ivf_self_hit', CAST(1 AS BIGINT)
    UNION ALL SELECT 'ivf_k_bound', CAST(1 AS BIGINT)
    UNION ALL SELECT 'ivf_candidates_in_corpus', CAST(1 AS BIGINT)
    """,
    description="Driver-checkable invariants for both ANN scale paths "
    "(BRP-LSH buckets, IVF k-means cells — engine-internal, so no value "
    "oracle): a query drawn from the corpus must find itself at rank 1 "
    "(it always collides with its own bucket / lands in its own cell), "
    "every query returns between 1 and k neighbors, and every returned "
    "id exists in the corpus. Oracle pins each check to literal 1.",
)
def sim_ann_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.ivf import (
        build_ivf_index,
        ivf_cosine_topk,
    )

    k = 5
    # cosine-based contracts: degenerate vectors drop (r14 contract)
    emb = valid_vectors(load_table(spark, "embeddings", sf_dir))
    queries_lsh = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    queries_ivf = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    lsh = brp_lsh_ann(emb, queries_lsh, k=k)
    assigned, cents = build_ivf_index(emb, n_cells=8)
    ivf = ivf_cosine_topk(queries_ivf, assigned, cents, k=k, n_probe=3)

    def stats(method: str, out: DataFrame) -> DataFrame:
        # All three counts from ONE pass over the ANN output: reusing `out`
        # in three agg branches would re-run the whole LSH/IVF pipeline per
        # branch (Spark re-executes shared lineage per action branch).
        corpus_ids = emb.select("vec_id", F.lit(1).alias("in_corpus"))
        per_q = (
            out.join(F.broadcast(corpus_ids), "vec_id", "left")
            .groupBy("query_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                # self-hit at ANY rank <= k, not rank 1: exact duplicate
                # vectors tie at distance 0 and the (score, id ASC)
                # tie-break hands rank 1 to the smallest id (r14 fuzz,
                # all-duplicates corpus). Distance-0-ness is pinned by
                # sim_ann_lsh / sim_ann_ivf's own self-hit contracts.
                F.max(
                    F.when(F.col("query_id") == F.col("vec_id"), 1).otherwise(0)
                ).alias("self_hit"),
                F.sum(F.when(F.col("in_corpus").isNull(), 1).otherwise(0)).alias(
                    "n_stray"
                ),
            )
        )
        # Anchor on the query-id set: a query with ZERO result rows would
        # otherwise vanish from the groupBy and evade both checks.
        anchored = queries_ivf.select("query_id").join(per_q, "query_id", "left")
        return anchored.agg(
            F.sum(
                F.when(F.coalesce(F.col("self_hit"), F.lit(0)) == 0, 1).otherwise(0)
            ).alias(f"{method}_n_no_self"),
            F.sum(
                F.when(
                    (F.coalesce(F.col("n"), F.lit(0)) >= 1)
                    & (F.coalesce(F.col("n"), F.lit(0)) <= k),
                    0,
                ).otherwise(1)
            ).alias(f"{method}_n_bad_k"),
            F.sum(F.coalesce(F.col("n_stray"), F.lit(0))).alias(f"{method}_n_stray"),
        )

    return checks(stats("lsh", lsh).crossJoin(stats("ivf", ivf)), {
        "lsh_self_hit": _zero_or_vacuous("lsh_n_no_self"),
        "lsh_k_bound": _zero_or_vacuous("lsh_n_bad_k"),
        "lsh_candidates_in_corpus": _zero_or_vacuous("lsh_n_stray"),
        "ivf_self_hit": _zero_or_vacuous("ivf_n_no_self"),
        "ivf_k_bound": _zero_or_vacuous("ivf_n_bad_k"),
        "ivf_candidates_in_corpus": _zero_or_vacuous("ivf_n_stray"),
    })



_MINHASH_PLANT_OFFSET = 10_000_000


@register(
    "dedup_minhash_pairs",
    oracle="""
    SELECT 'minhash_planted_pairs_found_est_1' AS chk, CAST(1 AS BIGINT) AS ok
    UNION ALL SELECT 'minhash_est_jaccard_in_threshold_range', CAST(1 AS BIGINT)
    UNION ALL SELECT 'minhash_pair_id_ordering', CAST(1 AS BIGINT)
    UNION ALL SELECT 'minhash_pair_ids_in_corpus', CAST(1 AS BIGINT)
    """,
    description="MinHash+LSH candidate-pair contracts (xxhash64 signatures "
    "have no ANSI oracle, so the r6 upgrade reduces the REAL pair output "
    "to literal-1 checks): every PLANTED exact duplicate (each doc_id "
    "divisible by 17 with >=3 tokens re-inserted at id+1e7) must surface "
    "as a candidate pair with estimated Jaccard exactly 1.0 — identical "
    "text gives identical signatures in every band — plus est_jaccard "
    "respects the 0.5 threshold, pairs are id_a < id_b, and both sides "
    "come from the corpus. The bucket skew cap is lifted to 1e6 here so "
    "the check pins the BANDING math (the cap's drop semantics are "
    "pinned by dedup_ngram_jaccard's mirrored-cap oracle).",
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    from accident_prediction_montreal_spark.operators.text import tokenize

    plantable = docs.filter(
        (F.col("doc_id") % 17 == 0) & (F.size(tokenize(F.col("text"))) >= 3)
    )
    planted = plantable.select(
        (F.col("doc_id") + _MINHASH_PLANT_OFFSET).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(planted)
    pairs = minhash_dedup_pairs(
        corpus,
        "doc_id",
        "text",
        num_hashes=32,
        bands=8,
        shingle_n=3,
        # persist below: 3 contract subtrees read `pairs`; without it
        # the signature computation re-runs per subtree (X3 pattern).
        min_est_jaccard=0.5,
        max_bucket_size=1_000_000,
    ).persist()
    cachereg.register("plans.dedup_minhash_pairs", pairs)

    expected = plantable.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + _MINHASH_PLANT_OFFSET).alias("id_b"),
    )
    missing = expected.join(
        pairs.filter(F.col("est_jaccard") == 1.0), ["id_a", "id_b"], "left_anti"
    )
    # coalesce: min over an EMPTY pair set is NULL, and NULL==1 is NULL
    # where the oracle expects the vacuous 1 (r14 fuzz triage — a corpus
    # where no doc reaches 3 tokens emits zero candidate pairs)
    stats = pairs.agg(
        F.coalesce(
            F.min(
                ((F.col("est_jaccard") >= 0.5) & (F.col("est_jaccard") <= 1.0))
                .cast("long")
            ),
            F.lit(1),
        ).alias("rng"),
        F.coalesce(
            F.min((F.col("id_a") < F.col("id_b")).cast("long")), F.lit(1)
        ).alias("ordr"),
    )
    ids = corpus.select(F.col("doc_id").alias("cid"))
    stray = (
        pairs.select(F.col("id_a").alias("cid"))
        .unionByName(pairs.select(F.col("id_b").alias("cid")))
        .join(ids, "cid", "left_anti")
    )
    row = (
        missing.agg(F.count(F.lit(1)).alias("n_miss"))
        .crossJoin(stats)
        .crossJoin(stray.agg(F.count(F.lit(1)).alias("n_stray")))
    )
    return checks(row, {
        "minhash_planted_pairs_found_est_1": F.col("n_miss") == 0,
        "minhash_est_jaccard_in_threshold_range": F.col("rng") == 1,
        "minhash_pair_id_ordering": F.col("ordr") == 1,
        "minhash_pair_ids_in_corpus": F.col("n_stray") == 0,
    })


@register(
    "dedup_simhash",
    oracle="""
    SELECT 'simhash_range_0_2pow62' AS chk, CAST(1 AS BIGINT) AS ok
    UNION ALL SELECT 'simhash_identical_text_same_hash', CAST(1 AS BIGINT)
    UNION ALL SELECT 'simhash_odd_repetition_invariant', CAST(1 AS BIGINT)
    UNION ALL SELECT 'simhash_locality_near_lt_random', CAST(1 AS BIGINT)
    """,
    description="Driver-checkable SimHash invariants (xxhash64 internals have "
    "no ANSI oracle, so — like dedup_near_invariants — the checks are pinned "
    "to literal 1): (a) every signature lies in [0, 2^62); (b) identical "
    "text → identical signature; (c) voting is multiplicity-sign invariant: "
    "repeating a document's text an odd number of times (3x) cannot change "
    "any bit vote's sign, so the signature is unchanged; (d) LOCALITY, the "
    "property that makes SimHash a dedup primitive: the mean Hamming "
    "distance from a doc to its 25%%-truncated self is far below the mean "
    "distance between unrelated doc pairs (margin ≥ 5 bits of 62). All "
    "checks are deterministic given the data (xxhash64 is seedless here).",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.text import tokenize

    docs = (
        load_table(spark, "documents", sf_dir)
        .select("doc_id", "text")
        .withColumn("__toks", tokenize(F.col("text")))
        .filter(F.size("__toks") >= 8)
    )
    # One pass computes all four signature variants per doc; bitwise ops
    # and popcount are JVM built-ins (bit_count), no UDFs anywhere.
    keep = (F.size("__toks") * 3) / 4
    sigs = docs.select(
        "doc_id",
        simhash("text").alias("h"),
        simhash(F.col("text")).alias("h_again"),
        simhash(
            F.concat_ws(" ", F.col("text"), F.col("text"), F.col("text"))
        ).alias("h_x3"),
        simhash(F.concat_ws(" ", F.slice(F.col("__toks"), 1, keep.cast("int")))).alias(
            "h_trunc"
        ),
    )
    # Unrelated baseline: pair each doc with the doc whose id is "far away"
    # (rank-shifted by half the corpus) — deterministic, no sampling.
    w = Window.orderBy("doc_id")
    ranked = sigs.withColumn("__rn", F.row_number().over(w))
    n_docs = sigs.count()
    half = max(n_docs // 2, 1)
    shifted = ranked.select(
        ((F.col("__rn") - 1 + half) % n_docs + 1).alias("__rn"),
        F.col("h").alias("h_other"),
    )
    paired = ranked.join(shifted, "__rn")
    stats = paired.agg(
        F.sum(F.when((F.col("h") < 0) | (F.col("h") >= 2**62), 1).otherwise(0)).alias(
            "n_out_of_range"
        ),
        F.sum(F.when(F.col("h") != F.col("h_again"), 1).otherwise(0)).alias(
            "n_identical_mismatch"
        ),
        F.sum(F.when(F.col("h") != F.col("h_x3"), 1).otherwise(0)).alias(
            "n_rep_variant"
        ),
        F.avg(F.bit_count(F.col("h").bitwiseXOR(F.col("h_trunc")))).alias("d_near"),
        F.avg(F.bit_count(F.col("h").bitwiseXOR(F.col("h_other")))).alias("d_rand"),
        F.count(F.lit(1)).alias("n_paired"),
    )
    # an EMPTY qualified set (every doc under 8 tokens) passes vacuously
    return checks(stats, {
        "simhash_range_0_2pow62": _zero_or_vacuous("n_out_of_range"),
        "simhash_identical_text_same_hash": _zero_or_vacuous("n_identical_mismatch"),
        "simhash_odd_repetition_invariant": _zero_or_vacuous("n_rep_variant"),
        # locality is a STATISTICAL property of realistic corpora: the
        # truncated-vs-random margin concentrates as the paired count
        # grows, but a handful of tiny word-salad docs can legitimately
        # invert it (r14 fuzz triage drew one) — assert it only in the
        # regime where it is a claim, vacuous-pass below 32 paired docs
        # (every sf fixture is far above; the check keeps its bite where
        # it means something).
        "simhash_locality_near_lt_random": (F.coalesce(F.col("n_paired"), F.lit(0)) < 32)
        | (F.col("d_near") + 5.0 < F.col("d_rand")),
    })


# --- Similarity search --------------------------------------------------------------

@register(
    "sim_cosine_topk",
    oracle="""
    WITH e AS (
      -- degenerate-vector contract (functions/vectors.valid_vectors):
      -- NULL and zero-norm vectors can never be cosine neighbors
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE embedding IS NOT NULL
        AND list_dot_product(CAST(embedding AS DOUBLE[]),
                             CAST(embedding AS DOUBLE[])) > 0
    ),
    q AS (
      SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10
    ),
    pairs AS (
      SELECT q.query_id, e.vec_id,
        list_dot_product(q.qv, e.v)
        / (sqrt(list_dot_product(q.qv, q.qv))
           * sqrt(list_dot_product(e.v, e.v))) AS cosine
      FROM e CROSS JOIN q
    )
    SELECT query_id, vec_id, ROUND(cosine, 6) + 0.0 AS cosine, CAST(rn AS BIGINT) AS "rank"
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id ASC) AS rn
      FROM pairs
    ) WHERE rn <= 5
    """,
    description="Brute-force cosine top-k ANN baseline: broadcast queries, "
    "JVM-side vector math, windowed top-k",
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = cosine_topk(queries, emb, k=5)
    return out.select(
        "query_id",
        "vec_id",
        (F.round("cosine", 6) + 0.0).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


@register(
    "sim_ann_lsh",
    oracle="""
    SELECT 'lsh_self_hit_dist_zero' AS chk, CAST(1 AS BIGINT) AS ok
    UNION ALL SELECT 'lsh_k_bound_and_rank_dense', CAST(1 AS BIGINT)
    UNION ALL SELECT 'lsh_results_in_corpus', CAST(1 AS BIGINT)
    UNION ALL SELECT 'lsh_dist_monotone_in_rank', CAST(1 AS BIGINT)
    """,
    description="BucketedRandomProjectionLSH approximate-NN contracts (MLlib's "
    "random hyperplanes have no ANSI oracle; r6 upgrade reduces the REAL "
    "(query_id, vec_id, dist, rank) output to literal-1 checks): each "
    "query vector is drawn from the corpus, so its own bucket always "
    "collides — every query must surface ITSELF at distance 0; at most "
    "k=5 results per query with ranks exactly 1..n; every candidate "
    "from the corpus; distance non-decreasing in rank. Deterministic at "
    "seed 42. Measured recall is pinned separately by sim_ann_recall.",
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL embeddings drop (unencodable); zero-norm KEPT — euclidean
    # distances are defined for them (degenerate-vector contract, r14).
    emb = valid_vectors(
        load_table(spark, "embeddings", sf_dir), positive_norm=False
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brp_lsh_ann(emb, queries, k=5)
    return _ann_contract_checks(out, emb, queries, "lsh", "dist", ascending=True)


@register(
    "sim_ann_ivf",
    oracle="""
    SELECT 'ivf_self_hit_dist_zero' AS chk, CAST(1 AS BIGINT) AS ok
    UNION ALL SELECT 'ivf_k_bound_and_rank_dense', CAST(1 AS BIGINT)
    UNION ALL SELECT 'ivf_results_in_corpus', CAST(1 AS BIGINT)
    UNION ALL SELECT 'ivf_dist_monotone_in_rank', CAST(1 AS BIGINT)
    """,
    description="IVF approximate-NN contracts (k-means coarse cells + n_probe "
    "scan; cell assignments are engine-internal, so the r6 upgrade pins "
    "the REAL top-k output's contracts to literal 1): every query (drawn "
    "from the corpus) is assigned to its own nearest cell, which is "
    "always probed first, so the query must surface ITSELF at cosine 1; "
    "at most k=5 results per query with dense ranks; candidates from "
    "the corpus; cosine non-increasing in rank. Measured recall is "
    "pinned by sim_ann_recall.",
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.ivf import (
        build_ivf_index,
        ivf_cosine_topk,
    )

    # cosine metric: NULL and zero-norm vectors drop (self-hit at
    # cosine 1 is undefined for them; degenerate-vector contract, r14)
    emb = valid_vectors(load_table(spark, "embeddings", sf_dir))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    assigned, cents = build_ivf_index(emb, n_cells=8)
    out = ivf_cosine_topk(queries, assigned, cents, k=5, n_probe=3)
    return _ann_contract_checks(out, emb, queries, "ivf", "cosine", ascending=False)


def _ann_contract_checks(
    out: DataFrame,
    emb: DataFrame,
    queries: DataFrame,
    prefix: str,
    score_col: str,
    ascending: bool,
) -> DataFrame:
    """Shared (chk, ok) reduction for the two ANN scale paths: self-hit,
    k bound + dense ranks, corpus membership, score monotone in rank."""
    if ascending:  # euclidean distance: self-hit at dist 0, best = min
        self_hit = F.col(score_col) <= 1e-9
        mono = F.col(score_col) >= F.lag(score_col).over(
            Window.partitionBy("query_id").orderBy("rank")
        )
    else:  # cosine: self-hit at 1, best = max
        self_hit = F.col(score_col) >= 1.0 - 1e-9
        mono = F.col(score_col) <= F.lag(score_col).over(
            Window.partitionBy("query_id").orderBy("rank")
        )

    per_q = out.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("rank").alias("max_rank"),
        F.countDistinct("rank").alias("n_ranks"),
    )
    stray = out.select("vec_id").join(emb.select("vec_id"), "vec_id", "left_anti")
    row = (
        out.filter((F.col("query_id") == F.col("vec_id")) & self_hit)
        .agg(F.countDistinct("query_id").alias("n_self"))
        .crossJoin(queries.agg(F.count(F.lit(1)).alias("n_q")))
        .crossJoin(
            per_q.agg(
                F.min(
                    (
                        (F.col("n") <= 5)
                        & (F.col("max_rank") == F.col("n"))
                        & (F.col("n_ranks") == F.col("n"))
                    ).cast("long")
                ).alias("k_ok")
            )
        )
        .crossJoin(stray.agg(F.count(F.lit(1)).alias("n_stray")))
        .crossJoin(
            out.withColumn("__ok", F.coalesce(mono, F.lit(True)))
            .agg(F.min(F.col("__ok").cast("long")).alias("mono_ok"))
        )
    )
    return checks(row, {
        f"{prefix}_self_hit_dist_zero": F.col("n_self") == F.col("n_q"),
        f"{prefix}_k_bound_and_rank_dense": F.col("k_ok") == 1,
        f"{prefix}_results_in_corpus": F.col("n_stray") == 0,
        f"{prefix}_dist_monotone_in_rank": F.col("mono_ok") == 1,
    })


@register(
    "sim_ann_recall",
    oracle="""
    SELECT 'lsh_recall_at_10_ge_0.8' AS chk, CAST(1 AS BIGINT) AS ok
    UNION ALL SELECT 'ivf_recall_at_10_ge_0.8', CAST(1 AS BIGINT)
    """,
    description="MEASURED recall@10 for both ANN scale paths against the "
    "exact cosine top-k, at fixed seeds: 50 queries (every 10th vector), "
    "vectors L2-normalized first so BRP-LSH's euclidean ranking and the "
    "exact cosine ranking agree (d^2 = 2 - 2cos on the unit sphere). "
    "Recall = |approx top-10 ∩ exact top-10| / (n_queries * 10), computed "
    "in one join pass (exact pipeline evaluated once; denominators from a "
    "1-row crossJoin, no driver action). The oracle pins recall >= 0.8 "
    "for both methods; a hash/quantizer regression drops recall and "
    "mismatches. Measured values are published in PERF.md.",
)
def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.ivf import (
        build_ivf_index,
        ivf_cosine_topk,
    )

    k, floor = 10, 0.8
    # Norm computed ONCE per row (a transform lambda referencing l2_norm
    # would re-evaluate the whole fold per element — O(d^2) per vector).
    emb = (
        valid_vectors(
            load_table(spark, "embeddings", sf_dir), positive_norm=False
        )
        .select("vec_id", F.col("embedding").cast("array<double>").alias("_v"))
        .withColumn("_n", l2_norm("_v"))
        # one fold: the zero-norm drop reuses _n instead of a second
        # sq_norm pass (degenerate-vector contract, cost-free form)
        .filter(F.col("_n") > 0.0)
        .select(
            "vec_id",
            # try_divide, though zero norms are filtered: Catalyst can
            # hoist this transform into a broadcast-side Filter predicate
            # evaluated BEFORE the positive-norm conjunct (the r14 fuzz
            # caught the ANSI crash); values on surviving rows are
            # identical, pre-filter rows get harmless NULLs.
            F.transform("_v", lambda x: F.try_divide(x, F.col("_n"))).alias(
                "embedding"
            ),
        )
    )
    q_filter = F.col("vec_id") % 10 == 0
    queries_v = emb.filter(q_filter).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    queries_lsh = emb.filter(q_filter).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    # n_probe=5 of 8 cells: the synthetic embeddings are near-uniform on
    # the sphere (worst case for coarse quantization); measured recall@10
    # is 0.86 here vs 0.70 at n_probe=3. Clustered real-world embeddings
    # need far fewer probes for the same recall.
    exact = cosine_topk(queries_v, emb, k=k)
    lsh = brp_lsh_ann(emb, queries_lsh, k=k, bucket_length=0.5, num_hash_tables=3)
    assigned, cents = build_ivf_index(emb, n_cells=8)
    ivf = ivf_cosine_topk(queries_v, assigned, cents, k=k, n_probe=5)

    hits = lsh.select("query_id", "vec_id", F.lit("lsh").alias("method")).unionByName(
        ivf.select("query_id", "vec_id", F.lit("ivf").alias("method"))
    )
    matched = hits.join(
        exact.select("query_id", "vec_id", F.lit(1).alias("in_exact")),
        ["query_id", "vec_id"],
        "left",
    )
    # Denominator = |exact top-k| = n_q * min(k, |corpus|), NOT n_q * k:
    # a corpus smaller than k has fewer than k exact neighbors per
    # query, and the old denominator made a PERFECT approximate result
    # read recall < 1 (r14 embeddings fuzz, single-vector corpus).
    # Anchoring on a literal 2-row method table keeps the contract
    # 2-row even when the corpus is empty (vacuous pass, like the
    # degenerate-input conventions of x13/a21).
    n_q = queries_v.select(F.count(F.lit(1)).alias("n_q"))
    n_c = emb.select(F.count(F.lit(1)).alias("n_c"))
    methods = spark.createDataFrame([("ivf",), ("lsh",)], "method STRING")
    per_method = (
        methods.join(
            matched.groupBy("method").agg(
                F.sum(F.coalesce("in_exact", F.lit(0))).alias("n_match")
            ),
            "method",
            "left",
        )
        .crossJoin(F.broadcast(n_q))
        .crossJoin(F.broadcast(n_c))
        .withColumn(
            "recall",
            F.try_divide(
                F.coalesce("n_match", F.lit(0)),
                F.col("n_q") * F.least(F.lit(k), F.col("n_c")),
            ),
        )
    )
    return per_method.select(
        F.concat(F.col("method"), F.lit(f"_recall_at_{k}_ge_{floor}")).alias("chk"),
        F.when(F.col("n_q") == 0, 1)
        .when(F.col("recall") >= floor, 1)
        .otherwise(0)
        .cast("long")
        .alias("ok"),
    ).orderBy("chk")


@register(
    "sim_embedding_stats",
    oracle="""
    SELECT label, COUNT(*) AS n,
      -- CASE guard: NULL embeddings stay in n (corpus accounting) but
      -- have no norm; DuckDB 1.0.0's list_dot_product also ERRORS on
      -- unguarded parquet-read NULL lists
      ROUND(AVG(CASE WHEN embedding IS NOT NULL THEN
        sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                              CAST(embedding AS DOUBLE[]))) END), 6) AS avg_norm
    FROM embeddings GROUP BY label
    """,
    description="Per-label embedding norm statistics (vector column hygiene "
    "check). NULL embeddings count toward n but contribute no norm (Spark's "
    "avg skips the NULL fold result; the oracle's CASE mirrors it).",
)
def sim_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(l2_norm("embedding")), 6).alias("avg_norm"),
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH valid AS (
      -- degenerate-vector contract: NULL/zero-norm can't be near-dups
      SELECT vec_id, embedding FROM embeddings
      WHERE embedding IS NOT NULL
        AND list_dot_product(CAST(embedding AS DOUBLE[]),
                             CAST(embedding AS DOUBLE[])) > 0
    ),
    planted AS (
      SELECT vec_id + 10000000 AS vec_id, embedding
      FROM valid WHERE vec_id % 50 = 0
    ),
    corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM valid
      UNION ALL
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM planted
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      ROUND(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
            5) + 0.0 AS cosine
    FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
          >= 0.95
    """,
    description="Embedding-cosine near-dup pairs (LLM-pipeline north star): "
    "planted copies of every 50th vector must pair with their originals at "
    "cosine ~1; random high-dim pairs sit near 0, far from the 0.95 "
    "threshold, so the filter is engine-portable. Exact O(n^2) verification "
    "baseline — the scale path runs the same predicate inside LSH buckets "
    "(brp_lsh_ann) or IVF cells.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.similarity import (
        embedding_cosine_pairs,
    )

    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(planted)
    out = embedding_cosine_pairs(corpus, threshold=0.95)
    return out.select("id_a", "id_b", (F.round("cosine", 5) + 0.0).alias("cosine"))


@register(
    "mm_payload_stats",
    oracle="""
    SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, md5(text) AS payload_md5
    FROM documents
    """,
    description="Arrow-batched pandas-UDF path under the oracle gate (F7/F8, "
    "multimodal north star): text bytes as an opaque binary payload -> "
    "mapInPandas computes per-payload byte length + md5 in Python, one "
    "pandas DataFrame per Arrow batch -- value-identical to the SQL "
    "engine's md5/strlen over the same bytes.",
)
def mm_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.multimodal import payload_stats

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return payload_stats(docs, id_col="doc_id", payload_col="payload")


@register(
    "mm_wav_decode",
    oracle="""
    WITH samp AS (
      SELECT doc_id, unnest(range(0, 100 + doc_id % 50)) AS i FROM documents
    ), v AS (
      SELECT doc_id,
        CAST((doc_id * 7919 + i * 104729) % 65536 - 32768 AS DOUBLE) AS s
      FROM samp
    )
    SELECT doc_id AS media_id, CAST(16000 AS BIGINT) AS sample_rate,
      COUNT(*) AS n_samples,
      ROUND(AVG(s), 6) + 0.0 AS mean_amp,
      ROUND(sqrt(AVG(s * s)), 6) + 0.0 AS rms_amp
    FROM v GROUP BY doc_id
    """,
    description="REAL (de-stubbed) media decode under the value-oracle gate: "
    "per document, synthesize a mono PCM16 WAV payload whose samples are a "
    "closed-form function of doc_id (Arrow-batched encode), then DECODE the "
    "binary container for real — operators/multimodal.py::decode_wav walks "
    "RIFF chunks, parses the fmt header, extracts PCM16 — and emit "
    "sample_rate/n_samples/mean/RMS. The oracle recomputes the same stats "
    "from the closed form, so a decoder that misparses the header, drops "
    "samples, or mis-signs PCM hash-mismatches. Samples are integer-valued, "
    "so double sums are EXACT in both engines. Image/video formats stay "
    "stubbed (no PIL/ffmpeg in the container); the WAV path proves the "
    "payload->decode->features plumbing end to end.",
)
def mm_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from accident_prediction_montreal_spark.operators.multimodal import (
        encode_wav_pcm16,
        wav_features,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id")

    enc_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def encode_batches(batches):
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                n = 100 + d % 50
                i = np.arange(n, dtype=np.int64)
                s = (d * 7919 + i * 104729) % 65536 - 32768
                payloads.append(encode_wav_pcm16(s))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    media = docs.mapInPandas(encode_batches, schema=enc_schema)
    out = wav_features(media)
    return out.select(
        "media_id",
        "sample_rate",
        "n_samples",
        (F.round("mean_amp", 6) + 0.0).alias("mean_amp"),
        (F.round("rms_amp", 6) + 0.0).alias("rms_amp"),
    )


@register(
    "mm_ppm_decode",
    oracle="""
    WITH dims AS (
      SELECT doc_id, 8 + doc_id % 8 AS w, 6 + doc_id % 6 AS h FROM documents
    ), px AS (
      SELECT doc_id, w, h, unnest(range(0, w * h * 3)) AS p FROM dims
    ), v AS (
      SELECT doc_id, w, h, p % 3 AS chan,
        CAST((doc_id * 13 + p * 17) % 256 AS DOUBLE) AS val
      FROM px
    )
    SELECT doc_id AS media_id,
      CAST(MAX(w) AS BIGINT) AS width, CAST(MAX(h) AS BIGINT) AS height,
      ROUND(AVG(val) FILTER (chan = 0), 6) + 0.0 AS mean_r,
      ROUND(AVG(val) FILTER (chan = 1), 6) + 0.0 AS mean_g,
      ROUND(AVG(val) FILTER (chan = 2), 6) + 0.0 AS mean_b
    FROM v GROUP BY doc_id
    """,
    description="REAL image decode twin of mm_wav_decode: per document, "
    "synthesize a binary PPM (P6) whose RGB8 raster is a closed-form "
    "function of doc_id, then DECODE it for real — "
    "operators/multimodal.py::decode_ppm parses the ASCII header "
    "(dimensions, maxval, comments) and the packed raster — emitting "
    "width/height/per-channel means, value-checked against the closed "
    "form. Pixel values are integers, so double means are exact in both "
    "engines.",
)
def mm_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from accident_prediction_montreal_spark.operators.multimodal import (
        encode_ppm_p6,
        ppm_features,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id")

    enc_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def encode_batches(batches):
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                w, h = 8 + d % 8, 6 + d % 6
                p = np.arange(w * h * 3, dtype=np.int64)
                payloads.append(encode_ppm_p6((d * 13 + p * 17) % 256, w, h))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    media = docs.mapInPandas(encode_batches, schema=enc_schema)
    out = ppm_features(media)
    return out.select(
        "media_id",
        "width",
        "height",
        (F.round("mean_r", 6) + 0.0).alias("mean_r"),
        (F.round("mean_g", 6) + 0.0).alias("mean_g"),
        (F.round("mean_b", 6) + 0.0).alias("mean_b"),
    )


@register(
    "mm_pgm_decode",
    oracle="""
    WITH dims AS (
      SELECT doc_id, 8 + doc_id % 9 AS w, 5 + doc_id % 7 AS h FROM documents
    ), px AS (
      SELECT doc_id, w, h, unnest(range(0, w * h)) AS p FROM dims
    ), v AS (
      SELECT doc_id, w, h,
        CAST((doc_id * 7 + p * 13) % 256 AS DOUBLE) AS val
      FROM px
    )
    SELECT doc_id AS media_id,
      CAST(MAX(w) AS BIGINT) AS width, CAST(MAX(h) AS BIGINT) AS height,
      ROUND(AVG(val), 6) + 0.0 AS mean_gray,
      MAX(val) AS max_gray
    FROM v GROUP BY doc_id
    """,
    description="REAL grayscale decode (r5 verdict #7, shrinking the "
    "stubbed image surface further): per document, synthesize a binary "
    "PGM (P5) whose 8-bit raster is a closed-form function of doc_id, "
    "then DECODE it for real — operators/multimodal.py::decode_pgm "
    "parses the shared PNM ASCII header grammar and the 1-byte/pixel "
    "raster — emitting width/height/mean/max, value-checked against the "
    "closed form. Integer pixel values keep the double mean exact in "
    "both engines.",
)
def mm_pgm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from accident_prediction_montreal_spark.operators.multimodal import (
        encode_pgm_p5,
        pgm_features,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id")

    enc_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def encode_batches(batches):
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                w, h = 8 + d % 9, 5 + d % 7
                p = np.arange(w * h, dtype=np.int64)
                payloads.append(encode_pgm_p5((d * 7 + p * 13) % 256, w, h))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    media = docs.mapInPandas(encode_batches, schema=enc_schema)
    out = pgm_features(media)
    return out.select(
        "media_id",
        "width",
        "height",
        (F.round("mean_gray", 6) + 0.0).alias("mean_gray"),
        "max_gray",
    )


@register(
    "mm_bmp_decode",
    oracle="""
    WITH dims AS (
      SELECT doc_id, 5 + doc_id % 7 AS w, 4 + doc_id % 5 AS h FROM documents
    ), px AS (
      SELECT doc_id, w, h, unnest(range(0, w * h * 3)) AS p FROM dims
    ), v AS (
      SELECT doc_id, w, h, p % 3 AS chan, p < w * 3 AS top_row,
        CAST((doc_id * 11 + p * 29) % 256 AS DOUBLE) AS val
      FROM px
    )
    SELECT doc_id AS media_id,
      CAST(MAX(w) AS BIGINT) AS width, CAST(MAX(h) AS BIGINT) AS height,
      ROUND(AVG(val) FILTER (chan = 0), 6) + 0.0 AS mean_r,
      ROUND(AVG(val) FILTER (chan = 1), 6) + 0.0 AS mean_g,
      ROUND(AVG(val) FILTER (chan = 2), 6) + 0.0 AS mean_b,
      ROUND(AVG(val) FILTER (top_row), 6) + 0.0 AS top_row_mean
    FROM v GROUP BY doc_id
    """,
    description="Second REAL image codec (r4 verdict #7): per document, "
    "synthesize a 24-bit BMP whose LOGICAL top-down RGB raster is a "
    "closed-form function of doc_id, then DECODE the container for real — "
    "operators/multimodal.py::decode_bmp parses BITMAPFILEHEADER + "
    "BITMAPINFOHEADER, strips 4-byte row padding, undoes bottom-up row "
    "order and BGR channel order. The oracle recomputes channel means "
    "from the closed form (catches BGR/RGB swaps) and the LOGICAL first "
    "row's mean (catches decoders that forget bottom-up storage). Widths "
    "5..11 sweep every padding residue 0-3. Integer pixel values keep "
    "double means exact in both engines.",
)
def mm_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from accident_prediction_montreal_spark.operators.multimodal import (
        bmp_features,
        encode_bmp_24,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id")

    enc_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def encode_batches(batches):
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                w, h = 5 + d % 7, 4 + d % 5
                p = np.arange(w * h * 3, dtype=np.int64)
                payloads.append(encode_bmp_24((d * 11 + p * 29) % 256, w, h))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    media = docs.mapInPandas(encode_batches, schema=enc_schema)
    out = bmp_features(media)
    return out.select(
        "media_id",
        "width",
        "height",
        (F.round("mean_r", 6) + 0.0).alias("mean_r"),
        (F.round("mean_g", 6) + 0.0).alias("mean_g"),
        (F.round("mean_b", 6) + 0.0).alias("mean_b"),
        (F.round("top_row_mean", 6) + 0.0).alias("top_row_mean"),
    )


@register(
    "text_quality_deciles",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, COALESCE(len({_SQL_TOKENS}), 0) AS n_tokens FROM documents
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

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    ).persist()
    cachereg.register("plans.text_quality_deciles", docs)
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
      SELECT doc_id, COALESCE(len({_SQL_TOKENS}), 0) AS n_tokens FROM documents
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
    base, _ = _scratch("fb", sf_dir)
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
    "x5_month_shard_backfill",
    oracle="""
    SELECT strftime(ts, '%Y-%m') AS month_key, event_type, COUNT(*) AS n,
      CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
        AS value_sum
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    """,
    description="Month-shard incremental backfill (X5; reference "
    "mains/main_gen_match.py:20-75 re-expressed): loop calendar months, "
    "compute each month's (event_type, n, value_sum) rollup with a "
    "pushdown-friendly ts range predicate, write it under "
    "out_dir/month_key=YYYY-MM with a per-shard _SUCCESS resume marker, "
    "then return ONE partitioned scan of the union (no driver-side union "
    "of N DataFrames; month_key comes back as the partition column). "
    "Decimal-exact sums make the result shard-invariant, so the oracle "
    "is the plain unsharded GROUP BY — a dropped, duplicated, or "
    "misfiltered shard hash-mismatches.",
)
def x5_month_shard_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    from accident_prediction_montreal_spark.pipeline.backfill import (
        monthly_event_rollup,
    )

    src = os.path.realpath(os.path.join(sf_dir, "events.parquet"))
    st = os.stat(src)
    tag = hashlib.md5(f"{src}:{st.st_size}:{st.st_mtime_ns}".encode()).hexdigest()[:12]
    out_dir = os.path.join(tempfile.gettempdir(), "spark_graft_backfill", tag)
    combined = monthly_event_rollup(spark, sf_dir, out_dir)
    return combined.select(
        F.col("month_key").cast("string").alias("month_key"),
        "event_type",
        F.col("n").cast("long").alias("n"),
        "value_sum",
    )


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


@register(
    "f_pandas_grouped_agg",
    oracle="""
    SELECT event_type,
      ROUND(
        CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE)
        / NULLIF(CAST(SUM(CAST(ABS(value) AS DECIMAL(38,6))) AS DOUBLE), 0),
        6) AS selfweighted
    FROM events
    WHERE value IS NOT NULL
    GROUP BY event_type
    """,
    description="GROUPED_AGG pandas UDF (completing the SURVEY 2.10 F7/F8 "
    "pandas surface next to mapInPandas and applyInPandas): a |x|-weighted "
    "mean per event_type computed by an Arrow-batched vectorized aggregate "
    "inside a regular .agg() call. Partial aggregation does not apply to "
    "pandas UDAFs (full shuffle of the group's rows), which is exactly why "
    "the engine keeps them OFF the default path — built-in sum/count pairs "
    "express most reductions; this query documents the escape hatch and "
    "value-checks its arithmetic. The UDAF reduces DECIMAL(38,6)-cast "
    "components (exact, order-independent sums — a double accumulation "
    "over shuffle-ordered rows can flip the 6th decimal between runs) and "
    "divides the exact sums as doubles afterward; an all-zero group "
    "returns NULL, matching SQL division-by-zero.",
)
def f_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _selfweighted(num, den):
        # Arrow hands DECIMAL(38,6) to pandas as exact decimal.Decimal
        # objects: both sums are order-independent integers-scaled-by-1e6,
        # so the ratio is bit-stable across shuffles and matches the
        # oracle's decimal SUMs exactly.
        d = den.sum()
        if d == 0:
            return None
        return float(num.sum()) / float(d)

    # Real (non-string) annotations: this module uses postponed annotation
    # evaluation (PEP 563), which would hand pandas_udf string hints it
    # cannot infer the GROUPED_AGG signature from.
    _selfweighted.__annotations__ = {"num": pd.Series, "den": pd.Series, "return": float}
    selfweighted = pandas_udf(_selfweighted, "double")

    events = load_table(spark, "events", sf_dir).filter(F.col("value").isNotNull())
    events = events.withColumn(
        "_num", (F.col("value") * F.col("value")).cast("decimal(38,6)")
    ).withColumn("_den", F.abs(F.col("value")).cast("decimal(38,6)"))
    return (
        events.groupBy("event_type")
        .agg(F.round(selfweighted("_num", "_den"), 6).alias("selfweighted"))
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
    "r5_hash_split",
    oracle=f"""
    WITH u AS (
      SELECT doc_id, source,
        {lcg_uniform_sql('doc_id', SALT_SPLIT)} AS u
      FROM documents
    )
    SELECT source,
      CASE WHEN u < 0.5 THEN 'train' WHEN u < 0.75 THEN 'val' ELSE 'test' END AS split,
      CAST(COUNT(*) AS BIGINT) AS n
    FROM u GROUP BY 1, 2
    """,
    description="Deterministic id-hash split (production replacement for "
    "randomSplit, which draws per-partition and can re-bucket the SAME "
    "row when layout changes): split = cumulative-weight thresholds over "
    "an integer-LCG uniform of doc_id — a pure function of the row, "
    "stable across runs/engines/partitionings, zero extra passes. "
    "Weights 0.5/0.25/0.25 keep the cumulative cuts float-exact so the "
    "oracle's thresholds are bit-identical. operators/mixing.py::hash_split.",
)
def r5_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.mixing import hash_split

    docs = load_table(spark, "documents", sf_dir)
    out = hash_split(docs, "doc_id", weights=(0.5, 0.25, 0.25))
    return out.groupBy("source", "split").agg(F.count(F.lit(1)).cast("long").alias("n"))


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
    "dedup_repeated_spans",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
        CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
        ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS w
      FROM documents
    ),
    spans AS (
      SELECT doc_id, i AS pos, array_to_string(w[i+1:i+3], ' ') AS s
      FROM toks, UNNEST(range(0, GREATEST(len(w) - 2, 0))) AS t(i)
    ),
    rep AS (
      SELECT s FROM spans GROUP BY s HAVING COUNT(*) >= 2
    ),
    masked AS (
      SELECT DISTINCT sp.doc_id, sp.pos + u.o AS tokidx
      FROM spans sp JOIN rep USING (s), UNNEST(range(0, 3)) AS u(o)
    ),
    mc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_masked
      FROM masked GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
      COALESCE(mc.n_masked, 0) AS n_masked
    FROM toks t LEFT JOIN mc USING (doc_id)
    """,
    description="Exact repeated-span dedup stats (Lee et al. 2021 'Deduplicating "
    "Training Data Makes Language Models Better' — remove substrings occurring "
    "verbatim more than once): per document, the token positions covered by a "
    "3-token span repeated anywhere in the corpus. Spark computes positional "
    "span hashes (hash-each-token-once + zip_with chaining, no span strings) "
    "and a map-side-combined global count on the 8-byte key — a "
    "million-occurrence boilerplate span costs ONE aggregate row, never a "
    "pair join; the mask decision is hash-invariant, so the oracle computes "
    "the SAME mask over string spans. Integer-exact output.",
)
def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.dedup import (
        repeated_span_stats,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return repeated_span_stats(docs, k=3, min_count=2)


@register(
    "f_udtf_json_kv",
    oracle="""
    WITH kv AS (
      SELECT event_id, unnest(json_keys(props)) AS k, props
      FROM events
    )
    SELECT k, COUNT(*) AS n,
      CAST(SUM(CAST(json_extract_string(props, '$.' || k) AS INTEGER)) AS BIGINT)
        AS v_sum
    FROM kv GROUP BY k
    """,
    description="REAL Python UDTF (SURVEY §2.10 F-surface completion — the "
    "reference's de-facto UDTF is scalar-UDF-returns-array + explode, "
    "weather.py:161-181; Spark 4's @udtf is the first-class form): a "
    "table function yielding one (key, value) row per JSON property of "
    "the events props column, applied via correlated LATERAL join, then "
    "aggregated per key with an integer-exact value sum. Arrow-batched "
    "like any Python UDF; variable-row-count output per input row is the "
    "part no scalar UDF can express.",
)
def f_udtf_json_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="k string, v string")
    class JsonKV:
        def eval(self, props: str):
            import json

            if props:
                try:
                    for key, val in json.loads(props).items():
                        yield (str(key), str(val))
                except (ValueError, AttributeError):
                    return

    name = "json_kv_r6"
    spark.udtf.register(name, JsonKV)
    ev = load_table(spark, "events", sf_dir).select("event_id", "props")
    ev.createOrReplaceTempView("__udtf_events")
    return spark.sql(
        f"""
        SELECT t.k, COUNT(*) AS n,
          CAST(SUM(CAST(t.v AS LONG)) AS LONG) AS v_sum
        FROM __udtf_events e, LATERAL {name}(e.props) t
        GROUP BY t.k
        """
    )


@register(
    "mm_ppm_resize",
    oracle="""
    WITH dims AS (
      SELECT doc_id, 8 + doc_id % 8 AS w, 6 + doc_id % 6 AS h FROM documents
    ), odims AS (
      SELECT doc_id, w, h,
        GREATEST(w // 2, 1) AS ow, GREATEST(h // 2, 1) AS oh
      FROM dims
    ), opx AS (
      SELECT doc_id, w, h, ow, oh, unnest(range(0, ow * oh * 3)) AS q
      FROM odims
    ), v AS (
      SELECT doc_id, ow, oh, q % 3 AS chan,
        CAST((doc_id * 13 +
          ((((q // 3) // ow) * h // oh) * w + (((q // 3) % ow) * w // ow))
            * 3 * 17 + (q % 3) * 17) % 256 AS DOUBLE) AS val
      FROM opx
    )
    SELECT doc_id AS media_id,
      CAST(MAX(ow) AS BIGINT) AS out_w, CAST(MAX(oh) AS BIGINT) AS out_h,
      ROUND(AVG(val) FILTER (chan = 0), 6) + 0.0 AS mean_r,
      ROUND(AVG(val) FILTER (chan = 1), 6) + 0.0 AS mean_g,
      ROUND(AVG(val) FILTER (chan = 2), 6) + 0.0 AS mean_b
    FROM v GROUP BY doc_id
    """,
    description="REAL image RESIZE (the transform step of the multimodal "
    "pipeline, de-stubbed): per document, the synthetic P6 raster is "
    "DECODED (real header+raster parse) and nearest-neighbor downscaled "
    "2x by pure integer index math — dst (x,y) samples src "
    "((x*w)//ow, (y*h)//oh) — inside ONE Arrow batch pass, then the "
    "resized per-channel means are value-checked against the oracle's "
    "closed-form replay of the SAME index map. A wrong sampling formula, "
    "row/column swap, or channel leak changes a mean and hash-mismatches.",
)
def mm_ppm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from accident_prediction_montreal_spark.operators.multimodal import (
        encode_ppm_p6,
        ppm_resize_features,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    enc_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def encode_batches(batches):
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                w, h = 8 + d % 8, 6 + d % 6
                p = np.arange(w * h * 3, dtype=np.int64)
                payloads.append(encode_ppm_p6((d * 13 + p * 17) % 256, w, h))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    media = docs.mapInPandas(encode_batches, schema=enc_schema)
    out = ppm_resize_features(media, scale_den=2)
    return out.select(
        "media_id",
        "out_w",
        "out_h",
        (F.round("mean_r", 6) + 0.0).alias("mean_r"),
        (F.round("mean_g", 6) + 0.0).alias("mean_g"),
        (F.round("mean_b", 6) + 0.0).alias("mean_b"),
    )


@register(
    "mm_frame_sample",
    oracle="""
    WITH dims AS (
      SELECT doc_id, 4 + doc_id % 9 AS nf, 6 + doc_id % 5 AS w,
             4 + doc_id % 4 AS h
      FROM documents
    ), frames AS (
      SELECT doc_id, w, h, unnest(range(0, nf, 3)) AS k FROM dims
    ), px AS (
      SELECT doc_id, k, w, h, unnest(range(0, w * h)) AS p FROM frames
    )
    SELECT doc_id AS media_id, CAST(k AS BIGINT) AS frame_idx,
      ROUND(AVG(CAST((doc_id * 7 + k * w * h * 11 + p * 11) % 256 AS DOUBLE)), 6)
        + 0.0 AS mean_gray
    FROM px GROUP BY doc_id, k
    """,
    description="REAL video FRAME SAMPLING (the last stubbed multimodal "
    "op, de-stubbed via a minimal PV1 raw-video container standing in "
    "for mp4 — no ffmpeg in the sandbox, but the container plumbing is "
    "real: header grammar, frame addressing, truncation checks): every "
    "3rd frame of each synthetic grayscale video is sliced from the "
    "raster BY OFFSET (unsampled frames never materialize), one output "
    "row per sampled frame (variable fan-out mapInPandas), per-frame "
    "mean intensity value-checked against the closed-form raster "
    "formula. Off-by-one frame addressing or a wrong stride changes "
    "rows or means and hash-mismatches.",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from accident_prediction_montreal_spark.operators.multimodal import (
        encode_rawvideo_pv1,
        frame_sample_features,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    enc_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def encode_batches(batches):
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                nf, w, h = 4 + d % 9, 6 + d % 5, 4 + d % 4
                p = np.arange(nf * w * h, dtype=np.int64)
                # frame k pixel p: (d*7 + k*w*h*11 + p_in_frame*11) % 256
                # == (d*7 + global_p*11) % 256 with global_p = k*w*h + p
                payloads.append(encode_rawvideo_pv1((d * 7 + p * 11) % 256, nf, w, h))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    media = docs.mapInPandas(encode_batches, schema=enc_schema)
    out = frame_sample_features(media, stride=3)
    return out.select(
        "media_id",
        "frame_idx",
        (F.round("mean_gray", 6) + 0.0).alias("mean_gray"),
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
    from accident_prediction_montreal_spark import cachereg

    dim = (
        load_table(spark, "events", sf_dir)
        .select("user_id")
        .distinct()
        .withColumn("tier", (F.col("user_id") % 5).cast("int"))
        .persist()
    )
    cachereg.register("plans.st_pipeline_capstone", dim)
    dim.count()

    base, _ = _scratch("stcap", sf_dir)
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
    "x12_backfill_evolution",
    oracle="""
    SELECT event_type,
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
        AS value_sum,
      CAST(SUM(CASE WHEN day(ts) >= 16 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_evolved,
      CAST(SUM(CASE WHEN day(ts) >= 16 THEN event_id % 7 ELSE 0 END) AS BIGINT)
        AS evolved_sum
    FROM events WHERE ts IS NOT NULL GROUP BY event_type
    """,
    description="Backfill + MID-RUN SCHEMA EVOLUTION + resume, composed "
    "under one oracle (x5 x x9 — the production ingestion story): phase "
    "1 backfills the first 15 day-shards with the v1 rollup schema; "
    "phase 2 'resumes' over ALL days with a v2 schema that adds "
    "evolved_sum, and its compute fn RAISES if asked for a phase-1 day — "
    "so the _SUCCESS-marker skip is load-bearing, not decorative. One "
    "mergeSchema partitioned read unions v1 and v2 shards (v1 rows "
    "surface evolved_sum as NULL) and the final rollup separates the "
    "halves through the evolved column: broken resume (error), dropped "
    "or double-written shards (n/value_sum), or evolution faults "
    "(n_evolved/evolved_sum) all fail against the single-table oracle.",
)
def x12_backfill_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil
    import tempfile

    from accident_prediction_montreal_spark.pipeline.backfill import (
        backfill_month_shards,
    )

    src = os.path.realpath(os.path.join(sf_dir, "events.parquet"))
    st = os.stat(src)
    tag = hashlib.md5(f"{src}:{st.st_size}:{st.st_mtime_ns}".encode()).hexdigest()[:12]
    out_dir = os.path.join(tempfile.gettempdir(), "spark_graft_bfevo", tag)
    # The two-phase _SUCCESS choreography below is the test subject;
    # stale shards from an interrupted earlier run would make phase-1
    # completeness ambiguous, so start clean.
    shutil.rmtree(out_dir, ignore_errors=True)

    ev = load_table(spark, "events", sf_dir)
    days = sorted(
        r["dk"]
        for r in ev.select(F.date_format("ts", "yyyy-MM-dd").alias("dk"))
        .distinct()
        .collect()
        if r["dk"] is not None
    )
    phase1 = [d for d in days if int(d[8:10]) <= 15]

    def day_range(s: SparkSession, dk: str):
        lo = F.lit(f"{dk} 00:00:00").cast("timestamp_ntz")
        hi = F.date_add(F.lit(dk).cast("date"), 1).cast("timestamp_ntz")
        return load_table(s, "events", sf_dir).filter(
            (F.col("ts") >= lo) & (F.col("ts") < hi)
        )

    def shard_v1(s: SparkSession, dk: str) -> DataFrame:
        return day_range(s, dk).groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("vsum"),
        )

    def shard_v2(s: SparkSession, dk: str) -> DataFrame:
        if dk in set(phase1):
            raise AssertionError(
                f"resume violation: phase-2 recomputed finished shard {dk}"
            )
        return day_range(s, dk).groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("vsum"),
            F.sum(F.col("event_id") % 7).alias("evolved_sum"),
        )

    backfill_month_shards(
        spark, out_dir, phase1, shard_v1, partition_col="day_key"
    )
    combined = backfill_month_shards(
        spark, out_dir, days, shard_v2, partition_col="day_key", merge_schema=True
    )
    # Consumer-side schema-evolution fallback: when EVERY day predates
    # the evolution cutoff (day-of-month <= 15), no v2 shard exists and
    # the mergeSchema read has no evolved_sum column at all — the
    # column reads as NULL, exactly like a pre-evolution shard does
    # once a v2 shard exists (r14 events-table fuzz: a corpus spanning
    # only Jan 1 left phase 2 empty and the aggregate unresolvable).
    if "evolved_sum" not in combined.columns:
        combined = combined.withColumn(
            "evolved_sum", F.lit(None).cast("decimal(38,6)")
        )
    return combined.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("vsum").cast("double").alias("value_sum"),
        F.sum(
            F.when(F.col("evolved_sum").isNotNull(), F.col("n")).otherwise(F.lit(0))
        ).cast("long").alias("n_evolved"),
        F.sum(F.coalesce("evolved_sum", F.lit(0))).cast("long").alias("evolved_sum"),
    )


@register(
    "mm_png_decode",
    oracle="""
    WITH dims AS (
      SELECT doc_id, 4 + doc_id % 6 AS w, 5 + doc_id % 4 AS h FROM documents
    ), px AS (
      SELECT doc_id, w, h, unnest(range(0, w * h * 3)) AS p FROM dims
    ), v AS (
      SELECT doc_id, w, h, p % 3 AS chan, p < w * 3 AS top_row,
        CAST((doc_id * 13 + p * 17) % 256 AS DOUBLE) AS val
      FROM px
    )
    SELECT doc_id AS media_id,
      CAST(MAX(w) AS BIGINT) AS width, CAST(MAX(h) AS BIGINT) AS height,
      ROUND(AVG(val) FILTER (chan = 0), 6) + 0.0 AS mean_r,
      ROUND(AVG(val) FILTER (chan = 1), 6) + 0.0 AS mean_g,
      ROUND(AVG(val) FILTER (chan = 2), 6) + 0.0 AS mean_b,
      ROUND(AVG(val) FILTER (top_row), 6) + 0.0 AS top_row_mean
    FROM v GROUP BY doc_id
    """,
    description="REAL COMPRESSED raster codec (r6 verdict #8, closing the "
    "raster family): per document, synthesize an 8-bit-RGB PNG whose "
    "raster is a closed-form function of doc_id — the writer cycles all "
    "five PNG row filters (None/Sub/Up/Average/Paeth) and splits IDAT in "
    "two — then DECODE for real: operators/multimodal.py::decode_png "
    "walks CRC-verified chunks, inflates multi-chunk IDAT with stdlib "
    "zlib, and reconstructs every filter per the spec recurrences. "
    "Heights 5..8 guarantee each image exercises all five filters; the "
    "oracle recomputes channel means and the first-row mean from the "
    "closed form, so any filter/CRC/reassembly fault shifts a mean and "
    "hash-mismatches. JPEG (DCT) stays stubbed — zlib is stdlib, libjpeg "
    "is not.",
)
def mm_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from accident_prediction_montreal_spark.operators.multimodal import (
        encode_png_rgb8,
        png_features,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id")

    enc_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def encode_batches(batches):
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                w, h = 4 + d % 6, 5 + d % 4
                p = np.arange(w * h * 3, dtype=np.int64)
                payloads.append(encode_png_rgb8((d * 13 + p * 17) % 256, w, h))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    media = docs.mapInPandas(encode_batches, schema=enc_schema)
    return png_features(media).select(
        "media_id",
        "width",
        "height",
        (F.round("mean_r", 6) + 0.0).alias("mean_r"),
        (F.round("mean_g", 6) + 0.0).alias("mean_g"),
        (F.round("mean_b", 6) + 0.0).alias("mean_b"),
        (F.round("top_row_mean", 6) + 0.0).alias("top_row_mean"),
    )


@register(
    "dedup_editdist",
    oracle="""
    WITH t AS (
      SELECT doc_id,
        ['data','date','gate','note'][CAST(doc_id % 4 AS INT) + 1]
          || '-' || CAST(doc_id // 4 AS VARCHAR) AS title
      FROM documents
    )
    SELECT a.dist, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      CAST(SUM(a.id_a + a.id_b) AS BIGINT) AS id_sum
    FROM (
      SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        CAST(levenshtein(x.title, y.title) AS INT) AS dist
      FROM t x JOIN t y
        ON x.doc_id < y.doc_id
       AND abs(strlen(x.title) - strlen(y.title)) <= 1
      WHERE levenshtein(x.title, y.title) <= 1
    ) a GROUP BY a.dist
    """,
    description="Edit-distance-<=1 similarity join via the SymSpell "
    "deletion-neighborhood (operators/dedup.py::editdist1_pairs — the "
    "typo-grade near-dup join MinHash shingles are too coarse for): "
    "every title emits itself plus each single-deletion variant as an "
    "8-byte hash; candidates come from a bucketed EQUI-join on the "
    "variant hash (provably lossless for k=1: a substitution's shared "
    "deletion, or the shorter string itself), then levenshtein <= 1 "
    "removes the neighborhood's false positives (transpositions, hash "
    "collisions). Titles are a closed-form word+counter function of "
    "doc_id, so real pairs exist (data-/date-/gate- prefixes, "
    "one-digit-apart counters) and the oracle can afford the O(n^2) "
    "brute-force join at gate scale that the operator itself must "
    "never do.",
)
def dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.dedup import editdist1_pairs

    words = F.array(F.lit("data"), F.lit("date"), F.lit("gate"), F.lit("note"))
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id",
        F.concat(
            F.element_at(words, (F.col("doc_id") % 4).cast("int") + 1),
            F.lit("-"),
            (F.col("doc_id") / 4).cast("long").cast("string"),
        ).alias("title"),
    )
    pairs = editdist1_pairs(docs, "doc_id", "title")
    return pairs.groupBy("dist").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("id_a") + F.col("id_b")).cast("long").alias("id_sum"),
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
    "mm_audio_frames",
    oracle="""
    WITH samp AS (
      SELECT doc_id, unnest(range(0, 100 + doc_id % 50)) AS i FROM documents
    ), v AS (
      SELECT doc_id, i, i // 25 AS frame_id,
        CAST((doc_id * 7919 + i * 104729) % 65536 - 32768 AS DOUBLE) AS s
      FROM samp
    ), z AS (
      SELECT doc_id, frame_id, s,
        LAG(s) OVER (PARTITION BY doc_id, frame_id ORDER BY i) AS sp
      FROM v
    )
    SELECT doc_id AS media_id, frame_id, COUNT(*) AS n_samples,
      ROUND(sqrt(AVG(s * s)), 6) + 0.0 AS rms_amp,
      CAST(SUM(CASE WHEN s * sp < 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
    FROM z GROUP BY doc_id, frame_id
    """,
    description="Frame-level AUDIO feature extraction with variable fan-out "
    "(operators/multimodal.py::wav_frame_features — the audio twin of "
    "video frame sampling, completing the multimodal north star's "
    "feature-extract family): per document a mono PCM16 WAV payload is "
    "synthesized from the closed form, the RIFF container is decoded for "
    "REAL in the Arrow batch loop, and each 25-sample frame emits one "
    "row of (count, RMS energy, zero-crossing count). The payload is "
    "decoded ONCE and never shuffled — only (id, frame, features) rows "
    "leave the map pass. Zero crossings are strict sign flips (exact "
    "integers); RMS over integer PCM is sum-exact with correctly-rounded "
    "division/sqrt, so both features are engine-stable. Oracle replays "
    "frames from the closed form with a LAG window.",
)
def mm_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from accident_prediction_montreal_spark.operators.multimodal import (
        encode_wav_pcm16,
        wav_frame_features,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    enc_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def encode_batches(batches):
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                n = 100 + d % 50
                i = np.arange(n, dtype=np.int64)
                s = (d * 7919 + i * 104729) % 65536 - 32768
                payloads.append(encode_wav_pcm16(s))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    media = docs.mapInPandas(encode_batches, schema=enc_schema)
    out = wav_frame_features(media, frame_len=25)
    return out.select(
        "media_id",
        "frame_id",
        "n_samples",
        (F.round("rms_amp", 6) + 0.0).alias("rms_amp"),
        "zero_cross",
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
    "mm_gif_decode",
    oracle="""
    WITH dims AS (
      SELECT doc_id, 8 + doc_id % 8 AS w, 6 + doc_id % 6 AS h FROM documents
    ), px AS (
      SELECT doc_id, w, h, unnest(range(0, w * h)) AS p FROM dims
    ), v AS (
      SELECT doc_id, w, h, (doc_id * 31 + p * 7) % 16 AS i FROM px
    )
    SELECT doc_id AS media_id, CAST(w AS BIGINT) AS width,
      CAST(h AS BIGINT) AS height,
      ROUND(AVG((i * 17) % 256), 6) + 0.0 AS mean_r,
      ROUND(AVG((i * 29) % 256), 6) + 0.0 AS mean_g,
      ROUND(AVG((i * 43) % 256), 6) + 0.0 AS mean_b,
      CAST(SUM(i) AS BIGINT) AS idx_sum
    FROM v GROUP BY doc_id, w, h
    """,
    description="REAL GIF decode under the value-oracle gate — the second "
    "COMPRESSED raster codec next to PNG (operators/multimodal.py::"
    "decode_gif): per document a 16-color GIF87a payload is synthesized "
    "from the closed-form index raster and LZW-COMPRESSED for real "
    "(variable-width codes growing 5..12 bits, clear/EOI, sub-block "
    "framing), then decoded for real — header + logical screen "
    "descriptor, global color table, sub-block reassembly, full LZW "
    "with the KwKwK case — and reduced to palette-resolved channel "
    "means + the index checksum. A decoder that mis-widths a code, "
    "drops a clear, or misorders the table corrupts every downstream "
    "pixel and hash-mismatches. Encoder/decoder width rules are "
    "deliberately asymmetric (2^w+1 vs 2^w — the decoder's table lags "
    "one entry), property-tested round-trip across the growth "
    "boundaries in tests/test_multimodal_kml.py.",
)
def mm_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T

    from accident_prediction_montreal_spark.operators.multimodal import (
        encode_gif87a,
        gif_features,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    enc_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def encode_batches(batches):
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                w, h = 8 + d % 8, 6 + d % 6
                idx = [(d * 31 + p * 7) % 16 for p in range(w * h)]
                payloads.append(encode_gif87a(idx, w, h))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    media = docs.mapInPandas(encode_batches, schema=enc_schema)
    out = gif_features(media)
    return out.select(
        "media_id",
        "width",
        "height",
        (F.round("mean_r", 6) + 0.0).alias("mean_r"),
        (F.round("mean_g", 6) + 0.0).alias("mean_g"),
        (F.round("mean_b", 6) + 0.0).alias("mean_b"),
        "idx_sum",
    )
