"""Wave-13 queries (r13): line-dedup survivor policy + streaming twin.

The r12 verdict's stretch asks: (1) C4 keeps the FIRST occurrence of a
duplicated line; several modern pipelines (RefinedWeb-style) keep the
occurrence from the highest-QUALITY document instead —
llm_line_dedup_best is that policy as the same skew-immune min(struct)
aggregate with a quality-prefixed struct key. (2) The batch line dedup
gets its streaming counterpart — st_line_dedup_stream, a stateful
first-seen filter over exploded lines with hash-sharded state (the
st_corpus_diff_stream pattern), completing the batch/stream twin set
the quota and corpus-diff operators already have.

Reference semantics contract: the reference engine has no LLM-corpus
operators; these extend the engine's curation family (SURVEY.md §2's
training-data pipeline section) under the shared tokenizer convention
(operators/text.py::tokenize).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from accident_prediction_montreal_spark.plans.registry import register
from accident_prediction_montreal_spark.plans.wave12 import (
    _LINE_TOKS,
    doc_line_frames,
)
from accident_prediction_montreal_spark.sources.registry import load_table
from accident_prediction_montreal_spark.streaming.finite import (
    drain,
    pin_arrival_order,
)

# DuckDB mirror of the shared line-ification (wave12's convention):
# 5-token groups under the shared tokenizer, empty docs dropped.
_SQL_TOKS = (
    "SELECT doc_id, source, "
    "regexp_split_to_array(trim(lower(text)), '\\s+') AS w "
    "FROM documents WHERE trim(lower(text)) <> ''"
)
_SQL_LINES = (
    f"SELECT doc_id, source, len(w) AS doc_toks, i AS pos, "
    f"array_to_string(w[i*{_LINE_TOKS}+1 : i*{_LINE_TOKS}+{_LINE_TOKS}], ' ')"
    f" AS line "
    f"FROM toks, unnest(range(0, CAST(ceil(len(w)/{_LINE_TOKS}.0) AS BIGINT)))"
    f" r(i)"
)


@register(
    "llm_line_dedup_best",
    oracle=f"""
    WITH toks AS ({_SQL_TOKS}),
    lines AS ({_SQL_LINES}),
    kept AS (
      SELECT doc_id, pos, source, doc_toks, length(line) AS chars
      FROM lines
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY line ORDER BY doc_toks DESC, doc_id, pos) = 1
    ),
    totals AS (
      SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lines GROUP BY source
    ),
    kstats AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
        CAST(SUM(chars) AS BIGINT) AS kept_chars,
        CAST(SUM(doc_toks) AS BIGINT) AS kept_doc_toks,
        CAST(SUM(doc_id * (pos + 1)) AS BIGINT) AS kept_pos_chk
      FROM kept GROUP BY source
    )
    SELECT t.source, t.n_docs, t.n_lines, k.n_kept,
      t.n_lines - k.n_kept AS n_removed, k.kept_chars, k.kept_doc_toks,
      k.kept_pos_chk
    FROM totals t JOIN kstats k USING (source) ORDER BY t.source
    """,
    description="LINE DEDUP, KEEP-BEST-QUALITY POLICY — C4 keeps the "
    "first occurrence of a duplicated line; modern pipelines often keep "
    "the occurrence living in the highest-quality document so "
    "boilerplate survives in the best context. Quality proxy here is "
    "the document's token count under the shared tokenizer (ties "
    "broken first-by-(doc_id,pos), so the policy degrades to C4 on "
    "equal quality). PLAN — identical skew-immune shape to "
    "llm_line_dedup: survivor = min(struct(-doc_toks, doc_id, pos, "
    "...)) under groupBy(line) — the quality-PREFIXED struct key turns "
    "'keep best' into the same partial+final aggregate, so a "
    "boilerplate line occurring 1e8 times still collapses map-side "
    "before the exchange (a window over quality DESC would ship every "
    "occurrence to one reducer); totals branch reads the unexploded "
    "projection. The kept_doc_toks column evidences the policy: it is "
    "maximal per line by construction and hash-diverges from the "
    "keep-first variant on the planted duplicates.",
)
def llm_line_dedup_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "text"
    )
    toks, n_lines_col, lines = doc_line_frames(docs)
    per_line = lines.groupBy("line").agg(
        F.min(
            F.struct(
                (-F.col("doc_toks")).alias("negq"),
                F.col("doc_id"),
                F.col("pos"),
                F.col("source"),
                F.length("line").alias("chars"),
                F.col("doc_toks"),
            )
        ).alias("keep")
    )
    kstats = per_line.groupBy(F.col("keep.source").alias("source")).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("keep.chars").cast("long").alias("kept_chars"),
        F.sum("keep.doc_toks").cast("long").alias("kept_doc_toks"),
        F.sum(F.col("keep.doc_id") * (F.col("keep.pos") + 1))
        .cast("long")
        .alias("kept_pos_chk"),
    )
    totals = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(n_lines_col.cast("long")).cast("long").alias("n_lines"),
    )
    return (
        totals.join(kstats, "source")
        .select(
            "source",
            "n_docs",
            "n_lines",
            "n_kept",
            (F.col("n_lines") - F.col("n_kept"))
            .cast("long")
            .alias("n_removed"),
            "kept_chars",
            "kept_doc_toks",
            "kept_pos_chk",
        )
        .orderBy("source")
    )


@register(
    "st_line_dedup_stream",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, 1 + doc_id % 2 AS rev,
        regexp_split_to_array(trim(lower(text)), '\\s+') AS w
      FROM documents WHERE trim(lower(text)) <> ''
    ),
    lines AS (
      SELECT doc_id, source, rev, i AS pos,
        array_to_string(w[i*{_LINE_TOKS}+1 : i*{_LINE_TOKS}+{_LINE_TOKS}], ' ')
          AS line
      FROM toks,
        unnest(range(0, CAST(ceil(len(w)/{_LINE_TOKS}.0) AS BIGINT))) r(i)
    ),
    kept AS (
      SELECT rev, source, doc_id, pos, length(line) AS chars
      FROM lines
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY line ORDER BY rev, doc_id, pos) = 1
    )
    SELECT CAST(rev AS BIGINT) AS rev, source,
      CAST(COUNT(*) AS BIGINT) AS n_kept,
      CAST(SUM(chars) AS BIGINT) AS kept_chars,
      CAST(SUM(doc_id * (pos + 1)) AS BIGINT) AS kept_pos_chk
    FROM kept GROUP BY rev, source ORDER BY rev, source
    """,
    description="STREAMING LINE DEDUP — the stateful twin of "
    "llm_line_dedup (the batch/stream twin pattern the quota and "
    "corpus-diff operators already have): document batches stream in "
    "(two mtime-pinned micro-batches, even doc_ids then odd — the "
    "'crawl arrives in waves' shape), each doc explodes into 5-token "
    "lines, and a stateful FIRST-SEEN filter keeps a line's first "
    "occurrence across the whole stream. State is hash-SHARDED (the "
    "st_corpus_diff_stream pattern): groups keyed by xxhash64(line) "
    "% 64, each shard folding its slice vectorized with one md5-digest "
    "set per shard — a line's every occurrence lands in ONE shard, so "
    "first-seen is exact; the per-batch fold sorts (rev, doc_id, pos) "
    "so the emitted survivors are identical under ANY split of "
    "rev-ordered delivery into micro-batches (merged delivery folds to "
    "the same result). State cost is the honest streaming-dedup price: "
    "O(|distinct lines|) 32-char digests across shards — at 100 TB "
    "this is 16-byte binary digests in RocksDB state, and the saving "
    "is downstream stages never reprocessing boilerplate. Full VALUE "
    "oracle: md5-free report (counts/chars/position checksum per "
    "(rev, source)) equals the batch QUALIFY row_number SQL ordered by "
    "(rev, doc_id, pos) exactly.",
)
def st_line_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _st_line_dedup_impl(spark, sf_dir, max_files_per_trigger=1)


def _st_line_dedup_impl(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None
) -> DataFrame:
    """max_files_per_trigger=1 is the registered two-batch delivery;
    None merges both revisions into one micro-batch — the
    batching-invariance test (test_wave13.py) holds the two equal."""
    import os
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from accident_prediction_montreal_spark.plans.relational_extra import (
        _scratch,
    )

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "text"
    )
    base, _ = _scratch("stlined", sf_dir)
    p1 = os.path.join(base, "rev1.parquet")
    p2 = os.path.join(base, "rev2.parquet")
    docs.filter(F.col("doc_id") % 2 == 0).withColumn(
        "rev", F.lit(1).cast("long")
    ).coalesce(1).write.mode("overwrite").parquet(p1)
    docs.filter(F.col("doc_id") % 2 == 1).withColumn(
        "rev", F.lit(2).cast("long")
    ).coalesce(1).write.mode("overwrite").parquet(p2)
    # maxFilesPerTrigger=1 replays rev1 before rev2; the fold below is
    # (rev, doc_id, pos)-ordered anyway, so merged delivery is identical.
    pin_arrival_order([p1, p2])

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("rev", T.LongType()),
        ]
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(os.path.join(base, "rev*.parquet"))
    _, _, lines = doc_line_frames(stream, "rev")
    NB = 64
    lined = lines.select(
        "rev",
        "source",
        "doc_id",
        "pos",
        F.length("line").alias("chars"),
        F.md5("line").alias("dig"),
        F.pmod(F.xxhash64("line"), F.lit(NB)).cast("int").alias("shard"),
    )
    out_schema = T.StructType(
        [
            T.StructField("rev", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("pos", T.IntegerType()),
            T.StructField("chars", T.IntegerType()),
        ]
    )

    def first_seen(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        seen = set(state.get[0]) if state.exists else set()
        pdf = pd.concat(list(pdfs)).sort_values(["rev", "doc_id", "pos"])
        # within-batch first occurrence per digest, then cross-batch
        # filter against the shard's seen-set
        pdf = pdf.drop_duplicates("dig", keep="first")
        fresh = pdf[~pdf["dig"].isin(seen)]
        seen.update(fresh["dig"].tolist())
        state.update((sorted(seen),))
        if len(fresh):
            yield fresh[["rev", "source", "doc_id", "pos", "chars"]]

    kept = lined.groupBy("shard").applyInPandasWithState(
        first_seen,
        outputStructType=out_schema,
        stateStructType="digs ARRAY<STRING>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    got = drain(kept, "append")
    return (
        got.groupBy("rev", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.sum("chars").cast("long").alias("kept_chars"),
            F.sum(F.col("doc_id") * (F.col("pos") + 1))
            .cast("long")
            .alias("kept_pos_chk"),
        )
        .orderBy("rev", "source")
    )


# --- leakage-safe train/eval split ----------------------------------------------


def _cluster_safe_split_oracle() -> str:
    from accident_prediction_montreal_spark.operators.mixing import (
        SALT_SPLIT,
        lcg_uniform_sql,
    )
    from accident_prediction_montreal_spark.plans.llm_ops import _JACCARD_CTES

    u_safe = lcg_uniform_sql("skey", SALT_SPLIT)
    u_naive = lcg_uniform_sql("doc_id", SALT_SPLIT)
    return f"""
    WITH RECURSIVE {_JACCARD_CTES},
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(node, r) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node
      WHERE reach.r < e.b
    ),
    comp AS (SELECT node, MIN(r) AS component_id FROM reach GROUP BY node),
    keyed AS (
      SELECT d.doc_id, c.component_id,
        COALESCE(c.component_id, d.doc_id) AS skey
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    ),
    assigned AS (
      SELECT doc_id, component_id,
        CASE WHEN {u_safe} < 0.75 THEN 'train'
             WHEN {u_safe} < 0.875 THEN 'val' ELSE 'test' END AS split,
        CASE WHEN {u_naive} < 0.75 THEN 'train'
             WHEN {u_naive} < 0.875 THEN 'val' ELSE 'test' END AS naive_split
      FROM keyed
    )
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(CASE WHEN component_id IS NOT NULL THEN 1 ELSE 0 END)
        AS BIGINT) AS n_clustered_docs,
      CAST(COUNT(DISTINCT component_id) AS BIGINT) AS n_components,
      CAST(SUM(CASE WHEN split <> naive_split THEN 1 ELSE 0 END)
        AS BIGINT) AS n_rescued,
      CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM assigned GROUP BY split ORDER BY split
    """


@register(
    "llm_cluster_safe_split",
    oracle=None,  # set below (composed SQL)
    description="LEAKAGE-SAFE TRAIN/EVAL SPLIT — near-duplicate documents "
    "must not straddle train and eval (the contamination mechanism the "
    "GPT-3/C4 overlap analyses measure after the fact): the split key "
    "is the near-dup CLUSTER, not the document. Pipeline: rare-shingle "
    "Jaccard pairs (operators/dedup.ngram_jaccard_pairs — inverted-"
    "index join, max_doc_freq caps quadratic skew, never all-pairs) -> "
    "alternating-star connected components over the EDGE LIST only "
    "(operators/components.py, O(log n) rounds; the corpus never "
    "enters the iteration) -> one narrow left join back to the corpus "
    "(|component rows| << |corpus|, AQE-broadcastable) -> split = "
    "cumulative-threshold LCG over COALESCE(component, doc_id), the "
    "same layout-independent pure-function convention as "
    "r5_hash_split, weights 0.75/0.125/0.125 so the cuts are float-"
    "exact for the oracle. Every cluster lands in ONE split by "
    "construction (split is a function of the key); n_rescued counts "
    "docs whose naive per-doc split would have differed — the leakage "
    "the operator eliminates. Oracle: DuckDB recursive min-label "
    "closure + the shared LCG mirror.",
)
def llm_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.components import (
        connected_components,
    )
    from accident_prediction_montreal_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from accident_prediction_montreal_spark.operators.mixing import (
        SALT_SPLIT,
        hash_split,
        lcg_uniform,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, min_jaccard=0.05, max_doc_freq=4
    )
    comp = connected_components(pairs, src="id_a", dst="id_b")
    keyed = (
        docs.select("doc_id")
        .join(
            comp.select(
                F.col("node").alias("doc_id"),
                F.col("component").alias("component_id"),
            ),
            "doc_id",
            "left",
        )
        .withColumn("skey", F.coalesce("component_id", "doc_id"))
    )
    assigned = hash_split(keyed, "skey", weights=(0.75, 0.125, 0.125))
    u_naive = lcg_uniform("doc_id", salt=SALT_SPLIT)
    naive = (
        F.when(u_naive < 0.75, F.lit("train"))
        .when(u_naive < 0.875, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("component_id").isNotNull().cast("long"))
            .cast("long")
            .alias("n_clustered_docs"),
            F.countDistinct("component_id").cast("long").alias("n_components"),
            F.sum((F.col("split") != naive).cast("long"))
            .cast("long")
            .alias("n_rescued"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
        .orderBy("split")
    )


from accident_prediction_montreal_spark.plans.registry import (  # noqa: E402
    REGISTRY as _REG,
)
from accident_prediction_montreal_spark.plans.registry import (  # noqa: E402
    QuerySpec as _QS,
)

_REG["llm_cluster_safe_split"] = _QS(
    fn=_REG["llm_cluster_safe_split"].fn,
    oracle=_cluster_safe_split_oracle(),
    description=_REG["llm_cluster_safe_split"].description,
)


# --- cross-document longest common verbatim run ----------------------------------

_RUN_K = 3  # window width (tokens) for run detection
_RUN_CAP = 6  # max postings per span before it is dropped (skew lever)
_RUN_MIN_TOKENS = 8  # report runs at least this many tokens long


def _longest_run_oracle() -> str:
    from accident_prediction_montreal_spark.plans.snapshot_fixture import (
        REID_SHIFT,
    )

    k, cap, minr = _RUN_K, _RUN_CAP, _RUN_MIN_TOKENS
    toks_of = "regexp_split_to_array(trim(lower(text)), '\\s+')"
    return f"""
    WITH planted AS (
      SELECT doc_id + {REID_SHIFT} AS doc_id,
        array_to_string(({toks_of})[1:20], ' ') AS text
      FROM documents
      WHERE doc_id % 13 = 0 AND trim(lower(text)) <> ''
        AND len({toks_of}) >= 25
    ),
    corpus AS (
      SELECT doc_id, text FROM documents UNION ALL SELECT * FROM planted
    ),
    toks AS (
      SELECT doc_id,
        CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
        ELSE {toks_of} END AS w
      FROM corpus
    ),
    spans AS (
      SELECT doc_id, i AS pos, array_to_string(w[i+1:i+{k}], ' ') AS s
      FROM toks, unnest(range(0, GREATEST(len(w) - {k - 1}, 0))) t(i)
    ),
    rare AS (
      SELECT * FROM spans
      QUALIFY COUNT(*) OVER (PARTITION BY s) BETWEEN 2 AND {cap}
    ),
    m AS (
      SELECT a.doc_id AS id_a, a.pos AS pos_a,
             b.doc_id AS id_b, b.pos AS pos_b
      FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
    ),
    chained AS (
      SELECT id_a, id_b, pos_a, pos_a - pos_b AS diag,
        pos_a - ROW_NUMBER() OVER (
          PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a) AS grp
      FROM m
    ),
    runs AS (
      SELECT id_a, id_b, COUNT(*) + {k - 1} AS run_tokens,
        MIN(pos_a) AS start_a
      FROM chained GROUP BY id_a, id_b, diag, grp
      HAVING COUNT(*) + {k - 1} >= {minr}
    )
    SELECT id_a, id_b,
      CAST(MAX(run_tokens) AS BIGINT) AS max_run_tokens,
      CAST(COUNT(*) AS BIGINT) AS n_runs,
      CAST(SUM(start_a) AS BIGINT) AS start_chk
    FROM runs GROUP BY id_a, id_b ORDER BY id_a, id_b
    """


@register(
    "dedup_longest_common_run",
    oracle=None,  # set below (composed SQL)
    description="CROSS-DOCUMENT LONGEST COMMON VERBATIM RUN — the "
    "'longest duplicated substring' analysis of Lee et al. 2021 (and "
    "the quote/plagiarism-detection primitive): for every document "
    "pair sharing a verbatim token run of >= 8 tokens, report the "
    "longest run, the run count and a start-position checksum. "
    "Fixture plants partial copies (first 20 tokens of every 13th "
    "long doc under the 2^40 re-id) so >= 20-token runs exist by "
    "construction. PLAN — never all-pairs: 3-token windows posexplode "
    "once; postings GROUP per span with the pair fan-out CAPPED "
    "(spans in > 6 postings dropped — boilerplate windows are not "
    "discriminative but create quadratic skew, the ngram_jaccard "
    "lever); intra-bucket pairs generated with nested array HOFs (no "
    "self-join, map stage runs once); run chaining is the classic "
    "DIAGONAL trick — matches of a pair on one diagonal "
    "(pos_a - pos_b) chain into maximal runs via grp = pos_a - "
    "row_number(), so the only windows run over MATCHED PAIRS "
    "(bounded by cap^2/2 per span, partition size <= doc length), "
    "never the corpus. Oracle: identical cap + diagonal chaining in "
    "DuckDB via QUALIFY windows.",
)
def dedup_longest_common_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from accident_prediction_montreal_spark.operators.text import tokenize
    from accident_prediction_montreal_spark.plans.snapshot_fixture import (
        REID_SHIFT,
    )

    k, cap, minr = _RUN_K, _RUN_CAP, _RUN_MIN_TOKENS
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    w = tokenize(F.col("text"))
    planted = docs.filter((F.col("doc_id") % 13 == 0) & (F.size(w) >= 25)).select(
        (F.col("doc_id") + REID_SHIFT).alias("doc_id"),
        F.array_join(F.slice(w, 1, 20), " ").alias("text"),
    )
    corpus = docs.unionByName(planted)

    # Numeric window keys, the word_shingle_hashes idiom (r13 perf fix:
    # the first cut built and SHUFFLED the span strings — 59 s at sf1;
    # hashing tokens once and chaining k shifted copies with zip_with
    # builds no per-span string and shrinks the shuffle key to 8 bytes,
    # 59 -> ~8 s). 64-bit collisions ~|spans|^2/2^64 — the oracle still
    # matches on the strings, so a collision would surface as a
    # hash-mismatch, not silently. safe_count=0 for docs shorter than
    # the window: empty array, no rows (replaces the explicit guard for
    # sequence()'s descending-range behavior).
    th = F.transform(w, lambda t: F.xxhash64(t))
    safe_count = F.greatest(F.size(w) - (k - 1), F.lit(0))
    gram = F.slice(th, 1, safe_count)
    for j in range(1, k):
        gram = F.zip_with(
            gram, F.slice(th, j + 1, safe_count), lambda a, b: F.xxhash64(a, b)
        )
    spans = corpus.select("doc_id", F.posexplode(gram).alias("pos", "s"))
    posting = (
        spans.groupBy("s")
        .agg(F.collect_list(F.struct("doc_id", "pos")).alias("ps"))
        .filter((F.size("ps") >= 2) & (F.size("ps") <= cap))
    )
    # intra-bucket unordered combos via the slice form (each pair built
    # once, the _shingle_pair_intersections idiom), cross-doc only
    ps = F.col("ps")
    combos = F.flatten(
        F.transform(
            ps,
            lambda x, i: F.transform(
                F.slice(ps, i + 2, F.size(ps)),
                lambda y: F.when(
                    x["doc_id"] != y["doc_id"],
                    F.struct(
                        F.least(x["doc_id"], y["doc_id"]).alias("id_a"),
                        F.when(x["doc_id"] < y["doc_id"], x["pos"])
                        .otherwise(y["pos"])
                        .alias("pos_a"),
                        F.greatest(x["doc_id"], y["doc_id"]).alias("id_b"),
                        F.when(x["doc_id"] < y["doc_id"], y["pos"])
                        .otherwise(x["pos"])
                        .alias("pos_b"),
                    ),
                ),
            ),
        )
    )
    m = (
        posting.select(
            F.explode(F.filter(combos, lambda x: x.isNotNull())).alias("p")
        )
        .select("p.*")
    )
    diag = (F.col("pos_a") - F.col("pos_b")).alias("diag")
    wnd = Window.partitionBy("id_a", "id_b", diag).orderBy("pos_a")
    chained = m.select(
        "id_a",
        "id_b",
        "pos_a",
        diag,
        (F.col("pos_a") - F.row_number().over(wnd)).alias("grp"),
    )
    runs = (
        chained.groupBy("id_a", "id_b", "diag", "grp")
        .agg(
            (F.count(F.lit(1)) + (k - 1)).alias("run_tokens"),
            F.min("pos_a").alias("start_a"),
        )
        .filter(F.col("run_tokens") >= minr)
    )
    return (
        runs.groupBy("id_a", "id_b")
        .agg(
            F.max("run_tokens").cast("long").alias("max_run_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_runs"),
            F.sum("start_a").cast("long").alias("start_chk"),
        )
        .orderBy("id_a", "id_b")
    )


_REG["dedup_longest_common_run"] = _QS(
    fn=_REG["dedup_longest_common_run"].fn,
    oracle=_longest_run_oracle(),
    description=_REG["dedup_longest_common_run"].description,
)


# --- ORC source/sink roundtrip ---------------------------------------------------


@register(
    "x26_orc_roundtrip",
    oracle="""
    SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
        AS qty_sum,
      CAST(SUM(l_orderkey) AS BIGINT) AS key_sum
    FROM lineitem
    WHERE l_shipdate < DATE '1998-01-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    description="ORC SOURCE/SINK roundtrip — the engine's second "
    "columnar format (Spark ships the ORC reader/writer natively; "
    "mixed parquet+ORC lakes are the 100-TB migration reality): "
    "lineitem written to an ORC scratch dir, read back with a shipdate "
    "predicate that must reach the ORC scan as a PUSHED filter (ORC "
    "carries min/max stripe statistics exactly like parquet footers — "
    "the plan test pins PushedFilters on the Scan orc node), "
    "re-aggregated decimal-exact and value-checked against the SOURCE "
    "parquet table, so any write/read fidelity loss (row drop, decimal "
    "precision drift, date timezone shift) hash-mismatches. Overwrite "
    "mode keeps the query idempotent across driver reruns.",
)
def x26_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.plans.relational_extra import (
        _scratch,
    )

    base, _ = _scratch("orc", sf_dir)
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_quantity", "l_returnflag", "l_linestatus",
        "l_shipdate",
    )
    li.write.mode("overwrite").orc(base)
    back = spark.read.orc(base).filter(
        F.col("l_shipdate") < F.lit("1998-01-01").cast("date")
    )
    return (
        back.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("qty_sum"),
            F.sum("l_orderkey").cast("long").alias("key_sum"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --- CSV sink fidelity roundtrip -------------------------------------------------


@register(
    "x27_csv_roundtrip",
    oracle="""
    WITH adv AS (
      SELECT doc_id, source,
        'a,"b"\\' || chr(10) || COALESCE(text, '') || ' ,x' AS adv
      FROM documents
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(length(adv)) AS BIGINT) AS chars_sum,
      CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM adv GROUP BY source ORDER BY source
    """,
    description="CSV SINK fidelity roundtrip — the classic lossy-sink "
    "bug class (quote/escape/embedded-newline handling) made "
    "driver-checkable, the x8 pattern for the text-format sink: every "
    "document's text is wrapped in an ADVERSARIAL envelope (embedded "
    "comma, double quote, backslash, bare LF, trailing space) built "
    "identically in both engines, written to a CSV scratch dir with "
    "RFC-4180 doubled-quote escaping (quoteAll + escape='\"'), read "
    "back with multiLine (embedded newlines span physical lines) under "
    "an ENFORCED schema, and re-aggregated. The oracle computes the "
    "same aggregate from the SOURCE table directly — the roundtrip "
    "must be the identity, so any quoting, escaping, newline or "
    "null-vs-empty fidelity loss shifts counts or character sums and "
    "hash-mismatches. Overwrite mode keeps reruns idempotent.",
)
def x27_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from accident_prediction_montreal_spark.plans.relational_extra import (
        _scratch,
    )

    base, _ = _scratch("csvsink", sf_dir)
    adv = F.concat(
        F.lit('a,"b"\\'),
        F.lit("\n"),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" ,x"),
    )
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", adv.alias("adv")
    )
    (
        docs.write.mode("overwrite")
        .options(header=True, quoteAll=True, escape='"')
        .csv(base)
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("adv", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .options(header=True, multiLine=True, quote='"', escape='"')
        .csv(base)
    )
    return (
        back.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.length("adv")).cast("long").alias("chars_sum"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
        .orderBy("source")
    )


# --- incremental line-dedup maintenance ------------------------------------------


def _line_digest_state(base_docs: DataFrame) -> DataFrame:
    """The digest STATE of the base corpus's lines: one xxhash64 per
    distinct line. Built once in production (a bucketed digest table at
    rest); every delta is maintained against it."""
    _, _, base_lines = doc_line_frames(base_docs)
    return base_lines.select(F.xxhash64("line").alias("dig")).distinct()


def _line_dedup_maintain(state: DataFrame, delta_docs: DataFrame) -> DataFrame:
    """Delta-only line-dedup maintenance: given the digest ``state`` of
    the base corpus's lines (``_line_digest_state``), admit only the
    delta's first-seen-new lines — the base corpus is never re-exploded
    per delta (the llm_index_maintenance O(|delta|) pattern applied to
    C4 line dedup)."""
    _, _, delta_lines = doc_line_frames(delta_docs)
    # collapse the delta to ONE candidate row per line BEFORE the state
    # join (min(struct) — the skew-immune survivor pick), so the
    # anti-join's probe side is |distinct delta lines|, not |delta rows|
    cand = (
        delta_lines.select(
            F.xxhash64("line").alias("dig"),
            F.struct(
                "doc_id", "pos", "source", F.length("line").alias("chars")
            ).alias("k"),
        )
        .groupBy("dig")
        .agg(F.min("k").alias("keep"))
    )
    admitted = cand.join(state, "dig", "left_anti")
    return (
        admitted.groupBy(F.col("keep.source").alias("source"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_new_kept"),
            F.sum("keep.chars").cast("long").alias("kept_chars"),
            F.sum(F.col("keep.doc_id") * (F.col("keep.pos") + 1))
            .cast("long")
            .alias("kept_pos_chk"),
        )
        .orderBy("source")
    )


@register(
    "llm_line_dedup_incremental",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, 1 + doc_id % 2 AS rev,
        regexp_split_to_array(trim(lower(text)), '\\s+') AS w
      FROM documents WHERE trim(lower(text)) <> ''
    ),
    lines AS (
      SELECT doc_id, source, rev, i AS pos,
        array_to_string(w[i*{_LINE_TOKS}+1 : i*{_LINE_TOKS}+{_LINE_TOKS}], ' ')
          AS line
      FROM toks,
        unnest(range(0, CAST(ceil(len(w)/{_LINE_TOKS}.0) AS BIGINT))) r(i)
    ),
    delta_kept AS (
      SELECT source, doc_id, pos, length(line) AS chars
      FROM lines
      WHERE rev = 2
        AND line NOT IN (SELECT DISTINCT line FROM lines WHERE rev = 1)
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY line ORDER BY doc_id, pos) = 1
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_new_kept,
      CAST(SUM(chars) AS BIGINT) AS kept_chars,
      CAST(SUM(doc_id * (pos + 1)) AS BIGINT) AS kept_pos_chk
    FROM delta_kept GROUP BY source ORDER BY source
    """,
    description="INCREMENTAL LINE-DEDUP MAINTENANCE — the trilogy's "
    "O(|delta|) pattern (llm_index_maintenance, llm_embedding_refresh) "
    "applied to C4 line dedup: the base corpus's lines live at rest as "
    "a DIGEST STATE table, and a new crawl wave pays only its own "
    "explode + a collapse to one candidate per distinct line (the "
    "skew-immune min(struct) pick, BEFORE the join so the probe side "
    "is |distinct delta lines|) + one anti-join against the state — "
    "the base corpus is NEVER re-exploded per delta. Semantics equal "
    "the streaming twin's rev-2 admissions by construction (same "
    "first-seen-across-(rev, doc_id, pos) contract, so batch "
    "incremental == stream state fold — the property the quota and "
    "corpus-diff families also pin). Base = even doc_ids, delta = odd "
    "(the st_line_dedup_stream convention). 64-bit digest keys follow "
    "the word_shingle_hashes collision note; the oracle matches on the "
    "line STRINGS, so a collision surfaces as a hash-mismatch. Scale "
    "measurement: scripts/bench_line_maint.py holds the delta fixed "
    "and grows the base 10x — maintain wall is bounded by the delta, "
    "not the corpus.",
)
def llm_line_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "text"
    )
    return _line_dedup_maintain(
        _line_digest_state(docs.filter(F.col("doc_id") % 2 == 0)),
        docs.filter(F.col("doc_id") % 2 == 1),
    )
