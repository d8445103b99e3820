"""Similarity and ANN family (SURVEY.md §2.14) as queries: exact and bucketed
cosine top-k, embedding statistics, Lloyd k-means, LSH, IVF, product
quantization and IVF-PQ, their recall and invariant gates, semantic dedup and
decontamination, and the model-based curation pipeline whose last stage is the
semantic dedup. The degenerate-vector contract (NULL and zero-norm embeddings)
is shared by every query here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from accident_prediction_montreal_spark import cachereg
from accident_prediction_montreal_spark.functions.vectors import (
    l2_norm,
    valid_vectors,
)
from accident_prediction_montreal_spark.operators.similarity import (
    brp_lsh_ann,
    cosine_topk,
)
from accident_prediction_montreal_spark.plans.registry import (
    checks,
    register,
    zero_or_vacuous,
)
from accident_prediction_montreal_spark.sources.registry import load_table


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
        "lsh_self_hit": zero_or_vacuous("lsh_n_no_self"),
        "lsh_k_bound": zero_or_vacuous("lsh_n_bad_k"),
        "lsh_candidates_in_corpus": zero_or_vacuous("lsh_n_stray"),
        "ivf_self_hit": zero_or_vacuous("ivf_n_no_self"),
        "ivf_k_bound": zero_or_vacuous("ivf_n_bad_k"),
        "ivf_candidates_in_corpus": zero_or_vacuous("ivf_n_stray"),
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


_K = 8  # k-means cells: seeds = vec_id < 8

# Shared oracle CTE: vectors as DOUBLE[], deterministic seeds, one
# assignment pass. Distance = ‖v‖² − 2·v·c + ‖c‖² from sequential-fold
# dot products — bit-identical to the Spark side's zip_with/aggregate
# folds (see operators/kmeans.py module docstring).
_SQL_V = (
    "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings "
    "WHERE embedding IS NOT NULL"  # degenerate-vector contract (r14)
)
# Cosine-based queries additionally drop zero-norm vectors (cos is 0/0):
_SQL_V_COS = (
    "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings "
    "WHERE embedding IS NOT NULL AND "
    "list_dot_product(CAST(embedding AS DOUBLE[]), "
    "CAST(embedding AS DOUBLE[])) > 0"
)
_SQL_D2 = (
    "list_dot_product(v.vec, v.vec)"
    " - 2.0 * list_dot_product(v.vec, c.cvec)"
    " + list_dot_product(c.cvec, c.cvec)"
)


def _lloyd_oracle(rounds: int) -> str:
    """Generate the literal n-round Lloyd oracle: each round is a
    distance CTE + argmin CTE; every round but the last feeds a
    DECIMAL-exact centroid-update CTE. Mirrors lloyd_kmeans term for
    term (including the rank-based ORDER BY/LIMIT seeding)."""
    parts = [
        f"WITH v AS ({_SQL_V}),",
        f"c0 AS (SELECT vec_id AS cell, vec AS cvec FROM v"
        f" ORDER BY vec_id LIMIT {_K}),",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""d{r} AS (
      SELECT v.vec_id, v.vec, c.cell, {_SQL_D2} AS d2
      FROM v CROSS JOIN c{r - 1} c
    ),
    a{r} AS (
      SELECT vec_id, vec, cell, d2 FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
        FROM d{r}) WHERE rn = 1
    ),"""
        )
        if r < rounds:
            parts.append(
                f"""ex{r} AS (
      SELECT cell, i AS dim, vec[i] AS val
      FROM a{r}, range(1, 65) t(i)
    ),
    mu{r} AS (
      SELECT cell, dim,
        ROUND(CAST(SUM(CAST(ROUND(val, 9) AS DECIMAL(24,9))) AS DOUBLE)
              / COUNT(*), 9) AS cval
      FROM ex{r} GROUP BY cell, dim
    ),
    c{r} AS (SELECT cell, list(cval ORDER BY dim) AS cvec
             FROM mu{r} GROUP BY cell),"""
            )
    body = "\n    ".join(parts).rstrip(",")
    return f"""
    {body}
    SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members,
      ROUND(CAST(SUM(CAST(ROUND(d2, 9) AS DECIMAL(28,9))) AS DOUBLE)
            / COUNT(*), 6) + 0.0 AS inertia
    FROM a{rounds} GROUP BY cell ORDER BY cell
    """


_LLOYD_ROUNDS = 3


@register(
    "sim_kmeans_lloyd",
    oracle=_lloyd_oracle(_LLOYD_ROUNDS),
    description=f"Distributed Lloyd k-means, {_LLOYD_ROUNDS} rounds, FULL "
    "literal value oracle (the engine-checkable complement to MLlib's "
    "black-box KMeans inside the IVF quantizer): deterministic rank-based "
    f"seeds (the {_K} smallest-id vectors via TakeOrderedAndProject), "
    "bit-stable sequential-fold distances, DECIMAL-exact order-"
    "independent centroid means, (d2 ASC, cell ASC) argmin tie-break — "
    "every step reproduced term-for-term by the generated n-round "
    "oracle, so per-cell membership counts AND inertia match to 6 "
    "decimals across TWO refinement rounds (centroid-update convergence "
    "is pinned, not just one step). Scale shape (operators/kmeans.py): "
    "assignment is a zero-shuffle map pass (centroids packed into one "
    "broadcast array-of-structs row, argmin = array_min over transform "
    "— no explode, no window); the update is the only shuffle per round "
    "and its reduce-side output is K*dim rows regardless of corpus "
    "size.",
)
def sim_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.kmeans import lloyd_kmeans

    # NULL embeddings drop (unencodable; _SQL_V mirrors); zero vectors
    # stay — squared-euclidean k-means is defined for them (r14 contract)
    emb = (
        load_table(spark, "embeddings", sf_dir)
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", F.col("embedding").cast("array<double>").alias("vec"))
    )
    assigned = lloyd_kmeans(emb, k=_K, n_iter=_LLOYD_ROUNDS)
    return (
        assigned.groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            (
                F.round(
                    F.sum(F.round("d2", 9).cast("decimal(28,9)")).cast("double")
                    / F.count(F.lit(1)),
                    6,
                )
                + 0.0
            ).alias("inertia"),
        )
        .orderBy("cell")
    )


_SEM_THRESH = 0.999  # within-cell cosine at/above which the larger id is a dup
_SEM_PLANT = 20  # vec_id < 20 get an identical planted copy at id+100000

# SemDeDup cell count GROWS with the corpus: K = clamp(N/1024, 8, 4096),
# so expected cell size stays ~1024 rows and the within-cell quadratic
# pair stage stays linear in N overall instead of quadratic under a
# fixed K. Computed IN-PLAN (1-row agg, broadcast onto the seed filter —
# no driver collect); the oracle mirrors it as a scalar subquery.
_SQL_ADAPTIVE_K = "(SELECT GREATEST(8, LEAST(4096, COUNT(*) // 1024)) FROM {src})"


def _adaptive_k_col(n: F.Column) -> F.Column:
    return F.greatest(
        F.lit(8).cast("long"),
        F.least(F.lit(4096).cast("long"), F.floor(n / F.lit(1024)).cast("long")),
    )


def _adaptive_seeds(emb: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """The K smallest-id vectors as (cell, cvec), K adaptive in count(emb).

    The fixture id space is dense 0-based (TESTDATA.md contract), so
    ``id < K`` is exactly rank-K seeding here and stays SQL-mirrorable;
    the general rank-based form lives in operators/kmeans.py.
    """
    kdf = emb.agg(_adaptive_k_col(F.count(F.lit(1))).alias("__k"))
    return (
        emb.crossJoin(F.broadcast(kdf))
        .filter(F.col(id_col) < F.col("__k"))
        .select(F.col(id_col).alias("cell"), F.col("vec").alias("cvec"))
    )


@register(
    "dedup_semantic",
    oracle=f"""
    WITH base AS ({_SQL_V_COS}),
    corpus AS (
      SELECT vec_id, vec FROM base
      UNION ALL
      SELECT vec_id + 100000 AS vec_id, vec FROM base WHERE vec_id < {_SEM_PLANT}
    ),
    c0 AS (SELECT vec_id AS cell, vec AS cvec FROM base
           WHERE vec_id < {_SQL_ADAPTIVE_K.format(src="base")}),
    d1 AS (
      SELECT v.vec_id, v.vec, c.cell, {_SQL_D2} AS d2
      FROM corpus v CROSS JOIN c0 c
    ),
    a1 AS (
      SELECT vec_id, vec, cell FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
        FROM d1) WHERE rn = 1
    ),
    pairs AS (
      SELECT a.cell, a.vec_id AS keep_cand, b.vec_id AS dup_id,
        list_dot_product(a.vec, b.vec)
          / (sqrt(list_dot_product(a.vec, a.vec))
             * sqrt(list_dot_product(b.vec, b.vec))) AS cos
      FROM a1 a JOIN a1 b ON a.cell = b.cell AND a.vec_id < b.vec_id
    )
    SELECT dup_id, MIN(keep_cand) AS keep_id, cell
    FROM pairs WHERE cos >= {_SEM_THRESH}
    GROUP BY dup_id, cell ORDER BY dup_id
    """,
    description="SemDeDup-style semantic dedup (Abbas et al. 2023 pattern, "
    "§2.14): embeddings are bucketed into k-means cells (one "
    "deterministic assignment pass, operators/kmeans.py — zero-shuffle "
    "broadcast argmin), then pairwise cosine runs ONLY within a cell "
    "and any vector matching an earlier-id vector at cos >= 0.999 is "
    "removed, keeping the smallest qualifying id. A planted fixture "
    "(identical copies of vec_id < 20 re-ids'd at +100000) guarantees "
    "known dups that cross no cell boundary — copies always share "
    "their original's cell because their distances are bit-equal. The "
    "cell bound is the scale story: pairwise work is quadratic only "
    "within a cell, and K is ADAPTIVE — clamp(N/1024, 8, 4096), computed "
    "in-plan from a broadcast 1-row count (no driver collect) — so "
    "expected cell size stays ~1024 rows and total pair work stays "
    "linear in N; the all-pairs join never forms. The pair stage is a "
    "per-cell VECTORIZED matmul (cell_cosine_pairs: Arrow ships each "
    "cell once, numpy computes the Gram matrix — the paper's own "
    "per-cluster shape; ~10x over the interpreted per-pair fold at "
    "sf1). Value oracle replays assignment (fold-exact argmin) and the "
    "adaptive K (scalar subquery); pair cosines differ from the "
    "oracle's folds only in ~1e-15 summation order, immaterial against "
    "the 0.999 threshold margin and verified end-to-end by the hash "
    "gate.",
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.kmeans import assign_cells
    from accident_prediction_montreal_spark.operators.similarity import (
        cell_cosine_pairs,
    )

    from accident_prediction_montreal_spark.functions.vectors import valid_vectors

    # cosine-based near-dup: degenerate vectors drop (r14 contract;
    # oracle mirrors via _SQL_V_COS) — a zero-norm "copy" pair would
    # otherwise be 0/0: NaN in Spark, NULL in DuckDB, and DuckDB orders
    # NaN ABOVE all values so the >= threshold predicate diverges.
    base = valid_vectors(load_table(spark, "embeddings", sf_dir)).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    planted = base.filter(F.col("vec_id") < _SEM_PLANT).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "vec"
    )
    corpus = base.unionByName(planted)
    seeds = _adaptive_seeds(base)
    # Assignment stays the fold-exact broadcast argmin (bit-identical to
    # the oracle's replay); the within-cell pair stage is the vectorized
    # per-cell matmul (operators/similarity.py::cell_cosine_pairs — see
    # its docstring for the fp-order note vs the oracle's fold).
    assigned = assign_cells(corpus, seeds).select("cell", "vec_id", "vec")
    pairs = cell_cosine_pairs(assigned, _SEM_THRESH)
    return (
        pairs.groupBy(F.col("id_b").alias("dup_id"), F.col("cell"))
        .agg(F.min("id_a").alias("keep_id"))
        .select("dup_id", "keep_id", "cell")
        .orderBy("dup_id")
    )


@register(
    "llm_curation_pipeline",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text, source, n_chars FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text, source, n_chars
      FROM documents WHERE doc_id < {_SEM_PLANT}
    ),
    toks AS (
      SELECT doc_id, source, n_chars,
        CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
             ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS w
      FROM corpus
    ),
    qc AS (
      SELECT doc_id, source, n_chars,
        -- NULL text -> NULL score, same convention as the standalone
        -- classifier oracle above (r14 fuzz triage); kept then drops
        -- the doc (NULL >= 0 is not true), matching Spark
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
    ),
    kept AS (SELECT doc_id, source, n_chars FROM qc WHERE score_milli >= 0),
    v AS ({_SQL_V}),
    kv AS (
      SELECT k.doc_id, e.vec FROM kept k
      JOIN v e ON e.vec_id = k.doc_id % 100000
    ),
    c0 AS (SELECT vec_id AS cell, vec AS cvec FROM v
           WHERE vec_id < {_SQL_ADAPTIVE_K.format(src="v")}),
    d1 AS (
      SELECT kv.doc_id, kv.vec, c.cell,
        list_dot_product(kv.vec, kv.vec)
        - 2.0 * list_dot_product(kv.vec, c.cvec)
        + list_dot_product(c.cvec, c.cvec) AS d2
      FROM kv CROSS JOIN c0 c
    ),
    a1 AS (
      SELECT doc_id, vec, cell FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY doc_id ORDER BY d2 ASC, cell ASC) AS rn
        FROM d1) WHERE rn = 1
    ),
    dups AS (
      SELECT DISTINCT b.doc_id AS dup_id
      FROM a1 a JOIN a1 b ON a.cell = b.cell AND a.doc_id < b.doc_id
      WHERE list_dot_product(a.vec, b.vec)
          / (sqrt(list_dot_product(a.vec, a.vec))
             * sqrt(list_dot_product(b.vec, b.vec))) >= {_SEM_THRESH}
    ),
    surv AS (
      SELECT k.* FROM kept k LEFT JOIN dups d ON k.doc_id = d.dup_id
      WHERE d.dup_id IS NULL
    ),
    d AS (
      SELECT source AS domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS units
      FROM surv GROUP BY source
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
    ),
    raw AS (
      SELECT source AS domain, CAST(COUNT(*) AS BIGINT) AS n_raw
      FROM corpus GROUP BY source
    ),
    kc AS (
      SELECT source AS domain, CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY source
    )
    SELECT s.domain, raw.n_raw, kc.n_kept, s.n_docs, s.units,
      ROUND(s.p_tau, 6) + 0.0 AS p_tau,
      ROUND(s.epochs, 6) + 0.0 AS epochs,
      ROUND(s.epochs * CAST(s.units AS DOUBLE), 2) + 0.0 AS realized_units,
      ROUND(s.target - s.epochs * CAST(s.units AS DOUBLE), 2) + 0.0
        AS deficit_units
    FROM s JOIN raw USING (domain) JOIN kc USING (domain)
    ORDER BY s.domain
    """,
    description="Model-based curation capstone — the THIRD pipeline composite "
    "next to llm_pretrain_pipeline (heuristic filters + MinHash) and "
    "apm_dataset_pipeline: hashed-linear QUALITY CLASSIFIER gate -> "
    "SemDeDup SEMANTIC dedup over k-means cells (docs without an "
    "embedding pass through — you cannot semantically dedup what you "
    "cannot embed) -> per-domain EPOCH/REPEAT schedule for a 1.5x "
    "budget, in ONE lazy plan with a full CTE oracle. Planted +100000 "
    "document copies travel the whole pipeline: identical text scores "
    "identically through the classifier, identical embeddings land in "
    "the original's cell and die in the dedup stage, so the stage "
    "counts (n_raw > n_kept >= n_docs) are structurally guaranteed. "
    "Per stage the scale shape is the proven one: zero-shuffle "
    "classifier map, broadcast argmin assignment with ADAPTIVE K = "
    "clamp(N/1024, 8, 4096) (in-plan 1-row count, no driver collect), "
    "cell-bounded pairwise, |domains|-row schedule.",
)
def llm_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.kmeans import assign_cells
    from accident_prediction_montreal_spark.operators.mixing import epoch_schedule
    from accident_prediction_montreal_spark.operators.similarity import (
        cell_cosine_pairs,
    )
    from accident_prediction_montreal_spark.operators.text import (
        quality_classifier,
    )

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "text", "source", "n_chars"
    )
    planted = docs.filter(F.col("doc_id") < _SEM_PLANT).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "source", "n_chars"
    )
    corpus = docs.unionByName(planted)

    qc = quality_classifier(corpus)
    kept = corpus.join(
        qc.filter(F.col("keep") == 1).select("doc_id"), "doc_id", "left_semi"
    )

    # NULL embeddings drop (degenerate-vector contract, r14; the
    # oracle's v CTE = _SQL_V carries the same WHERE). Zero vectors may
    # stay: assignment is L2 and the pair stage's 0-cosine (numpy
    # zero-norm guard) / NULL-cosine (DuckDB 0/0) both fail the >=
    # threshold filter identically.
    emb = (
        load_table(spark, "embeddings", sf_dir)
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", F.col("embedding").cast("array<double>").alias("vec"))
    )
    kv = kept.select("doc_id").join(
        emb, emb["vec_id"] == F.col("doc_id") % 100000
    ).select("doc_id", "vec")
    seeds = _adaptive_seeds(emb)
    # Fold-exact assignment; vectorized per-cell matmul pair stage
    # (operators/similarity.py::cell_cosine_pairs).
    assigned = assign_cells(kv, seeds, id_col="doc_id").select(
        "cell", "doc_id", "vec"
    )
    dups = (
        cell_cosine_pairs(assigned, _SEM_THRESH, id_col="doc_id")
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    surv = kept.join(dups, "doc_id", "left_anti")

    sched = epoch_schedule(surv)
    raw_c = corpus.groupBy(F.col("source").alias("domain")).agg(
        F.count(F.lit(1)).cast("long").alias("n_raw")
    )
    kept_c = kept.groupBy(F.col("source").alias("domain")).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept")
    )
    return (
        sched.join(raw_c, "domain")
        .join(kept_c, "domain")
        .select(
            "domain",
            "n_raw",
            "n_kept",
            "n_docs",
            "units",
            (F.round("p_tau", 6) + 0.0).alias("p_tau"),
            (F.round("epochs", 6) + 0.0).alias("epochs"),
            (F.round("realized_units", 2) + 0.0).alias("realized_units"),
            (F.round("deficit_units", 2) + 0.0).alias("deficit_units"),
        )
        .orderBy("domain")
    )


def _decontam_sides(spark: SparkSession, sf_dir: str):
    """(train, eval_set) embeddings for the semantic decontamination
    queries: every valid vector trains, and every 37th re-id'd by
    +20000000 is an eval item whose exact copy sits in train.
    Degenerate vectors drop (the operator REFUSES NULL embeddings by
    design, so the plan guarantees it never sees one)."""
    emb = valid_vectors(load_table(spark, "embeddings", sf_dir)).select(
        "vec_id", "embedding"
    )
    eval_set = emb.filter(F.col("vec_id") % 37 == 0).select(
        (F.col("vec_id") + 20_000_000).alias("eval_id"), "embedding"
    )
    return emb.select(F.col("vec_id").alias("train_id"), "embedding"), eval_set


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

    train, eval_set = _decontam_sides(spark, sf_dir)
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

    train, eval_set = _decontam_sides(spark, sf_dir)
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


# --- massive-query-side ANN (bucketed IVF top-k) -------------------------------


@register(
    "sim_cosine_topk_bucketed",
    oracle="""
    WITH e AS (
      -- degenerate-vector contract (r14): NULL/zero-norm drop — cosine
      -- is undefined for them
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE embedding IS NOT NULL
        AND list_dot_product(CAST(embedding AS DOUBLE[]),
                             CAST(embedding AS DOUBLE[])) > 0
    ),
    n AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv FROM e
    ),
    q AS (
      SELECT vec_id AS query_id, v AS qv, nv AS nq FROM n
      WHERE vec_id % 20 = 7
    ),
    pairs AS (
      SELECT q.query_id, n.vec_id,
        list_dot_product(q.qv, n.v) / (q.nq * n.nv) AS cosine
      FROM n CROSS JOIN q
    )
    SELECT query_id, vec_id, ROUND(cosine, 6) + 0.0 AS cosine,
      CAST(rn AS BIGINT) AS "rank"
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id ASC) AS rn
      FROM pairs
    ) WHERE rn <= 3 ORDER BY query_id, rn
    """,
    description="MASSIVE-QUERY-SIDE ANN — ivf_cosine_topk_bucketed "
    "(operators/ivf.py), the implemented form of the regime split the "
    "serving-shape ivf_cosine_topk documents: 5% of the corpus queries "
    "the whole corpus (the batch-inference shape: re-rank, dedup "
    "candidates, link prediction), which would make the window form's "
    "|queries| x n_cells probe shuffle and interpreted expression "
    "cosine the bottleneck. The bucketed plan is the decontamination "
    "pattern: zero-shuffle probe selection against driver-local "
    "centroids, cogroup-per-cell numpy Gram matmul emitting CELL-LOCAL "
    "top-k (the shuffle after the matmul carries <= n_probe x k rows "
    "per query, never the candidate set), then a bounded global "
    "re-rank. Run in EXACT mode (n_probe = n_cells = 8, the self-hit-"
    "independent setting) so the brute-force SQL scan is a full value "
    "oracle; equality with both ivf_cosine_topk and the brute scan is "
    "also pinned by test_tuning_skew_ivf. The quantizer fit is the "
    "usual capped-iteration fixed cost (PERF.md r10).",
)
def sim_cosine_topk_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.ivf import (
        build_ivf_index,
        ivf_cosine_topk_bucketed,
    )

    from accident_prediction_montreal_spark.functions.vectors import valid_vectors

    # cosine metric: degenerate vectors drop (r14 contract; oracle WHERE)
    emb = valid_vectors(load_table(spark, "embeddings", sf_dir)).select(
        "vec_id", "embedding"
    )
    queries = emb.filter(F.col("vec_id") % 20 == 7).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    assigned, cents = build_ivf_index(
        emb, n_cells=8, sample_fraction=0.25, max_iter=5
    )
    out = ivf_cosine_topk_bucketed(
        queries, assigned, cents, k=3, n_probe=8
    )
    return out.select(
        "query_id",
        "vec_id",
        (F.round("cosine", 6) + 0.0).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    ).orderBy("query_id", "rank")


@register(
    "sim_ann_bucketed_recall",
    oracle="""
    SELECT 'bucketed_recall_at_10_ge_0.8' AS chk, CAST(1 AS BIGINT) AS ok
    UNION ALL SELECT 'bucketed_equals_window_form', CAST(1 AS BIGINT)
    """,
    description="MEASURED recall@10 for the APPROXIMATE regime of the "
    "massive-query-side bucketed IVF (sim_cosine_topk_bucketed runs "
    "exact mode so a brute scan can value-oracle it; THIS pins the "
    "n_probe < n_cells regime): the same fixed-seed protocol as "
    "sim_ann_recall (50 queries, L2-normalized vectors, n_probe=5 of "
    "8 cells, recall floor 0.8 against the exact cosine top-10), run "
    "through ivf_cosine_topk_bucketed's cogroup-Gram plan instead of "
    "the serving-shape window plan — plus a second contract row "
    "pinning that at the SAME n_probe the two physical plans return "
    "the IDENTICAL id set (the regime split changes the plan, never "
    "the answer). The recall/latency curve at sf1 is published in "
    "BENCH_ann_bucketed_recall (n_probe in {1,2,4,8}).",
)
def sim_ann_bucketed_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.functions.vectors import l2_norm
    from accident_prediction_montreal_spark.operators.checksum import (
        checksum_equal_fact,
    )
    from accident_prediction_montreal_spark.operators.ivf import (
        build_ivf_index,
        ivf_cosine_topk,
        ivf_cosine_topk_bucketed,
    )
    from accident_prediction_montreal_spark.operators.similarity import (
        cosine_topk,
    )
    from accident_prediction_montreal_spark.functions.vectors import valid_vectors

    k, floor, n_probe = 10, 0.8, 5
    # degenerate vectors drop BEFORE the normalize: x / ||v|| on a zero
    # vector is an ANSI DIVIDE_BY_ZERO crash (r14 embeddings fuzz)
    # The normalized corpus feeds SIX consumers (stride count, the
    # query sample x3, the exact baseline's corpus side, the KMeans
    # fit sample, the assignment scan, the n_c count) — unpersisted,
    # each replayed the scan + per-element normalize (guide §5:
    # cache what is reused and expensive). The stride count below
    # is already an action, so materialization costs nothing extra.
    cached = cachereg.generation("plans.sim_ann_bucketed_recall")
    emb = cached.persist(
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
    # FIXED-SIZE query sample (~50 at any scale): recall estimation
    # needs a constant sample, not a corpus-proportional one — the
    # first cut used `% 10` (sim_ann_recall's literal), which at sf1
    # meant 2,000 queries through the brute-force exact baseline
    # (40M interpreted cosine pairs, 537 s — the exact quadratic
    # blowup the sf1 bench exists to catch). The count() deciding the
    # stride is a parquet footer read. At sf0.01 (500 vectors) the
    # stride is the original 10, so the driver-checked result is
    # byte-identical.
    stride = max(10, emb.count() // 50)
    queries = emb.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = cosine_topk(queries, emb, k=k)
    # The recall gate doesn't need a converged quantizer — the capped
    # fit (the sim_cosine_topk_bucketed setting) measures the same
    # regime at a fraction of the KMeans cost; the assignment scan is
    # persisted because bucketed / window-form / checksum branches all
    # re-read it (cachereg generation lifecycle, like the operators).
    assigned, cents = build_ivf_index(
        emb, n_cells=8, sample_fraction=0.25, max_iter=5
    )
    assigned = cached.persist(assigned)
    bucketed = ivf_cosine_topk_bucketed(
        queries, assigned, cents, k=k, n_probe=n_probe
    )
    window_form = ivf_cosine_topk(
        queries, assigned, cents, k=k, n_probe=n_probe
    )

    matched = bucketed.select("query_id", "vec_id").join(
        exact.select("query_id", "vec_id", F.lit(1).alias("in_exact")),
        ["query_id", "vec_id"],
        "left",
    )
    # Denominator = n_q * min(k, |corpus|), not n_q * k: on a corpus
    # smaller than k a PERFECT result would read recall < 1 (r14
    # embeddings fuzz). try_divide + the n_q=0 branch make the gate
    # vacuously true on an empty/all-degenerate corpus.
    n_q = queries.select(F.count(F.lit(1)).alias("n_q"))
    n_c = emb.select(F.count(F.lit(1)).alias("n_c"))
    # Multiset checksum instead of symmetric exceptAll: the id-set
    # equality contract at O(1) rows, computing each ANN path once per
    # branch instead of twice (operators/checksum.py — the same
    # replacement the trilogy verify stages got this round). Both
    # paths tie-break (cosine DESC, id ASC), so equal id MULTISETS at
    # equal k means equal result sets.
    plans_agree = checksum_equal_fact(
        bucketed.select("query_id", "vec_id"),
        window_form.select("query_id", "vec_id"),
        ["query_id", "vec_id"],
        "bucketed_equals_window_form",
    ).select(F.col("n").alias("agree"))
    row = (
        matched.agg(F.sum(F.coalesce("in_exact", F.lit(0))).alias("n_match"))
        .crossJoin(F.broadcast(n_q))
        .crossJoin(F.broadcast(n_c))
        .crossJoin(plans_agree)
    )
    return checks(row, {
        f"bucketed_recall_at_{k}_ge_{floor}": (F.col("n_q") == 0)
        | (
            F.try_divide(
                F.col("n_match"),
                F.col("n_q") * F.least(F.lit(k), F.col("n_c")),
            )
            >= floor
        ),
        "bucketed_equals_window_form": F.col("agree") == 1,
    }).orderBy("chk")


_PQ_M = 4  # subspaces
_PQ_K = 8  # codes per subspace (seeds = the 8 smallest-id subvectors)
_PQ_ITER = 2  # assignment passes (one DECIMAL-exact update between)
_PQ_SUBDIM = 16  # 64-dim fixture contract / 4 subspaces
_PQ_NQ = 5  # queries = vec_id < 5
_PQ_TOPK = 5

# Fold-exact squared L2 between two DOUBLE[] expressions, the exact
# term order of operators/kmeans.sq_dist: ‖a‖² − 2·a·b + ‖b‖².
_D2 = (
    "list_dot_product({a}, {a})"
    " - 2.0 * list_dot_product({a}, {b})"
    " + list_dot_product({b}, {b})"
)


def _pq_oracle() -> str:
    """Generate the literal PQ oracle: per subspace a Lloyd block
    (seed → assign → DECIMAL-exact update → re-assign → codes) plus a
    per-query LUT; the ADC sum joins the m code columns to the m LUTs
    and adds left-to-right — the same IEEE order as the Spark side's
    chained element_at additions."""
    parts = [
        "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec"
        " FROM embeddings WHERE embedding IS NOT NULL),"
    ]
    for mi in range(_PQ_M):
        o1, o2 = mi * _PQ_SUBDIM + 1, (mi + 1) * _PQ_SUBDIM
        d2_sc = _D2.format(a="s.sv", b="c.cvec")
        d2_qc = _D2.format(a="q.sv", b="c.cvec")
        parts.append(
            f"""s{mi} AS (SELECT vec_id, vec[{o1}:{o2}] AS sv FROM v),
    c{mi}_0 AS (SELECT vec_id AS cell, sv AS cvec FROM s{mi}
                ORDER BY vec_id LIMIT {_PQ_K}),
    d{mi}_1 AS (
      SELECT s.vec_id, s.sv, c.cell, {d2_sc} AS d2
      FROM s{mi} s CROSS JOIN c{mi}_0 c
    ),
    a{mi}_1 AS (
      SELECT vec_id, sv, cell FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
        FROM d{mi}_1) WHERE rn = 1
    ),
    ex{mi}_1 AS (
      SELECT cell, i AS dim, sv[i] AS val
      FROM a{mi}_1, range(1, {_PQ_SUBDIM + 1}) t(i)
    ),
    mu{mi}_1 AS (
      SELECT cell, dim,
        ROUND(CAST(SUM(CAST(ROUND(val, 9) AS DECIMAL(24,9))) AS DOUBLE)
              / COUNT(*), 9) AS cval
      FROM ex{mi}_1 GROUP BY cell, dim
    ),
    c{mi}_1 AS (SELECT cell, list(cval ORDER BY dim) AS cvec
                FROM mu{mi}_1 GROUP BY cell),
    d{mi}_2 AS (
      SELECT s.vec_id, c.cell, {d2_sc} AS d2
      FROM s{mi} s CROSS JOIN c{mi}_1 c
    ),
    codes{mi} AS (
      SELECT vec_id, cell FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
        FROM d{mi}_2) WHERE rn = 1
    ),
    lut{mi} AS (
      SELECT q.vec_id AS query_id, c.cell, {d2_qc} AS d
      FROM (SELECT vec_id, sv FROM s{mi} WHERE vec_id < {_PQ_NQ}) q
      CROSS JOIN c{mi}_1 c
    ),"""
        )
    joins = "\n      ".join(
        f"JOIN codes{mi} c{mi} ON c{mi}.vec_id = c0.vec_id" for mi in range(1, _PQ_M)
    )
    lut_joins = "\n      ".join(
        f"JOIN lut{mi} l{mi} ON l{mi}.query_id = l0.query_id"
        f" AND l{mi}.cell = codes.k{mi}"
        for mi in range(1, _PQ_M)
    )
    adc_sum = " + ".join(f"l{mi}.d" for mi in range(_PQ_M))
    kcols = ", ".join(f"c{mi}.cell AS k{mi}" for mi in range(_PQ_M))
    parts.append(
        f"""codes AS (
      SELECT c0.vec_id, {kcols.replace('c0.cell AS k0', 'c0.cell AS k0')}
      FROM codes0 c0
      {joins}
    ),
    adc AS (
      SELECT l0.query_id, codes.vec_id, {adc_sum} AS adc_d2
      FROM codes
      JOIN lut0 l0 ON l0.cell = codes.k0
      {lut_joins}
    )
    SELECT query_id, vec_id, ROUND(adc_d2, 6) + 0.0 AS adc_d2,
      CAST(rn AS BIGINT) AS "rank"
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc_d2 ASC, vec_id ASC) AS rn
      FROM adc
    ) WHERE rn <= {_PQ_TOPK}"""
    )
    return "\n    ".join(parts)


@register(
    "sim_pq_adc_topk",
    oracle=_pq_oracle(),
    description="Product-quantization ANN with a FULL literal value oracle "
    "(train -> encode -> ADC scan -> top-k; Jégou et al. 2011): the 64-dim "
    "corpus splits into 4 subspaces of 16; each subspace fits an "
    "engine-reproducible Lloyd codebook (rank-based seeds, fold-exact "
    "distances, DECIMAL-exact means — operators/kmeans.py composed by "
    "operators/pq.py); vectors compress to 4 small codes (256 bytes -> "
    "4 codes at scale, the page-cache win for a 100 TB corpus); queries "
    "build per-subspace LUTs and the scan cost per corpus row is 4 map "
    "lookups + 3 additions, no vector math. Scale shape: training "
    "shuffles K*sub_dim rows per subspace (corpus-size independent), "
    "encoding is ONE zero-shuffle projection against broadcast packed "
    "codebooks, LUTs broadcast (Q rows), and the ADC scan's candidate "
    "rows carry no arrays. Composes with IVF cells for the standard "
    "IVF-PQ billion-scale layout. The oracle replays every stage "
    "term-for-term, so codes, LUT entries, fixed-order ADC sums, and "
    "the (adc ASC, vec_id ASC) top-k tie-break all hash-match.",
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.pq import (
        pq_adc_topk,
        pq_encode,
        train_pq_codebooks,
    )

    emb = (
        load_table(spark, "embeddings", sf_dir)
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", F.col("embedding").cast("array<double>").alias("vec"))
    )
    books = train_pq_codebooks(
        emb, m=_PQ_M, k=_PQ_K, n_iter=_PQ_ITER, sub_dim=_PQ_SUBDIM
    )
    codes = pq_encode(emb, books, sub_dim=_PQ_SUBDIM)
    queries = emb.filter(F.col("vec_id") < _PQ_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("query_vec")
    )
    out = pq_adc_topk(
        queries, codes, books, sub_dim=_PQ_SUBDIM, k=_PQ_TOPK
    )
    return out.select(
        "query_id",
        "vec_id",
        (F.round("adc_d2", 6) + 0.0).alias("adc_d2"),
        F.col("rank").cast("long").alias("rank"),
    )


# --- IVF-PQ: the composed billion-scale layout ---------------------------------

_IVFPQ_NPROBE = 2  # of the 8 coarse cells
_IVFPQ_COARSE_K = 8


def _sub_block(mi: int) -> str:
    """One PQ subspace Lloyd block (identical text to _pq_oracle's) —
    shared by the IVF-PQ oracle so both queries replay the same
    codebook training."""
    o1, o2 = mi * _PQ_SUBDIM + 1, (mi + 1) * _PQ_SUBDIM
    d2_sc = _D2.format(a="s.sv", b="c.cvec")
    d2_qc = _D2.format(a="q.sv", b="c.cvec")
    return f"""s{mi} AS (SELECT vec_id, vec[{o1}:{o2}] AS sv FROM v),
    c{mi}_0 AS (SELECT vec_id AS cell, sv AS cvec FROM s{mi}
                ORDER BY vec_id LIMIT {_PQ_K}),
    d{mi}_1 AS (
      SELECT s.vec_id, s.sv, c.cell, {d2_sc} AS d2
      FROM s{mi} s CROSS JOIN c{mi}_0 c
    ),
    a{mi}_1 AS (
      SELECT vec_id, sv, cell FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
        FROM d{mi}_1) WHERE rn = 1
    ),
    ex{mi}_1 AS (
      SELECT cell, i AS dim, sv[i] AS val
      FROM a{mi}_1, range(1, {_PQ_SUBDIM + 1}) t(i)
    ),
    mu{mi}_1 AS (
      SELECT cell, dim,
        ROUND(CAST(SUM(CAST(ROUND(val, 9) AS DECIMAL(24,9))) AS DOUBLE)
              / COUNT(*), 9) AS cval
      FROM ex{mi}_1 GROUP BY cell, dim
    ),
    c{mi}_1 AS (SELECT cell, list(cval ORDER BY dim) AS cvec
                FROM mu{mi}_1 GROUP BY cell),
    d{mi}_2 AS (
      SELECT s.vec_id, c.cell, {d2_sc} AS d2
      FROM s{mi} s CROSS JOIN c{mi}_1 c
    ),
    codes{mi} AS (
      SELECT vec_id, cell FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
        FROM d{mi}_2) WHERE rn = 1
    ),
    lut{mi} AS (
      SELECT q.vec_id AS query_id, c.cell, {d2_qc} AS d
      FROM (SELECT vec_id, sv FROM s{mi} WHERE vec_id < {_PQ_NQ}) q
      CROSS JOIN c{mi}_1 c
    ),"""


def _ivfpq_oracle() -> str:
    """IVF-PQ replayed literally: a FULL-DIM Lloyd block trains the
    coarse quantizer (same seeding/update/tie-break as the subspace
    blocks), probes = per-query top-n_probe cells by (d2, cell), and
    the ADC sum runs only over candidates whose coarse cell is probed —
    the same pruning the Spark side's broadcast hash join on cell does."""
    dim = _PQ_M * _PQ_SUBDIM
    d2_gc = _D2.format(a="s.vec", b="c.cvec")
    d2_qg = _D2.format(a="q.vec", b="c.cvec")
    parts = [
        "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec"
        " FROM embeddings WHERE embedding IS NOT NULL),",
        f"""g_0 AS (SELECT vec_id AS cell, vec AS cvec FROM v
                ORDER BY vec_id LIMIT {_IVFPQ_COARSE_K}),
    gd_1 AS (
      SELECT s.vec_id, s.vec, c.cell, {d2_gc} AS d2
      FROM v s CROSS JOIN g_0 c
    ),
    ga_1 AS (
      SELECT vec_id, vec, cell FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
        FROM gd_1) WHERE rn = 1
    ),
    gex_1 AS (
      SELECT cell, i AS dim, vec[i] AS val
      FROM ga_1, range(1, {dim + 1}) t(i)
    ),
    gmu_1 AS (
      SELECT cell, dim,
        ROUND(CAST(SUM(CAST(ROUND(val, 9) AS DECIMAL(24,9))) AS DOUBLE)
              / COUNT(*), 9) AS cval
      FROM gex_1 GROUP BY cell, dim
    ),
    g_1 AS (SELECT cell, list(cval ORDER BY dim) AS cvec
            FROM gmu_1 GROUP BY cell),
    gd_2 AS (
      SELECT s.vec_id, c.cell, {d2_gc} AS d2
      FROM v s CROSS JOIN g_1 c
    ),
    gassign AS (
      SELECT vec_id, cell FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
        FROM gd_2) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, cell FROM (
        SELECT q.vec_id AS query_id, c.cell,
          ROW_NUMBER() OVER (PARTITION BY q.vec_id
                             ORDER BY {d2_qg} ASC, c.cell ASC) AS rn
        FROM (SELECT vec_id, vec FROM v WHERE vec_id < {_PQ_NQ}) q
        CROSS JOIN g_1 c
      ) WHERE rn <= {_IVFPQ_NPROBE}
    ),""",
    ]
    for mi in range(_PQ_M):
        parts.append(_sub_block(mi))
    joins = "\n      ".join(
        f"JOIN codes{mi} c{mi} ON c{mi}.vec_id = c0.vec_id" for mi in range(1, _PQ_M)
    )
    lut_joins = "\n      ".join(
        f"JOIN lut{mi} l{mi} ON l{mi}.query_id = cand.query_id"
        f" AND l{mi}.cell = cand.k{mi}"
        for mi in range(1, _PQ_M)
    )
    adc_sum = " + ".join(f"l{mi}.d" for mi in range(_PQ_M))
    kcols = ", ".join(f"c{mi}.cell AS k{mi}" for mi in range(_PQ_M))
    parts.append(
        f"""codes AS (
      SELECT c0.vec_id, {kcols}
      FROM codes0 c0
      {joins}
    ),
    cand AS (
      SELECT p.query_id, codes.*
      FROM codes
      JOIN gassign ga ON ga.vec_id = codes.vec_id
      JOIN probes p ON p.cell = ga.cell
    ),
    adc AS (
      SELECT cand.query_id, cand.vec_id, {adc_sum} AS adc_d2
      FROM cand
      JOIN lut0 l0 ON l0.query_id = cand.query_id AND l0.cell = cand.k0
      {lut_joins}
    )
    SELECT query_id, vec_id, ROUND(adc_d2, 6) + 0.0 AS adc_d2,
      CAST(rn AS BIGINT) AS "rank"
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc_d2 ASC, vec_id ASC) AS rn
      FROM adc
    ) WHERE rn <= {_PQ_TOPK}"""
    )
    return "\n    ".join(parts)


@register(
    "sim_ivfpq_topk",
    oracle=_ivfpq_oracle(),
    description="IVF-PQ — the composed billion-scale ANN layout (faiss "
    "IndexIVFPQ shape, no-residual variant) with a FULL literal value "
    "oracle: a deterministic-Lloyd COARSE quantizer (8 cells over the "
    "full 64 dims — same rank-based seeds / DECIMAL-exact update / "
    "(d2, cell) tie-break as the PQ codebooks, so unlike the MLlib-"
    "backed IVF the whole composition is engine-replayable) prunes "
    "each query to its n_probe=2 nearest cells; the PQ ADC scan "
    "(sim_pq_adc_topk's codebooks, shared oracle text) runs ONLY over "
    "candidates in probed cells. Scan cost per query: |corpus| * "
    "n_probe / n_cells code rows * 4 map lookups — vectors and "
    "unprobed cells are never read. Plan shape: probe selection is "
    "zero-shuffle (one broadcast packed-centroid row, array_sort + "
    "slice per query); candidate selection is a broadcast HASH join "
    "on cell (partition pruning once the corpus is written "
    "partitioned by cell); LUTs broadcast; WindowGroupLimit top-k. "
    "Residual encoding is the documented drop-in refinement. "
    "Approximate when a true neighbor lives in an unprobed cell; "
    "n_probe = n_cells degenerates to exact-ADC (= sim_pq_adc_topk).",
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.kmeans import assign_cells
    from accident_prediction_montreal_spark.operators.pq import (
        ivfpq_topk,
        pq_encode,
        train_books,
    )

    dim = _PQ_M * _PQ_SUBDIM
    emb = (
        load_table(spark, "embeddings", sf_dir)
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", F.col("embedding").cast("array<double>").alias("vec"))
    )
    # coarse quantizer = a 1-subspace codebook over the full dim: the
    # same deterministic-Lloyd train loop the subspace books use. The
    # coarse book and the m subspace books train FUSED in one corpus
    # pass per iteration (train_books with overlapping specs; r15 —
    # guide §2.1 eliminate redundant passes): the per-book values are
    # bit-identical to the two standalone trains (shared TakeOrdered
    # seeds, same per-book slices/tie-breaks, DECIMAL-exact sums keyed
    # (book, cell, dim)), but the corpus is scanned once per iteration
    # instead of twice and ONE persisted table serves every consumer.
    # Requires k equal across books (both are 8 here).
    assert _IVFPQ_COARSE_K == _PQ_K
    all_books = train_books(
        emb,
        [(0, dim)] + [(mi * _PQ_SUBDIM, _PQ_SUBDIM) for mi in range(_PQ_M)],
        k=_PQ_K,
        n_iter=_PQ_ITER,
    )
    coarse_cents, books = all_books[0], all_books[1:]
    # ONE at-rest index table (vec_id, cell, code_0..3): coarse assign
    # then encode in the same lineage, so the query path never joins
    # two corpus-sized relations (pq_encode keep_cols).
    coarse_assigned = assign_cells(emb, coarse_cents, vec_col="vec")
    index = pq_encode(
        coarse_assigned, books, sub_dim=_PQ_SUBDIM, keep_cols=["cell"]
    )
    queries = emb.filter(F.col("vec_id") < _PQ_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("query_vec")
    )
    out = ivfpq_topk(
        queries,
        coarse_cents,
        index,
        books,
        sub_dim=_PQ_SUBDIM,
        k=_PQ_TOPK,
        n_probe=_IVFPQ_NPROBE,
    )
    return out.select(
        "query_id",
        "vec_id",
        (F.round("adc_d2", 6) + 0.0).alias("adc_d2"),
        F.col("rank").cast("long").alias("rank"),
    )
