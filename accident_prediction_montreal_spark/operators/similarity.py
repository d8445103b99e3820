"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — a broadcast join of the query set
against the corpus with JVM-side vector math (functions/vectors.py), then
windowed top-k. At 100 TB this is one map stage over the corpus plus a
top-k shuffle on query_id, and it is exact.

Scale path: ``BucketedRandomProjectionLSH`` from Spark MLlib buckets both
sides so candidate generation is an equi-join on hash buckets — the IVF/
LSH-shaped alternative when the corpus no longer fits a full scan per
query batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from accident_prediction_montreal_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    l2_norm,
    stack_rows,
    unit_rows,
    valid_vectors,
)


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Exact top-k corpus neighbors per query by cosine similarity.

    Returns (query_id, vec_id, cosine, rank). Queries are broadcast — the
    corpus is scanned once, never shuffled before the per-query top-k.
    Ties break on corpus id (deterministic).

    Norms are computed per POINT below the join (the corpus-side Project
    runs once per corpus row, the query side once at broadcast build) —
    inlining cosine_similarity per pair would recompute each corpus norm
    once per query. Same fold + multiplication order as
    cosine_similarity, so values are bit-identical.
    """
    # Degenerate-vector contract (functions/vectors.valid_vectors): NULL
    # and zero-norm vectors drop from both sides — cosine is undefined
    # for them (found by the r14 embeddings-table cross-engine fuzz:
    # under ANSI the 0/0 was a DIVIDE_BY_ZERO crash). Oracles mirror
    # with WHERE embedding IS NOT NULL AND list_dot_product(v,v) > 0.
    # The zero-norm test reuses the norm the cosine needs anyway —
    # filtering via sq_norm() would pay a SECOND O(dim) fold per corpus
    # row (measured ~2x on sim_cosine_topk at sf0.1).
    cn = (
        valid_vectors(corpus, corpus_vec, positive_norm=False)
        .withColumn("_c_norm", l2_norm(corpus_vec))
        .filter(F.col("_c_norm") > 0.0)
    )
    qn = (
        valid_vectors(queries, query_vec, positive_norm=False)
        .withColumn("_q_norm", l2_norm(query_vec))
        .filter(F.col("_q_norm") > 0.0)
    )
    joined = (
        cn.crossJoin(F.broadcast(qn))
        .withColumn(
            "cosine",
            dot_product(query_vec, corpus_vec) / (F.col("_q_norm") * F.col("_c_norm")),
        )
        .drop("_q_norm", "_c_norm")
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(corpus_id).asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


def embedding_cosine_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int | None = 100_000,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine: (id_a, id_b, cosine) with
    id_a < id_b and cosine ≥ threshold.

    EXACT form: a self-join over all pairs — O(n²), the verification
    baseline and the right tool when one side fits in a broadcast. The
    100-TB path is the same predicate over LSH bucket candidates
    (``brp_lsh_ann``) or IVF cells (``operators/ivf.py``): hash first,
    compute cosine only within colliding buckets. Cosine is computed in
    double precision so results are engine-portable.

    ``max_rows`` makes accidental misuse at scale loud: the input is
    counted (one cheap scan, nothing compared to n² pairs) and the call
    raises above the cap, pointing at the bucketed paths. ``None`` opts
    out for verification baselines run deliberately.
    """
    if max_rows is not None:
        n = df.count()
        if n > max_rows:
            raise ValueError(
                f"embedding_cosine_pairs input has {n} rows > max_rows="
                f"{max_rows}: the exact all-pairs form is quadratic; use "
                "brp_lsh_ann / ivf_cosine_topk, or pass max_rows=None"
            )
    df = valid_vectors(df, vec_col)  # cosine undefined for NULL/zero-norm
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).cast("array<double>").alias("va"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).cast("array<double>").alias("vb"),
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn("cosine", cosine_similarity("va", "vb"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def brp_lsh_ann(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate NN via MLlib BucketedRandomProjectionLSH (euclidean).

    Candidate pairs come from bucket collisions (equi-join on hash
    buckets), then exact distance ranks the candidates — the LSH-bucketed
    scale path. Returns (query_id, vec_id, dist, rank). Deterministic for
    a fixed seed.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    # NULL embeddings crash array_to_vector (JVM NPE); zero vectors are
    # KEPT — euclidean distance is defined for them. The when() guard is
    # load-bearing even though the rows are filtered: Catalyst can merge
    # the isNotNull filter with downstream UDF-bearing predicates, and
    # codegen's subexpression elimination then evaluates the UDF before
    # the null conjunct — conditional branches are never hoisted.
    # The trailing monotonically_increasing_id() filter is a PUSHDOWN
    # BARRIER, not a row filter (always true): approxSimilarityJoin's
    # hash-equality/distance predicates carry MLlib's hash UDF, and
    # Catalyst otherwise pushes them into the SAME Filter node as the
    # isNotNull check, where codegen's subexpression elimination
    # evaluates the UDF chain BEFORE the null conjunct — an NPE on
    # pre-filter NULL rows. A nondeterministic predicate cannot be
    # reordered, so everything above stays above. Zero cost: no
    # shuffle, no materialization, one long comparison per row.
    prep = lambda df, idc: (  # noqa: E731
        valid_vectors(df, vec_col, positive_norm=False)
        .select(
            F.col(idc),
            F.when(
                F.col(vec_col).isNotNull(),
                array_to_vector(F.col(vec_col).cast("array<double>")),
            ).alias("features"),
        )
        .where(F.monotonically_increasing_id() >= 0)
    )
    corpus_v = prep(corpus, corpus_id)
    queries_v = prep(queries, "query_id")

    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=42,
    )
    model = lsh.fit(corpus_v)
    sim = model.approxSimilarityJoin(queries_v, corpus_v, float("inf"), distCol="dist")
    w = Window.partitionBy("datasetA.query_id").orderBy(
        F.col("dist").asc(), F.col(f"datasetB.{corpus_id}").asc()
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("datasetA.query_id").alias("query_id"),
            F.col(f"datasetB.{corpus_id}").alias(corpus_id),
            "dist",
            "rank",
        )
    )


def cell_cosine_pairs(
    assigned: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    cell_col: str = "cell",
    block: int = 4096,
) -> DataFrame:
    """Within-cell cosine pairs at/above ``threshold`` — the SemDeDup pair
    stage as a per-cell VECTORIZED matmul (Abbas et al. 2023 run exactly
    this shape per cluster, on GPUs).

    Input: one row per vector with its cell assignment. Output:
    (cell, id_a, id_b) with id_a < id_b and cos(a, b) >= threshold.

    Why applyInPandas and not a DataFrame self-join: the join form
    evaluates an interpreted fold dot product PER PAIR (~1.6 µs each —
    Catalyst higher-order lambdas don't codegen), which at the adaptive
    cell size (~1024 rows → ~0.5M pairs per cell) dominated sf1 wall
    time 10:1. Here Arrow ships each CELL's vectors once (n x dim
    doubles), numpy normalizes rows and computes the Gram matrix in
    blocks of ``block`` rows (bounded memory: block x n doubles), and
    only above-threshold pairs come back — the per-pair cost drops to a
    fused BLAS flop. Float summation order differs from a sequential
    fold by ~1e-15 relative — immaterial against any realistic
    threshold margin (the oracle gate verifies the fixed corpus
    end-to-end), while planted EXACT duplicates are order-robust: equal
    rows normalize to equal unit vectors whose dot is exactly the
    self-dot both ways.

    Scale: cells are the unit of parallelism and the adaptive-K contract
    (plans/similarity.py) keeps them ~1024 rows, so per-task memory is flat
    and total work is linear in corpus size; the groupBy(cell) shuffle
    moves each vector once.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    # Output types mirror the INPUT schema (cell and id columns pass
    # through unchanged), so callers with int/string cells or non-long
    # ids get back exactly what they put in — no hardcoded-long Arrow
    # mismatch or silent truncation.
    in_fields = {f.name: f.dataType for f in assigned.schema.fields}
    out_schema = T.StructType(
        [
            T.StructField(cell_col, in_fields[cell_col]),
            T.StructField("id_a", in_fields[id_col]),
            T.StructField("id_b", in_fields[id_col]),
        ]
    )

    def pairs_of(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        # zero vectors stay zero rows: they match nothing at t > 0
        u, _ = unit_rows(stack_rows(pdf[vec_col].to_numpy()[order]))
        n = len(ids)
        a_out, b_out = [], []
        for s in range(0, n, block):
            g = u[s : s + block] @ u.T  # (block, n)
            ii, jj = np.nonzero(g >= threshold)
            keep = (ii + s) < jj  # upper triangle only, id_a < id_b
            a_out.append(ids[(ii + s)[keep]])
            b_out.append(ids[jj[keep]])
        a_cat = np.concatenate(a_out) if a_out else ids[:0]
        b_cat = np.concatenate(b_out) if b_out else ids[:0]
        return pd.DataFrame(
            {
                cell_col: pdf[cell_col].iloc[:1].repeat(len(a_cat)).to_numpy(),
                "id_a": a_cat,
                "id_b": b_cat,
            }
        )

    return assigned.select(cell_col, id_col, vec_col).groupBy(cell_col).applyInPandas(
        pairs_of, out_schema
    )
