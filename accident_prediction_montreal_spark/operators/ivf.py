"""IVF (inverted-file) approximate nearest-neighbor search.

The coarse-quantization scale path for similarity search: k-means
centroids partition the corpus into cells; a query only scans its
``n_probe`` nearest cells. Complements the exact brute-force path
(operators/similarity.py) and MLlib's BRP-LSH:

  * build: one KMeans fit (sampled), one pass to assign cells — the
    corpus is then bucketed (and at rest can be WRITTEN partitioned by
    cell, turning probes into partition-pruned scans);
  * query: centroids are tiny → broadcast; candidate set is
    |corpus| · n_probe / n_cells on average, an equi-join on cell_id
    instead of a full scan.

Exactness: recall < 1 when a true neighbor lives in an unprobed cell —
raise ``n_probe`` to trade cost for recall (n_probe = n_cells ≡ exact).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from accident_prediction_montreal_spark import cachereg
from accident_prediction_montreal_spark.functions.vectors import (
    ZERO_NORM_SCORE,
    cosine_rows,
    cosine_similarity,
    stack_rows,
    top_n,
    unit_rows,
)


def build_ivf_index(
    corpus: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_fraction: float = 1.0,
    seed: int = 42,
    literal_cells_max: int = 64,
    max_iter: int = 20,
) -> tuple[DataFrame, DataFrame]:
    """Fit centroids and assign every corpus vector to its cell.

    Returns (assigned_corpus with cell_id, centroids(cell_id, centroid)).
    KMeans fits on a seeded sample when the corpus is large.

    ``literal_cells_max`` bounds the zero-shuffle literal-expansion
    assignment: the inlined argmax expression grows O(n_cells · dim), so
    past the threshold assignment switches to a broadcast join against
    the centroid DataFrame + one per-id max aggregate (one shuffle of
    (id, vec) rows — the right trade at realistic IVF cell counts, where
    a thousand inlined centroid arrays would bloat analysis/codegen).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    # NULL embeddings are unencodable (array_to_vector NPEs on them) and
    # drop here — the engine-wide degenerate-vector contract
    # (functions/vectors.valid_vectors; r14 embeddings fuzz find).
    # when() guard: Catalyst can merge this filter into a downstream
    # UDF-bearing predicate where subexpression elimination evaluates
    # array_to_vector before the null check; conditional branches stay
    # conditional in codegen.
    vecs = corpus.filter(F.col(vec_col).isNotNull()).select(
        id_col,
        vec_col,
        F.when(
            F.col(vec_col).isNotNull(),
            array_to_vector(F.col(vec_col).cast("array<double>")),
        ).alias("__v"),
    )
    fit_on = (
        vecs
        if sample_fraction >= 1.0
        else vecs.sample(withReplacement=False, fraction=sample_fraction, seed=seed)
    )
    # MLlib KMeans crashes when k exceeds the point count (tiny or
    # heavily-filtered corpora). limit(k).count() bounds the probe at
    # O(k) rows read — never a full scan at 100 TB.
    n_avail = fit_on.limit(n_cells).count()
    if n_avail == 0 and sample_fraction < 1.0:
        fit_on = vecs  # degenerate sample on a tiny corpus: fit on all
        n_avail = fit_on.limit(n_cells).count()
    if n_avail == 0:
        spark = corpus.sparkSession
        empty_cents = spark.createDataFrame(
            [], "cell_id INT, centroid ARRAY<DOUBLE>"
        )
        return (
            vecs.select(id_col, vec_col, F.lit(0).cast("int").alias("cell_id")),
            empty_cents,
        )
    if n_avail == 1:
        # MLlib requires k > 1; a single-vector corpus needs no fit —
        # that vector IS the (only) centroid. Bounded 1-row collect.
        centroids = [
            fit_on.select(F.col(vec_col).cast("array<double>")).head()[0]
        ]
    else:
        n_cells = min(n_cells, n_avail)

        def _fit(k: int):
            return KMeans(
                k=k, seed=seed, maxIter=max_iter,
                featuresCol="__v", predictionCol="cell_id",
            ).fit(fit_on)

        try:
            model = _fit(n_cells)
            centroids = model.clusterCenters()
        except Exception:
            # Duplicate-heavy tiny corpus: MLlib's k-means|| init crashes
            # when k exceeds the DISTINCT point count. The distinct probe
            # runs ONLY on this exception path — never on the normal
            # (large, continuous-valued) corpus, where distinct would be
            # a full shuffle.
            n_distinct = (
                fit_on.select(F.col(vec_col).cast("array<double>"))
                .distinct()
                .limit(n_cells)
                .count()
            )
            if n_distinct <= 1:
                centroids = [
                    fit_on.select(F.col(vec_col).cast("array<double>")).head()[0]
                ]
            else:
                model = _fit(n_distinct)
                centroids = model.clusterCenters()
    spark = corpus.sparkSession
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell_id INT, centroid ARRAY<DOUBLE>",
    )
    # Assign cells by COSINE against the centroids — the SAME metric and
    # tie-break the query-time probe ranking uses — not KMeans's
    # euclidean transform. Centroids of unit-ish vectors have unequal
    # norms, so euclidean-nearest and cosine-nearest cells can diverge;
    # metric-matched assignment guarantees a corpus vector's own cell is
    # its queries' top-1 probe (self-hit at any n_probe >= 1) and aligns
    # the coarse quantizer with the search metric. The centroid list is
    # already LOCAL (model.clusterCenters()), so the per-row argmax is a
    # single zero-shuffle projection over literal centroid arrays —
    # array_max over (sim, -cell_id) structs reproduces the probe
    # ranking's (sim DESC, cell_id ASC) tie-break exactly.
    #
    # Zero-norm guard (both paths): a ‖v‖ = 0 vector has NaN cosine
    # against EVERY centroid; nanvl maps that to −2.0 — below the valid
    # [−1, 1] cosine range — so the (sim DESC, cell_id ASC) tie-break
    # assigns cell 0 by RULE, not by Spark's NaN-sorts-greatest accident.
    if n_cells <= literal_cells_max:
        best = F.array_max(
            F.array(
                *[
                    F.struct(
                        F.nanvl(
                            cosine_similarity(
                                vec_col,
                                F.array(*[F.lit(float(x)) for x in c]),
                            ),
                            F.lit(-2.0),
                        ).alias("s"),
                        F.lit(-i).alias("nc"),
                    )
                    for i, c in enumerate(centroids)
                ]
            )
        )
        assigned = vecs.select(
            id_col, vec_col, (-best["nc"]).cast("int").alias("cell_id")
        )
    else:
        # Broadcast-join path: expression size stays O(dim); the argmax
        # is max(struct(sim, -cell_id)) per id — identical tie-break.
        scored = (
            vecs.select(id_col, vec_col)
            .crossJoin(F.broadcast(cent_df))
            .withColumn(
                "__s", F.nanvl(cosine_similarity(vec_col, "centroid"), F.lit(-2.0))
            )
        )
        assigned = (
            scored.groupBy(id_col)
            .agg(
                F.first(vec_col).alias(vec_col),
                F.max(F.struct(F.col("__s").alias("s"), (-F.col("cell_id")).alias("nc"))).alias(
                    "__b"
                ),
            )
            .select(id_col, vec_col, (-F.col("__b.nc")).cast("int").alias("cell_id"))
        )
    return assigned, cent_df


def ivf_cosine_topk(
    queries: DataFrame,
    assigned_corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 3,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Top-k by cosine among the ``n_probe`` nearest cells per query.

    Sized for a SMALL query side (the ANN-serving shape: a handful of
    probes against a big indexed corpus): the probe ranking is a
    row_number window that shuffles |queries| x n_cells rows, and the
    per-candidate cosine is the expression form (interpreted
    zip_with/aggregate folds). Both are fine at serving volumes and
    wrong for a MASSIVE query side — there, use
    :func:`ivf_cosine_topk_bucketed` (zero-shuffle ``probe_cells``, then
    the cogroup-per-cell ``cell_best_n``; 35.7 -> 3.7 s measured at sf1
    on a 20k-query side, PERF.md r10).
    """
    probes = (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn("cell_sim", cosine_similarity(query_vec, "centroid"))
        .withColumn(
            "probe_rank",
            F.row_number().over(
                Window.partitionBy(query_id).orderBy(
                    F.col("cell_sim").desc(), F.col("cell_id").asc()
                )
            ),
        )
        .filter(F.col("probe_rank") <= n_probe)
        .select(query_id, query_vec, "cell_id")
    )
    candidates = probes.join(assigned_corpus, "cell_id")
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(corpus_id).asc())
    return (
        candidates.withColumn("cosine", cosine_similarity(query_vec, corpus_vec))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


def broadcast_unit_rows(spark, site: str, rows: list):
    """Broadcast ``(ids, unit_t)`` for bounded driver-local ``rows`` of
    (id, vector): ids as a numpy array in row order, ``unit_t`` the
    (dim, n_rows) matrix of unit rows. The one way a broadcast enters
    the engine: the returned ``Broadcast`` is registered as cachereg
    ``site``'s generation, because the plans reading it are lazy and
    cannot free it at return — the site's next call or ``release_all()``
    unpersists its executor copies (the driver keeps the value, so an
    older plan still runs)."""
    ids = np.array([r[0] for r in rows])
    unit, _ = unit_rows(np.stack([np.asarray(r[1], dtype=np.float64) for r in rows]))
    bc = spark.sparkContext.broadcast((ids, unit.T))
    cachereg.register(site, bc)
    return bc


def probe_cells(
    rows: DataFrame,
    centroids: DataFrame,
    n_probe: int,
    id_col: str,
    vec_col: str,
    site: str,
    bad: str | None = None,
) -> DataFrame:
    """Each row once per probed cell: (``id_col``, ``vec_col``,
    cell_id) for its ``n_probe`` nearest centroids, ranked (cosine DESC,
    cell_id ASC) — the ranking of ivf_cosine_topk's window and of
    build_ivf_index's assignment.

    ZERO-SHUFFLE: the centroids (n_cells rows) ride a broadcast
    (``broadcast_unit_rows`` under ``site``) into an Arrow-batched
    mapInPandas, so each batch picks its cells with one numpy matmul —
    no |rows| x n_cells window exchange, and no literal array_sort of
    zip_with/aggregate cosines (interpreted folds measured ~9 s for
    20k x 8 cells x 64 dims at sf1). A zero-norm row scores −2.0
    against every cell, so it probes cells 0..n_probe−1 by RULE — the
    cell build_ivf_index assigns zero-norm vectors to comes first
    (self-hit preserved). ``bad`` names the error a null or ragged
    vector raises.
    """
    from pyspark.sql import types as T

    cents = sorted(
        centroids.select("cell_id", "centroid").collect(), key=lambda r: r[0]
    )  # <= n_cells rows
    bc = broadcast_unit_rows(rows.sparkSession, site, cents)
    n = min(n_probe, len(cents))
    schema = T.StructType(
        [
            T.StructField(id_col, rows.schema[id_col].dataType),
            T.StructField(vec_col, T.ArrayType(T.DoubleType())),
            T.StructField("cell_id", centroids.schema["cell_id"].dataType),
        ]
    )

    def assign(batches):
        import pandas as pd

        ids, unit_t = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = pdf[vec_col].to_numpy()
            g = cosine_rows(stack_rows(vecs, bad), unit_t, ZERO_NORM_SCORE)
            top = top_n(g, ids, n)
            kk = top.shape[1]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy().repeat(kk),
                    vec_col: vecs.repeat(kk),
                    "cell_id": ids[top].ravel(),
                }
            )

    return rows.select(
        id_col, F.col(vec_col).cast("array<double>").alias(vec_col)
    ).mapInPandas(assign, schema)


def cell_best_n(
    probes: DataFrame,
    corpus: DataFrame,
    n: int,
    left_id: str,
    left_vec: str,
    right_id: str,
    right_vec: str,
    threshold: float | None = None,
    bad: str | None = None,
) -> DataFrame:
    """(``left_id``, ``right_id``, cosine): each probe row's best ``n``
    corpus rows INSIDE its cell, ranked (cosine DESC, right id ASC).

    Probes and corpus COGROUP on cell_id and one numpy Gram matmul per
    cell scores every combination inside the task (the SemDeDup
    pair-stage pattern), so each vector crosses the wire ONCE and
    candidate pairs never go through an exchange; the shuffle after it
    carries at most n rows per probe row. The two rejected forms, both
    measured at sf1 on 2.7M candidates: expression cosine in a join
    (35.7 s — interpreted HOF folds) and a vectorized mapInPandas over
    the joined pairs (~11 s — the join shipped every pair as two
    64-dim arrays through the shuffle and Arrow).

    Without ``threshold`` a zero-norm probe row scores 0.0. With it,
    rows scoring under it drop and a zero-norm probe row scores −2.0,
    so it never flags. ``bad`` names the error a null or ragged vector
    raises. The cross-cell step is the caller's.
    """
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField(left_id, probes.schema[left_id].dataType),
            T.StructField(right_id, corpus.schema[right_id].dataType),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    zero_score = None if threshold is None else ZERO_NORM_SCORE

    def best_n(left, right):
        import pandas as pd

        if not len(left) or not len(right):
            return pd.DataFrame(
                {left_id: [], right_id: [], "cosine": []}
            ).astype({"cosine": "float64"})
        x = stack_rows(left[left_vec].to_numpy(), bad)
        y = stack_rows(right[right_vec].to_numpy(), bad)
        # Sorted by id: top_n's argmax (n == 1) then breaks ties by id.
        order = np.argsort(right[right_id].to_numpy(), kind="stable")
        ids = right[right_id].to_numpy()[order]
        g = cosine_rows(x, unit_rows(y[order])[0].T, zero_score)
        top = top_n(g, ids, n)
        cos = g[np.arange(len(g))[:, None], top].ravel()
        out = pd.DataFrame(
            {
                left_id: left[left_id].to_numpy().repeat(top.shape[1]),
                right_id: ids[top].ravel(),
                "cosine": cos,
            }
        )
        return out if threshold is None else out[cos >= threshold]

    right = corpus.select(
        "cell_id",
        right_id,
        F.col(right_vec).cast("array<double>").alias(right_vec),
    )
    return (
        probes.groupBy("cell_id")
        .cogroup(right.groupBy("cell_id"))
        .applyInPandas(best_n, schema)
    )


def ivf_cosine_topk_bucketed(
    queries: DataFrame,
    assigned_corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 3,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """MASSIVE-query-side twin of :func:`ivf_cosine_topk`: same output
    contract (query_id, corpus_id, cosine, rank<=k; ties cosine DESC,
    id ASC), built from this module's two shared Arrow stages (measured
    35.7 -> 3.7 s at sf1 on a 20k-query side, PERF.md r10):

      * ``probe_cells`` picks each query's ``n_probe`` cells with no
        shuffle;
      * ``cell_best_n`` (n = k) emits each query's CELL-LOCAL top-k —
        the shuffle carries at most n_probe x k rows per query;
      * the global top-k re-ranks that bounded union with the same
        (cosine DESC, id ASC) window.

    Exact when n_probe = n_cells (property: equals ivf_cosine_topk and
    the brute-force scan — tested). Zero-norm vectors are undefined
    input, mirroring cosine_similarity's contract; for determinism a
    zero-norm query probes cells from cell 0 (the cell build_ivf_index
    assigns zero-norm corpus vectors to) and scores 0.0 inside them.
    """
    probes = probe_cells(
        queries, centroids, n_probe, query_id, query_vec,
        site="operators.ivf_cosine_topk_bucketed",
    )
    cand = cell_best_n(
        probes, assigned_corpus, k, query_id, query_vec, corpus_id, corpus_vec
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col(corpus_id).asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )
