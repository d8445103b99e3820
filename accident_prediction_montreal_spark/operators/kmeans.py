"""Distributed Lloyd k-means over embedding columns — oracle-checkable.

Beyond-reference capability (SURVEY §2.14 training-data-pipeline
family): MLlib's KMeans (used by operators/ivf.py for the IVF coarse
quantizer) is a black box — its k-means|| init and float32 accumulators
make the fitted centroids engine-internal, so IVF correctness is pinned
by invariant contracts rather than a value oracle. This module is the
complement: a from-first-principles Lloyd iteration whose every step is
engine-REPRODUCIBLE, so the full (cell, n_members, inertia) result can
be checked literally against an ANSI-SQL oracle:

- **Deterministic seeding** — the first ``k`` corpus vectors (by id)
  are the initial centroids; no RNG.
- **Bit-stable distances** — squared euclidean is composed from
  sequential-fold dot products (functions/vectors.dot_product), the
  same index-order summation DuckDB's ``list_dot_product`` performs,
  so both engines see bit-identical doubles and the argmin tie-break
  (d² ASC, cell ASC) picks identical cells.
- **Order-independent centroid updates** — per-(cell, dim) component
  sums go through ``DECIMAL(24,9)`` after a 9-decimal round, so the
  mean is exact regardless of partitioning/accumulation order; the new
  centroid component is the correctly-rounded 9-decimal double in any
  engine.

Scale design (100 TB): centroids are K×dim doubles — a broadcast, not
a shuffle. Assignment is a ZERO-shuffle map pass: the centroid table
collapses to a single array-of-structs row, cross-joined (broadcast)
onto the corpus, and the per-row argmin is ``array_min`` over a
``transform`` — no explode, no window, no groupBy. The update step is
the only shuffle per iteration: posexplode to (cell, dim, val) feeds a
map-side-combined groupBy whose output is K×dim rows, independent of
corpus size. Driver never collects anything.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from accident_prediction_montreal_spark.functions.vectors import dot_product


def sq_dist(vec: Column, cvec: Column, dvv: Column, dcc: Column) -> Column:
    """‖v‖² − 2·v·c + ‖c‖², with BOTH norms precomputed: ‖v‖² once per
    row, ‖c‖² once per centroid (inside pack_centroids — recomputing it
    per (row, centroid) doubled the interpreted fold work; the VALUE is
    identical, so the oracle's per-pair list_dot_product(c,c) still
    matches bit-for-bit).

    The expression shape (left-to-right: dvv − 2·dot(v,c) + dot(c,c))
    is mirrored term-for-term in the SQL oracle so the IEEE result is
    bit-identical in both engines.
    """
    return dvv - F.lit(2.0) * dot_product(vec, cvec) + dcc


def pack_centroids(centroids: DataFrame) -> DataFrame:
    """(cell, cvec) rows → ONE row holding array<struct<cell, cvec, dcc>>
    with ``dcc`` = ‖c‖² folded once per centroid.

    This is what makes assignment shuffle-free: the packed row is
    broadcast-cross-joined onto the corpus and the argmin runs per-row
    inside a single projection.
    """
    return centroids.agg(
        F.collect_list(
            F.struct(
                F.col("cell"),
                F.col("cvec"),
                dot_product("cvec", "cvec").alias("dcc"),
            )
        ).alias("__cents")
    )


def assign_cells(
    vecs: DataFrame, centroids: DataFrame, id_col: str = "vec_id", vec_col: str = "vec"
) -> DataFrame:
    """Nearest-centroid assignment: (id, vec, cell, d2), zero shuffle.

    Tie-break (d² ASC, cell ASC) via array_min over (d2, cell) structs —
    the same total order the oracle's ROW_NUMBER OVER (ORDER BY d2, cell)
    produces.
    """
    packed = pack_centroids(centroids)
    with_c = vecs.crossJoin(F.broadcast(packed)).withColumn(
        "__dvv", dot_product(vec_col, vec_col)
    )
    best = F.array_min(
        F.transform(
            F.col("__cents"),
            lambda c: F.struct(
                sq_dist(
                    F.col(vec_col), c["cvec"], F.col("__dvv"), c["dcc"]
                ).alias("d2"),
                c["cell"].alias("cell"),
            ),
        )
    )
    return with_c.select(
        id_col, vec_col, best["cell"].alias("cell"), best["d2"].alias("d2")
    )


def update_centroids(assigned: DataFrame, vec_col: str = "vec") -> DataFrame:
    """Exact-decimal per-cell mean → (cell, cvec) with 9-decimal components.

    posexplode → groupBy(cell, dim) with a DECIMAL(24,9) sum (partial
    aggregation collapses the dim fan-out map-side; K×dim rows reach the
    reduce side) → components reassembled in dim order.
    """
    exploded = assigned.select(
        "cell", F.posexplode(F.col(vec_col)).alias("dim", "val")
    )
    sums = exploded.groupBy("cell", "dim").agg(
        F.sum(F.round(F.col("val"), 9).cast("decimal(24,9)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    comp = sums.select(
        "cell",
        "dim",
        F.round(F.col("s").cast("double") / F.col("n"), 9).alias("cval"),
    )
    return comp.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "cval"))),
            lambda x: x["cval"],
        ).alias("cvec")
    )


def lloyd_kmeans(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "vec",
) -> DataFrame:
    """``n_iter`` Lloyd rounds from deterministic seeds; returns the final
    assignment (id, cell, d2).

    Seeds = the ``k`` smallest-id vectors (cell = seed id), selected by
    RANK via orderBy(id).limit(k) — Spark plans this as
    TakeOrderedAndProject (a per-partition top-k merge, no global sort),
    and unlike ``filter(id < k)`` it yields exactly ``k`` seeds for
    offset or sparse id spaces too. Each round: assign (zero-shuffle
    map) then update (one K×dim-output shuffle); the final round
    re-assigns against the last centroids. Cells that lose every member
    simply drop out of the update (standard Lloyd degeneracy;
    deterministic here, and mirrored by the oracle).
    """
    vecs = emb.select(id_col, vec_col)
    cents = (
        vecs.orderBy(F.col(id_col).asc())
        .limit(k)
        .select(F.col(id_col).alias("cell"), F.col(vec_col).alias("cvec"))
    )
    assigned = assign_cells(vecs, cents, id_col=id_col, vec_col=vec_col)
    for _ in range(n_iter - 1):
        cents = update_centroids(assigned, vec_col=vec_col)
        assigned = assign_cells(vecs, cents, id_col=id_col, vec_col=vec_col)
    return assigned.select(id_col, "cell", "d2")
