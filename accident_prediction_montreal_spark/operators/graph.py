"""Weighted PageRank by power iteration (A-surface, graph family —
complements operators/components.py's connected components with the
other canonical distributed-graph primitive).

Semantics: the classic damped update over a weighted directed graph,
   rank'(v) = (1-d)/N + d * Σ_{(u,v)∈E} rank(u) · w(u,v) / out_w(u)
iterated a FIXED number of rounds (deterministic, oracle-replayable;
no dangling-mass redistribution — nodes without out-edges simply leak
their damped mass, which is the common simplified formulation and is
mirrored exactly in the SQL oracle).

Scale shape: one hash-partitioned groupBy(dst) per iteration is the
only data-sized shuffle; the rank vector (one row per node) joins the
edge list broadcast when small, hash-co-partitioned with the edges
when not. Edges are normalized ONCE up front (w/out_w precomputed), so
iterations touch only (src, dst, frac) — at 100 TB you'd persist the
normalized edges partitioned by src and every iteration reuses that
layout; the iteration count is fixed and small, so the lazy plan stays
bounded (callers wanting many rounds should checkpoint every ~10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from accident_prediction_montreal_spark import cachereg


def normalize_edges(
    edges: DataFrame, src: str = "src", dst: str = "dst", weight: str = "w"
) -> DataFrame:
    """(src, dst, frac): edge weight as a fraction of its source's
    out-weight — one aggregate + one broadcast-able join, done once."""
    out_w = edges.groupBy(src).agg(F.sum(weight).alias("__out_w"))
    return edges.join(out_w, on=src).select(
        src, dst, (F.col(weight) / F.col("__out_w")).alias("frac")
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """(node, rank) after ``iterations`` damped power-iteration rounds,
    starting uniform over the node set (distinct src ∪ dst)."""
    norm = normalize_edges(edges, src, dst, weight)
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    # node count as a 1-row broadcast, not a driver-side collect
    n1 = nodes.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    ranks = nodes.crossJoin(F.broadcast(n1)).select(
        "node", (F.lit(1.0) / F.col("__n")).alias("rank")
    )
    base = F.lit(1.0 - damping) / F.col("__n")
    for _ in range(iterations):
        contribs = (
            norm.join(ranks, norm[src] == ranks["node"])
            .select(F.col(dst).alias("node"), (F.col("rank") * F.col("frac")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("__in"))
        )
        ranks = (
            nodes.join(contribs, on="node", how="left")
            .crossJoin(F.broadcast(n1))
            .select(
                "node",
                (base + F.lit(damping) * F.coalesce(F.col("__in"), F.lit(0.0))).alias(
                    "rank"
                ),
            )
        )
    return ranks


def triangle_stats(
    edges: DataFrame, u: str = "u", v: str = "v"
) -> DataFrame:
    """One-row (n_nodes, n_edges, n_wedges, n_triangles) over an
    undirected simple graph given as unique id-ordered edges (u < v).

    Degree-ordered orientation (the classic distributed triangle-count
    trick): re-orient every edge from its lower-(degree, id) endpoint to
    the higher one, enumerate wedges only inside each node's OUT-
    neighborhood, and close them with one semi-join back against the
    oriented edge list. Out-degrees under this orientation are bounded
    by O(√m) even on power-law graphs — the wedge join is therefore
    Σ out_deg² = O(m^1.5), never the Σ deg² blowup a hub node causes
    under naive id-ordering. Every triangle {a<b<c by (deg,id)} is
    emitted exactly once (as the wedge (b,c) hanging off a), so the
    count needs no post-division — and the count is orientation-
    invariant, which is what lets an id-ordered SQL oracle check it.

    Shuffle shape: two node-keyed degree joins (degree table is |V|
    rows — broadcast when it fits), one self-join on the wedge apex,
    one semi-join on the closing edge. No shuffle carries more than the
    oriented wedge set. The oriented edge list is PERSISTED (cachereg
    site "operators.graph.triangles"): five plan branches read it
    (node/edge counts, out-degree wedge count, both wedge-join sides,
    the closing semi-join) and without the cache each re-ran the
    distinct + degree-join subtree — measured 4× on the sf0.1
    co-occurrence graph.
    """
    # NOTE (r14): persisting the input edge list here was MEASURED a
    # non-win (interleaved A/B at sf0.1: 3.4 s without vs 4.3 s with) —
    # AQE's ReusedExchange already dedups the upstream distinct subtree
    # across the three readers, and the explicit cache only added a
    # materialization barrier. Left unpersisted deliberately.
    fwd = edges.select(F.col(u).alias("node"))
    rev = edges.select(F.col(v).alias("node"))
    deg = fwd.unionByName(rev).groupBy("node").agg(F.count(F.lit(1)).alias("d"))

    e = (
        edges.join(deg.withColumnRenamed("node", u).withColumnRenamed("d", "du"), u)
        .join(deg.withColumnRenamed("node", v).withColumnRenamed("d", "dv"), v)
    )
    # orient: a = lower (deg, id) endpoint; carry b's (deg, id) for the
    # wedge-pair ordering (must match the closing edge's orientation).
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col(u) < F.col(v))
    )
    oriented = cachereg.generation("operators.graph.triangles").persist(
        e.select(
            F.when(u_first, F.col(u)).otherwise(F.col(v)).alias("a"),
            F.when(u_first, F.col(v)).otherwise(F.col(u)).alias("b"),
            F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
        )
    )

    # wedges inside each out-neighborhood, pair ordered by (deg, id) so
    # (lo, hi) is exactly how the closing edge is oriented.
    e1 = oriented.select(F.col("a"), F.col("b").alias("b1"), F.col("db").alias("db1"))
    e2 = oriented.select(F.col("a"), F.col("b").alias("b2"), F.col("db").alias("db2"))
    before = (F.col("db1") < F.col("db2")) | (
        (F.col("db1") == F.col("db2")) & (F.col("b1") < F.col("b2"))
    )
    wedges = e1.join(e2, on="a").filter(before).select(
        F.col("b1").alias("wa"), F.col("b2").alias("wb")
    )
    closed = wedges.join(
        oriented.select(F.col("a").alias("wa"), F.col("b").alias("wb")),
        on=["wa", "wb"],
        how="left_semi",
    )

    # node/edge counts from the CACHED oriented list (an edge appears
    # exactly once; a non-isolated node appears in a ∪ b)
    n_nodes = (
        oriented.select(F.col("a").alias("node"))
        .unionByName(oriented.select(F.col("b").alias("node")))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    n_edges = oriented.agg(F.count(F.lit(1)).alias("n_edges"))
    # wedge count from out-degrees alone (no need to count the join)
    n_wedges = (
        oriented.groupBy("a")
        .agg(F.count(F.lit(1)).alias("od"))
        .agg(F.sum(F.col("od") * (F.col("od") - 1) / 2).cast("long").alias("n_wedges"))
    )
    n_tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    return (
        n_nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_wedges))
        .crossJoin(F.broadcast(n_tri))
    )
