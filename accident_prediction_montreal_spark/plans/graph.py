"""Graph family (SURVEY.md §2.14) as oracle-checked queries: PageRank, triangle
counts, bounded-round label propagation and k-hop breadth-first search, each
planned with a fixed number of rounds so its shuffle count is bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from accident_prediction_montreal_spark import cachereg
from accident_prediction_montreal_spark.plans.registry import register
from accident_prediction_montreal_spark.sources.registry import load_table


@register(
    "g1_pagerank_trade",
    oracle="""
    WITH e AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
        CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
    ),
    ow AS (SELECT src, SUM(w) AS out_w FROM e GROUP BY src),
    norm AS (
      SELECT e.src, e.dst, e.w / CAST(ow.out_w AS DOUBLE) AS frac
      FROM e JOIN ow ON ow.src = e.src
    ),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
    r1 AS (
      SELECT n2.node, (1.0 - 0.85) / nn.n + 0.85 * COALESCE(c.s, 0.0) AS rank
      FROM nodes n2 CROSS JOIN nn
      LEFT JOIN (SELECT norm.dst AS node, SUM(r0.rank * norm.frac) AS s
                 FROM norm JOIN r0 ON r0.node = norm.src GROUP BY norm.dst) c
        ON c.node = n2.node
    ),
    r2 AS (
      SELECT n2.node, (1.0 - 0.85) / nn.n + 0.85 * COALESCE(c.s, 0.0) AS rank
      FROM nodes n2 CROSS JOIN nn
      LEFT JOIN (SELECT norm.dst AS node, SUM(r1.rank * norm.frac) AS s
                 FROM norm JOIN r1 ON r1.node = norm.src GROUP BY norm.dst) c
        ON c.node = n2.node
    ),
    r3 AS (
      SELECT n2.node, (1.0 - 0.85) / nn.n + 0.85 * COALESCE(c.s, 0.0) AS rank
      FROM nodes n2 CROSS JOIN nn
      LEFT JOIN (SELECT norm.dst AS node, SUM(r2.rank * norm.frac) AS s
                 FROM norm JOIN r2 ON r2.node = norm.src GROUP BY norm.dst) c
        ON c.node = n2.node
    )
    SELECT node, ROUND(rank, 6) AS rank FROM r3 ORDER BY node
    """,
    description="Weighted PAGERANK over the nation trade graph (A-surface, "
    "graph family; operators/graph.py — the second canonical "
    "distributed-graph primitive next to connected components): edges "
    "are customer-nation -> supplier-nation weighted by lineitem "
    "count (a 4-way join + one aggregate), normalized ONCE (frac = "
    "w/out_w precomputed so iterations never touch raw weights), then "
    "3 damped power-iteration rounds — each round is ONE "
    "hash-partitioned groupBy(dst) plus a rank-vector join; the rank "
    "vector is one row per node, broadcastable at any corpus scale, "
    "and the node count rides as a 1-row broadcast, never a driver "
    "collect. No dangling-mass redistribution (documented, mirrored "
    "in the oracle). Oracle unrolls the exact same 3 iterations as "
    "chained CTEs; ranks rounded to 1e-6, far coarser than "
    "double-summation drift.",
)
def g1_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.graph import pagerank

    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    ranks = pagerank(edges, iterations=3, damping=0.85)
    return ranks.select("node", F.round("rank", 6).alias("rank")).orderBy("node")


def _capped_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v) unique undirected edges of the bucket-capped co-occurrence
    graph (users sharing an (event_type, hour) bucket; 5 smallest uids
    per bucket — the g2_triangle_count construction)."""
    ev = load_table(spark, "events", sf_dir)
    b0 = ev.select(
        F.col("user_id").alias("uid"),
        "event_type",
        F.date_trunc("hour", "ts").alias("h"),
    ).distinct()
    cap_w = Window.partitionBy("event_type", "h").orderBy("uid")
    b = (
        b0.withColumn("__rn", F.row_number().over(cap_w))
        .filter(F.col("__rn") <= 5)
        .drop("__rn")
    )
    x = b.select(F.col("uid").alias("u"), "event_type", "h")
    y = b.select(F.col("uid").alias("v"), "event_type", "h")
    return (
        x.join(y, on=["event_type", "h"])
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )


@register(
    "g2_triangle_count",
    oracle="""
    WITH b0 AS (
      SELECT DISTINCT user_id AS uid, event_type, date_trunc('hour', ts) AS h
      FROM events
    ),
    b AS (
      SELECT uid, event_type, h FROM (
        SELECT uid, event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type, h
                                  ORDER BY uid) AS rn
        FROM b0) t WHERE rn <= 5
    ),
    e AS (
      SELECT DISTINCT x.uid AS u, y.uid AS v
      FROM b x JOIN b y USING (event_type, h) WHERE x.uid < y.uid
    ),
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
      ) GROUP BY node
    ),
    o AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS a
      FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    )
    SELECT
      (SELECT COUNT(*) FROM deg) AS n_nodes,
      (SELECT COUNT(*) FROM e) AS n_edges,
      (SELECT CAST(SUM((od * (od - 1)) // 2) AS BIGINT)
         FROM (SELECT a, COUNT(*) AS od FROM o GROUP BY a)) AS n_wedges,
      (SELECT COUNT(*) FROM e e1
         JOIN e e2 ON e2.u = e1.v
         JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles
    """,
    description="Distributed triangle counting (graph family, with "
    "g1_pagerank and the components fixpoint): the co-occurrence graph "
    "(users sharing an (event_type, hour) bucket) is built by a BUCKET-"
    "CAPPED pair join -- each bucket keeps its 5 smallest user_ids "
    "(deterministic rank, mirrored in the oracle), the decontam/"
    "jaccard doc-freq guard applied to graph construction: candidate "
    "pairs are <= buckets x C(5,2) at ANY data scale, where the "
    "uncapped co-occurrence graph densifies toward |V|^2 as event "
    "volume grows over a fixed population (measured: 7.8k edges at "
    "sf0.01 but 789k at sf0.1 uncapped -- the cap keeps the graph "
    "sparse and the query O(data), not O(data^1.5)). Counting uses "
    "degree-ordered orientation (operators/graph.py::triangle_stats): "
    "wedges enumerate only inside out-neighborhoods (out-degree bounded "
    "by O(sqrt(m)) under this orientation -- hub-proof), one semi-join "
    "closes them, each triangle counted exactly once with no post-"
    "division. The oracle counts triangles with the orientation-"
    "INVARIANT id-ordered 3-way join -- agreement proves the oriented "
    "plan loses/double-counts nothing -- and replays the wedge count "
    "via DuckDB row-value comparison orientation.",
)
def g2_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.graph import triangle_stats

    edges = _capped_graph(spark, sf_dir)
    return triangle_stats(edges)


@register(
    "g3_label_propagation",
    oracle="""
    WITH b0 AS (
      SELECT DISTINCT user_id AS uid, event_type, date_trunc('hour', ts) AS h
      FROM events
    ),
    b AS (
      SELECT uid, event_type, h FROM (
        SELECT uid, event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type, h
                                  ORDER BY uid) AS rn
        FROM b0) t WHERE rn <= 5
    ),
    e AS (
      SELECT DISTINCT x.uid AS u, y.uid AS v
      FROM b x JOIN b y USING (event_type, h) WHERE x.uid < y.uid
    ),
    nbr AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
    l0 AS (
      SELECT node, node AS label FROM (
        SELECT u AS node FROM e UNION SELECT v FROM e)
    ),
    l1 AS (
      SELECT n.node, LEAST(n.label, COALESCE(MIN(l.label), n.label)) AS label
      FROM l0 n LEFT JOIN nbr ON nbr.a = n.node
                LEFT JOIN l0 l ON l.node = nbr.b
      GROUP BY n.node, n.label
    ),
    l2 AS (
      SELECT n.node, LEAST(n.label, COALESCE(MIN(l.label), n.label)) AS label
      FROM l1 n LEFT JOIN nbr ON nbr.a = n.node
                LEFT JOIN l1 l ON l.node = nbr.b
      GROUP BY n.node, n.label
    ),
    l3 AS (
      SELECT n.node, LEAST(n.label, COALESCE(MIN(l.label), n.label)) AS label
      FROM l2 n LEFT JOIN nbr ON nbr.a = n.node
                LEFT JOIN l2 l ON l.node = nbr.b
      GROUP BY n.node, n.label
    )
    SELECT node, label FROM l3 ORDER BY node
    """,
    description="Bounded-round min-label propagation (graph family, with "
    "g1_pagerank/g2_triangles/the components fixpoint): 3 SYNCHRONOUS "
    "rounds of label(v) <- min(label(v), min over neighbors) on the same "
    "bucket-capped co-occurrence graph as g2 (cap mirrored in the "
    "oracle). A fixed round count keeps the lazy plan bounded and the "
    "semantics oracle-replayable as 3 chained CTEs — the deterministic "
    "complement to the run-to-fixpoint large-star/small-star components. "
    "Per round: one join keyed on the neighbor list + one groupBy(node) "
    "min — the neighbor list is persisted ONCE (cachereg) and reused by "
    "every round, so iterations never recompute the edge subtree.",
)
def g3_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _capped_graph(spark, sf_dir)
    nbr = cachereg.generation("plans.graph.labelprop").persist(
        edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .unionByName(edges.select(F.col("v").alias("a"), F.col("u").alias("b")))
    )
    labels = (
        nbr.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    # labels is referenced twice per round (lineage doubles per round),
    # but with nbr persisted the replayed subtrees are all node-sized
    # joins — measured FASTER re-executed than per-round persists (1.5 s
    # vs 2.8 s at sf1: three rounds stay inside one codegen pipeline,
    # per-round caching breaks the fusion). g4_bfs_khop measures the
    # opposite; the two document the tradeoff's both sides.
    for _ in range(3):
        contrib = (
            nbr.join(labels, nbr["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("label").alias("__nl"))
        )
        labels = (
            labels.join(contrib, labels["node"] == contrib["a"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("__nl"), F.col("label"))
                ).alias("label"),
            )
        )
    return labels.orderBy("node")


_BFS_ROUNDS = 3
_BFS_INF = 999

# The g2/g3 bucket-capped co-occurrence graph, shared verbatim.
_GRAPH_CTES = """
    b0 AS (
      SELECT DISTINCT user_id AS uid, event_type, date_trunc('hour', ts) AS h
      FROM events
    ),
    b AS (
      SELECT uid, event_type, h FROM (
        SELECT uid, event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type, h
                                  ORDER BY uid) AS rn
        FROM b0) t WHERE rn <= 5
    ),
    e AS (
      SELECT DISTINCT x.uid AS u, y.uid AS v
      FROM b x JOIN b y USING (event_type, h) WHERE x.uid < y.uid
    ),
    nbr AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
    nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e)
"""


def _bfs_round(sql_prev: str) -> str:
    return f"""(
      SELECT n.node, LEAST(n.dist, COALESCE(MIN(l.dist) + 1, n.dist)) AS dist
      FROM {sql_prev} n LEFT JOIN nbr ON nbr.a = n.node
                        LEFT JOIN {sql_prev} l ON l.node = nbr.b
      GROUP BY n.node, n.dist
    )"""


@register(
    "g4_bfs_khop",
    oracle=f"""
    WITH {_GRAPH_CTES},
    d0 AS (
      SELECT node,
        CASE WHEN node = (SELECT MIN(node) FROM nodes)
             THEN 0 ELSE {_BFS_INF} END AS dist
      FROM nodes
    ),
    d1 AS {_bfs_round("d0")},
    d2 AS {_bfs_round("d1")},
    d3 AS {_bfs_round("d2")}
    SELECT node, CAST(dist AS BIGINT) AS dist FROM d3
    WHERE dist < {_BFS_INF} ORDER BY node
    """,
    description=f"Single-source k-hop BFS (graph family, the search "
    "primitive beside g1 PageRank / g2 triangles / g3 label "
    "propagation): hop distance from the minimum-id seed over the "
    f"bucket-capped co-occurrence graph, {_BFS_ROUNDS} synchronous "
    "relaxation rounds — dist(v) <- min(dist(v), min over neighbors "
    "dist(u)+1), the Bellman-Ford step that at 100 TB is one "
    "neighbor-keyed join + one groupBy(node) min per round over a "
    "PERSISTED neighbor list (cachereg; rounds never recompute the "
    "edge subtree). The seed is a 1-row aggregate broadcast, never a "
    "driver-side collect. Oracle replays the rounds as chained CTEs; "
    "unreached nodes (sentinel dist) are excluded on both sides.",
)
def g4_bfs_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _capped_graph(spark, sf_dir)
    cached = cachereg.generation("plans.graph.bfs")
    nbr = cached.persist(
        edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .unionByName(edges.select(F.col("v").alias("a"), F.col("u").alias("b")))
    )
    # nodes feeds the seed aggregate AND the initial dist frame, and the
    # initial dist frame is itself referenced twice by round 0 (the
    # relaxation join and the left join) — unpersisted, the nbr-distinct
    # ran three times before the first relaxation (r14 measurement:
    # ~1.4 s per replay at sf0.1, pure fixed cost). Node-sized frames,
    # tiny at any scale (same argument as the per-round persists below).
    nodes = cached.persist(nbr.select(F.col("a").alias("node")).distinct())
    seed1 = nodes.agg(F.min("node").alias("__seed"))
    dist = cached.persist(
        nodes.crossJoin(F.broadcast(seed1)).select(
            "node",
            F.when(F.col("node") == F.col("__seed"), 0)
            .otherwise(_BFS_INF)
            .alias("dist"),
        )
    )
    # Each round references `dist` TWICE (relaxation join + left join):
    # left lazy, the per-round lineage doubles and round 1 re-executes
    # 2^rounds times (measured 5.6 s -> 1.4 s at sf1 with the per-round
    # persist). The frames are node-sized, tiny at any data scale.
    for _ in range(_BFS_ROUNDS):
        cand = (
            nbr.join(dist, nbr["b"] == dist["node"])
            .groupBy("a")
            .agg((F.min("dist") + 1).alias("__nd"))
        )
        dist = cached.persist(
            dist.join(cand, dist["node"] == cand["a"], "left").select(
                "node",
                F.least(
                    F.col("dist"), F.coalesce(F.col("__nd"), F.col("dist"))
                ).alias("dist"),
            )
        )
    return (
        dist.filter(F.col("dist") < _BFS_INF)
        .select("node", F.col("dist").cast("long").alias("dist"))
        .orderBy("node")
    )
