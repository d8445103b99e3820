"""Connected components over an edge list: near-dup cluster assignment.

The missing half of pair-based dedup: LSH / Jaccard emit PAIRS, but a
keep-one-per-group policy needs CLUSTERS (a~b, b~c => keep one of
{a,b,c}).  Implemented as the alternating large-star / small-star
algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14) — converges in O(log n) rounds on any graph, each
round two shuffles, no vertex ever materializes its full neighbor list
(min-over-window, not collect_list), so a 10^9-edge near-dup graph at
100 TB runs in ~30 bounded Spark stages.

Per-round ``localCheckpoint`` truncates lineage (iterative plans
otherwise grow exponentially) and the convergence test is one tiny
aggregate action per round — the same driver-action pattern MLlib's
iterative algorithms use. The checkpoint is LAZY (eager=False): the
round's checksum action is what materializes it, so each round costs
ONE Spark job, not two (r14 measurement: rounds on a small edge set
are pure fixed cost — 2.5 s/round -> 1.5 s/round with the fused
action and the dropped large-star distinct). The checkpoints belong
to the cachereg site "operators.components": the returned frame reads
them lazily, so they live until the caller releases that site.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from accident_prediction_montreal_spark import cachereg

_SITE = "operators.components"


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every larger neighbor to the neighborhood minimum.

    Input/output edges oriented (u > v). Symmetrize, then for each node
    u emit (v, m) for neighbors v > u, where m = min(u, neighbors).
    """
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = F.least(F.col("u"), F.min("v").over(Window.partitionBy("u")))
    # No terminal distinct: duplicate (u, m) edges change neither
    # _small_star's per-u min window nor its output SET (its own
    # distinct removes them), and the output stays bounded by |sym| =
    # 2|e| rows — so the round's result set is identical while one of
    # its four shuffles disappears (r14; guide §2.4 remove shuffles).
    return (
        sym.withColumn("m", m)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Connect every smaller-or-equal neighbor to the minimum.

    Input edges oriented (u > v): all of u's listed neighbors are
    smaller, so m = min neighbor; emit (v, m) for each neighbor v != m
    plus (u, m). Orientation (first > second) is preserved.
    """
    mm = e.withColumn("m", F.min("v").over(Window.partitionBy("u")))
    moved = mm.filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    root = mm.select("u", F.col("m").alias("v"))
    return moved.union(root).filter(F.col("u") != F.col("v")).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node in ``edges``; component = min id.

    Alternating star rounds until the edge set reaches its fixpoint (a
    forest of min-rooted stars), detected by an order-insensitive
    (count, xor-of-hashes) checksum. Isolated nodes don't appear in an
    edge list; callers wanting them union the node table afterwards.
    """
    e = cachereg.checkpoint(
        _SITE,
        edges.select(
            F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct(),
        # Lazy checkpoint: the round-stats action below is the
        # materializing action, so normalization + stats cost one job.
        eager=False,
    )

    def round_stats(df: DataFrame) -> tuple:
        """One job → (checksum, is_star_forest).

        The edge set is a FIXPOINT of the star rounds iff it is a
        min-rooted two-level star forest: (a) every u appears exactly
        once and (b) no v appears as a u (then large_star maps each
        child's sole smaller neighbor to itself and the root's min is
        itself, and small_star's per-u min is the root — both rounds
        reproduce the set). Detecting that structurally on the CURRENT
        set terminates at round R instead of computing round R+1 just
        to watch the checksum repeat (r15; guide §1.2 don't compute
        what you throw away). Both node flags and the old
        order-insensitive (count, xor-of-hashes) checksum come out of
        ONE union→groupBy(node) pass, and the checksum comparison
        stays as the backstop for any fixpoint the structural test
        misses (there is none by the argument above, but the backstop
        keeps the old termination behavior a superset of the new).
        """
        row = (
            df.select(
                F.col("u").alias("node"),
                F.lit(1).alias("cu"),
                F.lit(0).alias("cv"),
                F.xxhash64("u", "v").alias("h"),
            )
            .unionAll(
                df.select(
                    F.col("v").alias("node"),
                    F.lit(0).alias("cu"),
                    F.lit(1).alias("cv"),
                    F.lit(None).cast("long").alias("h"),
                )
            )
            .groupBy("node")
            .agg(
                F.sum("cu").alias("nu"),
                F.sum("cv").alias("nv"),
                # per-node xor of the u-side edge hashes; the global xor
                # below recombines them to the old whole-set checksum
                # (xor is associative/commutative; aggregates skip the
                # v-side NULLs)
                F.bit_xor("h").alias("hx"),
            )
            .agg(
                F.sum("nu").alias("n"),
                F.bit_xor("hx").alias("h"),
                F.coalesce(F.max("nu") <= 1, F.lit(True)).alias("u_once"),
                F.coalesce(
                    F.max((F.col("nu") > 0) & (F.col("nv") > 0)) == False,  # noqa: E712
                    F.lit(True),
                ).alias("disjoint"),
            )
            .collect()[0]
        )
        return (row["n"], row["h"]), bool(row["u_once"] and row["disjoint"])

    prev, done = round_stats(e)
    if not done:
        for _ in range(max_iter):
            e = cachereg.checkpoint(_SITE, _small_star(_large_star(e)), eager=False)
            cur, done = round_stats(e)
            if done or cur == prev:
                break
            prev = cur
        else:
            raise RuntimeError(
                f"connected_components: no fixpoint in {max_iter} rounds"
            )

    children = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = (
        e.select(F.col("v").alias("node"))
        .distinct()
        .join(children.select("node"), "node", "left_anti")
        .withColumn("component", F.col("node"))
    )
    return children.union(roots)
