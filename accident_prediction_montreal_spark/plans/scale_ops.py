"""Scale-pattern queries (r7): the operations a 100-TB lakehouse runs
that the reference's single-node workflow never needed — CDC merge,
declarative data-quality gates, Bloom-prefiltered semi-joins, exact
heavy hitters without a long-tail shuffle, polygon containment joins,
and Z-order file layout. Each is a thin registration over a reusable
operator module; every one is ANSI-expressible and oracle-backed.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from accident_prediction_montreal_spark import cachereg
from accident_prediction_montreal_spark.operators import quality as Q
from accident_prediction_montreal_spark.operators.bloomjoin import bloom_semi_join
from accident_prediction_montreal_spark.operators.cdc import cdc_apply, latest_change_per_key
from accident_prediction_montreal_spark.operators.heavyhitters import heavy_hitters_exact
from accident_prediction_montreal_spark.operators.polygon import (
    demo_polygons,
    point_in_polygon_join,
)
from accident_prediction_montreal_spark.operators.zorder import write_zordered
from accident_prediction_montreal_spark.plans.registry import checks, register
from accident_prediction_montreal_spark.plans.relational_extra import _scratch
from accident_prediction_montreal_spark.sources.registry import load_table
from accident_prediction_montreal_spark.streaming.finite import (
    drain,
    read_events_stream,
    two_batch_fixture,
)

_CDC_CUTOFF = "2024-01-16"

# Shared by the batch MERGE (x18) and its streaming twin
# (st_cdc_upsert_stream): both must converge to the same table.
_CDC_ORACLE = f"""
    WITH base AS (
      SELECT user_id, value, ts FROM (
        SELECT user_id, value, ts,
          ROW_NUMBER() OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts < TIMESTAMP '{_CDC_CUTOFF}') t WHERE rn = 1
    ),
    latest AS (
      SELECT user_id, value, ts,
        CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
      FROM (
        SELECT user_id, value, ts, event_type,
          ROW_NUMBER() OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts >= TIMESTAMP '{_CDC_CUTOFF}') t WHERE rn = 1
    )
    SELECT user_id,
      CASE WHEN l.op IS NOT NULL THEN l.value ELSE b.value END AS value,
      CASE WHEN l.op IS NOT NULL THEN l.ts ELSE b.ts END AS ts,
      CASE WHEN l.op IS NOT NULL THEN 'upsert' ELSE 'base' END AS src
    FROM base b FULL OUTER JOIN latest l USING (user_id)
    WHERE l.op IS NULL OR l.op <> 'D'
    ORDER BY user_id
    """


@register(
    "x18_cdc_merge",
    oracle=_CDC_ORACLE,
    description="CDC MERGE-INTO apply (X-surface; operators/cdc.py): the "
    "events stream is split at day 16 into a keyed base snapshot and a "
    "change stream whose op derives from event_type (error=delete, "
    "else upsert). Last-writer-wins source dedup is ONE map-side-"
    "combinable max_by aggregate (the shuffle carries one candidate "
    "per partition+key, never the key's history — the reason this "
    "beats a row_number window at 100 TB), then ONE full-outer join "
    "applies deletes/upserts/passthroughs. Oracle replays the merge "
    "with ANSI row_number CTEs.",
)
def x18_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    cutoff = F.lit(_CDC_CUTOFF).cast("timestamp")
    base = latest_change_per_key(
        ev.filter(F.col("ts") < cutoff).withColumn("op", F.lit("U")),
        ["user_id"], ["ts", "event_id"], ["value", "ts"],
    ).drop("op")
    changes = ev.filter(F.col("ts") >= cutoff).withColumn(
        "op", F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U"))
    )
    merged = cdc_apply(
        base, changes,
        key_cols=["user_id"], order_cols=["ts", "event_id"],
        payload_cols=["value", "ts"],
    )
    return merged.orderBy("user_id")


@register(
    "x19_dq_expectations",
    oracle="""
    SELECT chk, CAST(ok AS BIGINT) AS ok, ROUND(measure, 6) AS measure FROM (
      SELECT 'bounded_value' AS chk,
        CASE WHEN SUM(CASE WHEN value < 0 OR value > 500 THEN 1 ELSE 0 END) = 0
             THEN 1 ELSE 0 END AS ok,
        CAST(SUM(CASE WHEN value < 0 OR value > 500 THEN 1 ELSE 0 END) AS DOUBLE)
          AS measure
      FROM events
      UNION ALL
      SELECT 'completeness_ts',
        CASE WHEN COUNT(ts) * 1.0 / COUNT(*) >= 0.999 THEN 1 ELSE 0 END,
        CAST(COUNT(ts) AS DOUBLE) / COUNT(*)
      FROM events
      UNION ALL
      SELECT 'in_set_event_type',
        CASE WHEN SUM(CASE WHEN event_type NOT IN
               ('click','view','purchase','signup','error') THEN 1 ELSE 0 END) = 0
             THEN 1 ELSE 0 END,
        CAST(SUM(CASE WHEN event_type NOT IN
               ('click','view','purchase','signup','error') THEN 1 ELSE 0 END)
             AS DOUBLE)
      FROM events
      UNION ALL
      SELECT 'matches_props',
        CASE WHEN SUM(CASE WHEN regexp_matches(props, '^\\{"k": \\d+\\}$')
                            THEN 1 ELSE 0 END) * 1.0 / COUNT(*) >= 0.99
             THEN 1 ELSE 0 END,
        CAST(SUM(CASE WHEN regexp_matches(props, '^\\{"k": \\d+\\}$')
                       THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
      FROM events
      UNION ALL
      SELECT 'purchase_rate',
        CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 1.0
                  / COUNT(*) >= 0.15 THEN 1 ELSE 0 END,
        CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE)
          / COUNT(*)
      FROM events
      UNION ALL
      SELECT 'uniqueness_event_id',
        CASE WHEN COUNT(DISTINCT event_id) * 1.0 / COUNT(*) = 1.0
             THEN 1 ELSE 0 END,
        CAST(COUNT(DISTINCT event_id) AS DOUBLE) / COUNT(*)
      FROM events
    ) t ORDER BY chk
    """,
    description="Declarative DATA-QUALITY GATE (X-surface; operators/"
    "quality.py, the Deequ 'unit tests for data' model): six "
    "expectations — value bounds, ts completeness, event_type set "
    "membership, props regex conformance, a business-rate floor, "
    "event_id uniqueness — compiled into ONE aggregate pass over one "
    "scan (a stack/Expand unpivots the single-row aggregate into the "
    "report). N checks never cost N jobs; the oracle recomputes every "
    "measure and verdict as plain SQL aggregates.",
)
def x19_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    expectations = [
        Q.bounded("value", 0.0, 500.0),
        Q.completeness("ts", 0.999),
        Q.in_set("event_type", ["click", "view", "purchase", "signup", "error"]),
        Q.matches("props", r'^\{"k": \d+\}$', 0.99),
        Q.min_fraction("purchase_rate", F.col("event_type") == "purchase", 0.15),
        Q.uniqueness("event_id"),
    ]
    return Q.run_checks(ev, expectations)


@register(
    "j14_bloom_semi_join",
    oracle="""
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
        AS price_sum
    FROM lineitem l
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_orderkey = l.l_orderkey
                    AND o.o_orderpriority = '1-URGENT')
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    description="Bloom-PREFILTERED semi-join (J-surface; operators/"
    "bloomjoin.py): lineitem vs urgent orders. The Bloom bitmap is "
    "built distributed (explode k hash positions, groupBy bit_or into "
    "64-bit words — a 128 KiB table for 2^20 bits REGARDLESS of build "
    "cardinality), broadcast, and applied as k bit-tests that reject "
    "probe rows map-side BEFORE the exact semi-join — at 10^9 build "
    "keys the raw key set cannot broadcast but the bitmap still can, "
    "and only Bloom survivors reach the shuffle. Exactness is "
    "guaranteed by the no-false-negative property plus the final exact "
    "join (pytest pins the superset contract); the oracle is the plain "
    "EXISTS semi-join.",
)
def j14_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    hits = bloom_semi_join(
        li, orders, "l_orderkey", "o_orderkey", num_bits=1 << 20, k=3
    )
    return (
        hits.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("price_sum"),
        )
        .orderBy("l_returnflag")
    )


# Shared by the batch (a17) and streaming (st_heavy_hitters_stream)
# heavy-hitter paths: both must produce the exact thresholded counts.
_HH_ORACLE = """
    WITH keyed AS (
      SELECT CASE WHEN event_id % 2 = 0 THEN event_id % 5
                  ELSE event_id END AS hh_key
      FROM events
    )
    SELECT hh_key, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM keyed GROUP BY hh_key
    HAVING COUNT(*) > 0.05 * (SELECT COUNT(*) FROM keyed)
    ORDER BY hh_key
    """


@register(
    "a17_heavy_hitters",
    oracle=_HH_ORACLE,
    description="Exact HEAVY HITTERS without shuffling the long tail "
    "(A-surface; operators/heavyhitters.py, Misra-Gries 1982): a "
    "synthetic skewed key (half the events collapse onto 5 keys, half "
    "stay unique — the web-scale shape) is summarized per partition by "
    "a capacity-41 Misra-Gries sketch in mapInPandas (vectorized "
    "value_counts, batches of one partition share one summary), whose "
    "survivor union provably contains every key above the n/(c+1) "
    "pigeonhole floor; a broadcast semi-join then exactly recounts "
    "ONLY the candidates. The million-key tail never reaches a "
    "shuffle — groupBy(key) at 100 TB shuffles every distinct key, "
    "this ships <= capacity rows per partition. Oracle is the direct "
    "GROUP BY HAVING.",
)
def a17_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    keyed = ev.select(
        F.when(F.col("event_id") % 2 == 0, F.col("event_id") % 5)
        .otherwise(F.col("event_id"))
        .alias("hh_key")
    )
    return (
        heavy_hitters_exact(keyed, "hh_key", threshold_frac=0.05)
        .select("hh_key", F.col("cnt").cast("long"))
        .orderBy("hh_key")
    )


_EDGES = demo_polygons()


def _edges_values_sql() -> str:
    rows = ", ".join(
        f"({p}, {x1!r}, {y1!r}, {x2!r}, {y2!r})" for p, x1, y1, x2, y2 in _EDGES
    )
    return rows


@register(
    "j15_point_in_polygon",
    oracle=f"""
    WITH edges AS (
      SELECT CAST(poly_id AS INTEGER) AS poly_id,
        CAST(x1 AS DOUBLE) AS x1, CAST(y1 AS DOUBLE) AS y1,
        CAST(x2 AS DOUBLE) AS x2, CAST(y2 AS DOUBLE) AS y2
      FROM (VALUES {_edges_values_sql()}) v(poly_id, x1, y1, x2, y2)
    ),
    pts AS (
      SELECT c_custkey AS pid,
        (c_custkey % 997) / CAST(99.7 AS DOUBLE) AS x,
        ((c_custkey * 7919) % 997) / CAST(99.7 AS DOUBLE) AS y
      FROM customer
    ),
    inside AS (
      SELECT pid, poly_id
      FROM pts CROSS JOIN edges
      GROUP BY pid, x, y, poly_id
      HAVING SUM(CASE WHEN ((y1 > y) <> (y2 > y))
                       AND (x < x1 + (y - y1) * (x2 - x1) / (y2 - y1))
                      THEN 1 ELSE 0 END) % 2 = 1
    )
    SELECT poly_id, CAST(COUNT(*) AS BIGINT) AS n_inside,
      CAST(SUM(pid) AS BIGINT) AS pid_sum
    FROM inside GROUP BY poly_id ORDER BY poly_id
    """,
    description="POINT-IN-POLYGON containment join (J-surface, spatial "
    "family; operators/polygon.py; the zone-assignment the reference's "
    "KML polygons imply — sources/kml.py parses rings, this joins "
    "against them): deterministic points derived from customer keys vs "
    "8 literal polygons. Even-odd ray casting; the grid path buckets "
    "each polygon's bbox onto coarse cells and equi-joins points by "
    "cell, so a point only ever meets polygons whose bbox grid it "
    "touches — cost is data x local polygon density, not data x all "
    "polygons. The oracle ray-casts every point against every edge "
    "with the IDENTICAL IEEE expression, so the grid prune is proven "
    "lossless.",
)
def j15_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    points = cust.select(
        F.col("c_custkey").alias("pid"),
        ((F.col("c_custkey") % 997) / 99.7).alias("x"),
        (((F.col("c_custkey") * 7919) % 997) / 99.7).alias("y"),
    )
    edges = cust.sparkSession.createDataFrame(
        _EDGES, "poly_id INT, x1 DOUBLE, y1 DOUBLE, x2 DOUBLE, y2 DOUBLE"
    )
    inside = point_in_polygon_join(points, edges, cell_size=1.0)
    return (
        inside.groupBy("poly_id")
        .agg(
            F.count(F.lit(1)).alias("n_inside"),
            F.sum("pid").cast("long").alias("pid_sum"),
        )
        .orderBy("poly_id")
    )


@register(
    "x20_zorder_layout",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
        AS price_sum,
      CAST(MIN(l_partkey) AS BIGINT) AS min_pk,
      CAST(MAX(l_partkey) AS BIGINT) AS max_pk
    FROM lineitem WHERE l_partkey < 64 AND l_suppkey < 8
    """,
    description="Z-ORDER file layout + two-dimensional pruning (X-surface; "
    "operators/zorder.py; the lakehouse OPTIMIZE ZORDER BY pattern): "
    "lineitem is clustered into 16 parquet files along the Morton "
    "interleave of (l_partkey, l_suppkey) — repartitionByRange on the "
    "z-value, bit math only, no UDF — then a conjunctive rectangle "
    "predicate reads it back. Because each file covers a small "
    "rectangle of the key plane, footer min/max stats on BOTH original "
    "columns are selective; the query asserts the filtered scan "
    "touched strictly fewer files than the layout wrote (file-pruning "
    "proof via input_file_name), then returns the aggregate, which the "
    "oracle computes from the raw table — proving layout changed "
    "nothing semantically.",
)
def x20_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    out_dir, _ = _scratch("zorder", sf_dir)
    write_zordered(
        li.select("l_partkey", "l_suppkey", "l_extendedprice"),
        out_dir,
        "l_partkey",
        "l_suppkey",
        num_files=16,
    )
    back = spark.read.parquet(out_dir)
    total_files = back.select(F.input_file_name()).distinct().count()
    filtered = back.filter((F.col("l_partkey") < 64) & (F.col("l_suppkey") < 8))
    touched = (
        filtered.withColumn("__f", F.input_file_name())
        .select("__f")
        .distinct()
        .count()
    )
    if total_files > 2 and touched >= total_files:
        raise AssertionError(
            f"z-order layout did not prune: {touched}/{total_files} files touched"
        )
    return filtered.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_extendedprice").cast("decimal(38,6)"))
        .cast("double")
        .alias("price_sum"),
        F.min("l_partkey").cast("long").alias("min_pk"),
        F.max("l_partkey").cast("long").alias("max_pk"),
    )


# --- entity resolution capstone --------------------------------------------------

# ER title fixture: word variant (typo-distance <= 1 inside
# {data,date,gate}; note is 2+ edits from all) + a doubled-letter block
# code (any two distinct codes differ by >= 2 edits, so blocks NEVER
# chain together — single-digit counters would: lev("data-1","data-2")
# = 1 merges every block into one giant component).
_ER_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _er_titles_spark(docs):
    words = F.array(F.lit("data"), F.lit("date"), F.lit("gate"), F.lit("note"))
    blk = (F.col("doc_id") / 100).cast("long")
    code = F.concat(
        F.repeat(F.substring(F.lit(_ER_ALPHA), (blk % 26).cast("int") + 1, 1), 2),
        F.repeat(F.substring(F.lit(_ER_ALPHA), (blk / 26).cast("int") % 26 + 1, 1), 2),
    )
    return docs.withColumn(
        "title",
        F.concat(
            F.element_at(words, (F.col("doc_id") % 4).cast("int") + 1),
            F.lit("-"),
            code,
        ),
    )


_ER_TITLE_SQL = """
      ['data','date','gate','note'][CAST(doc_id % 4 AS INT) + 1] || '-'
        || repeat(substr('abcdefghijklmnopqrstuvwxyz',
                         CAST((doc_id // 100) % 26 AS INT) + 1, 1), 2)
        || repeat(substr('abcdefghijklmnopqrstuvwxyz',
                         CAST((doc_id // 100 // 26) % 26 AS INT) + 1, 1), 2)
"""


@register(
    "er_golden_records",
    oracle=f"""
    WITH RECURSIVE toks AS (
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
    rare AS (SELECT doc_id, s FROM sh QUALIFY COUNT(*) OVER (PARTITION BY s) <= 4),
    sized AS (SELECT doc_id, s, COUNT(*) OVER (PARTITION BY doc_id) AS n_sh FROM rare),
    jpairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sized a JOIN sized b ON a.s = b.s AND a.doc_id < b.doc_id
       AND a.doc_id // 100 = b.doc_id // 100
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) / CAST(ANY_VALUE(a.n_sh) + ANY_VALUE(b.n_sh) - COUNT(*)
                             AS DOUBLE) >= 0.5
    ),
    titled AS (SELECT doc_id, {_ER_TITLE_SQL} AS title FROM documents),
    epairs AS (
      SELECT x.doc_id AS id_a, y.doc_id AS id_b
      FROM titled x JOIN titled y ON x.doc_id < y.doc_id
       AND abs(strlen(x.title) - strlen(y.title)) <= 1
      WHERE levenshtein(x.title, y.title) <= 1
    ),
    allp AS (SELECT * FROM jpairs UNION SELECT * FROM epairs),
    edges AS (SELECT id_a AS a, id_b AS b FROM allp
              UNION SELECT id_b, id_a FROM allp),
    reach(node, r) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node
      WHERE reach.r < e.b
    ),
    comp AS (SELECT node, MIN(r) AS component_id FROM reach GROUP BY node),
    labeled AS (
      SELECT d.doc_id, d.n_chars, d.source,
        COALESCE(c.component_id, d.doc_id) AS component_id
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    ),
    golden AS (
      SELECT component_id, CAST(COUNT(*) AS BIGINT) AS n_members,
        CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
        CAST(MAX(n_chars * 10000000 + doc_id) % 10000000 AS BIGINT) AS rep_id,
        CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
      FROM labeled GROUP BY component_id
    )
    SELECT l.doc_id, l.component_id, g.n_members, g.chars_sum, g.rep_id,
      g.n_sources
    FROM labeled l JOIN golden g USING (component_id)
    ORDER BY l.doc_id
    """,
    description="ENTITY-RESOLUTION capstone (composes the dedup family into "
    "the record-linkage pipeline: blocking -> multi-matcher candidate "
    "pairs -> transitive clustering -> golden-record survivorship): "
    "records are partitioned into BLOCKS (doc_id//100 — the ER move "
    "that bounds candidate generation: comparisons never cross a "
    "block, so pair count scales with block size, not corpus size); "
    "within a block, candidate edges come from TWO independent "
    "matchers — content n-gram Jaccard >= 0.5 (inverted-index join, "
    "rare shingles only) and typo-grade edit-distance<=1 on a derived "
    "title (SymSpell deletion neighborhood) — unioned and clustered "
    "with alternating large/small-star connected components (O(log n) "
    "rounds, never a neighbor-list materialization); every cluster "
    "then emits a GOLDEN record (member count, char checksum, richest "
    "member as representative via a decomposable packed-max — no "
    "per-cluster sort, distinct-source count) and the result is the "
    "per-record assignment joined back to its cluster's golden row. "
    "Unmatched docs stay singleton clusters via left join + coalesce. "
    "The oracle replays blocking and matching exactly in SQL and "
    "closes the graph with a recursive min-label CTE — full "
    "end-to-end parity for an ITERATIVE algorithm.",
)
def er_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.components import (
        connected_components,
    )
    from accident_prediction_montreal_spark.operators.dedup import (
        editdist1_pairs,
        ngram_jaccard_pairs,
    )

    docs = _er_titles_spark(load_table(spark, "documents", sf_dir))
    same_block = (F.col("id_a") / 100).cast("long") == (F.col("id_b") / 100).cast(
        "long"
    )
    jp = (
        ngram_jaccard_pairs(docs, "doc_id", "text", n=3, min_jaccard=0.5, max_doc_freq=4)
        .filter(same_block)
        .select("id_a", "id_b")
    )
    # titles encode the block, so the editdist matcher is block-local by
    # construction (distinct block codes are >= 2 edits apart)
    ep = editdist1_pairs(docs.select("doc_id", "title"), "doc_id", "title").select(
        "id_a", "id_b"
    )
    edges = jp.unionByName(ep)
    comp = connected_components(edges, src="id_a", dst="id_b")
    labeled = docs.join(
        comp.withColumnRenamed("node", "doc_id"), on="doc_id", how="left"
    ).withColumn("component_id", F.coalesce("component", "doc_id"))
    # rep_id via the same packed max the oracle uses: decomposable, and
    # the 1e7 radix keeps doc_id clear of n_chars at every SF
    packed = F.max(F.col("n_chars") * 10_000_000 + F.col("doc_id"))
    golden = labeled.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("n_chars").cast("long").alias("chars_sum"),
        (packed % 10_000_000).cast("long").alias("rep_id"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )
    # golden rows are one-per-cluster (tiny): broadcast the join back
    return (
        labeled.select("doc_id", "component_id")
        .join(F.broadcast(golden), on="component_id")
        .select(
            "doc_id", "component_id", "n_members", "chars_sum", "rep_id", "n_sources"
        )
        .orderBy("doc_id")
    )


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


@register(
    "st_cdc_upsert_stream",
    oracle=_CDC_ORACLE,
    description="STREAMING CDC upsert — the merge-on-read twin of "
    "x18_cdc_merge (§2.12 x operators/cdc.py): the events table "
    "arrives as two micro-batches (time-split fixture, "
    "maxFilesPerTrigger=1); each batch derives its op column (error "
    "at-or-after the cutoff = tombstone) and foreachBatch APPENDS the "
    "version log — the Hudi-MOR/LSM sink shape: ingest is an append, "
    "never a rewrite, so stream throughput is independent of table "
    "size. The read side compacts the log with ONE map-side-combinable "
    "max_by per key (operators/cdc.py::latest_change_per_key), drops "
    "tombstones, and — because versions are merged by (ts, event_id), "
    "not arrival order — the result is provably identical whichever "
    "order micro-batches landed in. Oracle: the SAME SQL as the batch "
    "x18 query; streaming and batch MUST converge to one table.",
)
def st_cdc_upsert_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = read_events_stream(spark, two_batch_fixture(sf_dir), max_files_per_trigger=1)
    cutoff = F.lit(_CDC_CUTOFF).cast("timestamp")
    versions = raw.select(
        "user_id",
        "value",
        "ts",
        "event_id",
        F.when((F.col("event_type") == "error") & (F.col("ts") >= cutoff), F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )

    base, _ = _scratch("stcdc", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    log_dir, ckpt_dir = f"{base}/log", f"{base}/ckpt"

    def append_batch(batch_df: DataFrame, batch_id: int) -> None:
        # merge-on-read: the sink is an append-only version log
        batch_df.write.mode("append").parquet(log_dir)

    drain(versions, "append", sink=append_batch, checkpoint=ckpt_dir)

    log = spark.read.parquet(log_dir)
    latest = latest_change_per_key(
        log, ["user_id"], ["ts", "event_id"], ["value", "ts"]
    )
    return (
        latest.filter(F.col("op") != "D")
        .select(
            "user_id",
            "value",
            "ts",
            F.when(F.col("ts") >= cutoff, F.lit("upsert"))
            .otherwise(F.lit("base"))
            .alias("src"),
        )
        .orderBy("user_id")
    )


@register(
    "a18_skyline_pareto",
    oracle="""
    SELECT p.p_partkey, p.p_retailprice AS price,
      CAST(p.p_size AS INT) AS size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    ORDER BY p.p_partkey
    """,
    description="SKYLINE / Pareto-frontier query (A-surface extension; "
    "operators/skyline.py): parts no other part dominates (cheaper or "
    "equal price AND larger or equal size, one strict). Canonical "
    "two-phase distributed skyline: per-partition frontiers via an "
    "incremental vectorized mapInPandas sweep (sound: a global skyline "
    "member is non-dominated in its own partition, so local pruning "
    "never loses one), then an exact aggregate sweep over the pruned "
    "union — groupBy(price) max, running max over the small distinct-"
    "price table, broadcast join back. The O(n^2) NOT EXISTS is the "
    "oracle's job, never the engine's.",
)
def a18_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.skyline import skyline_2d

    pts = load_table(spark, "part", sf_dir).select(
        "p_partkey",
        F.col("p_retailprice").alias("price"),
        F.col("p_size").cast("int").alias("size"),
    )
    return skyline_2d(pts, "price", "size").select(
        "p_partkey", "price", "size"
    ).orderBy("p_partkey")


@register(
    "a19_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type AS src,
        LEAD(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS dst
      FROM events
    )
    SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n,
      ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (PARTITION BY src), 6)
        AS prob
    FROM seq WHERE dst IS NOT NULL
    GROUP BY src, dst ORDER BY src, dst
    """,
    description="MARKOV transition matrix over per-user event sequences "
    "(A-surface, product-analytics family next to cohort/funnel): one "
    "lead() window per user (ts, event_id total order), one "
    "groupBy(src, dst) count, transition probabilities via a "
    "25-row window over the aggregate — the sequence-mining primitive "
    "for next-event prediction. One sort shuffle on user_id, one "
    "aggregate shuffle; nothing touches raw rows twice.",
)
def a19_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    agg = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    wsrc = Window.partitionBy("src")
    return (
        agg.withColumn(
            "prob", F.round(F.col("n") / F.sum("n").over(wsrc), 6)
        )
        .select("src", "dst", F.col("n").cast("long"), "prob")
        .orderBy("src", "dst")
    )


@register(
    "a20_attribution_last_touch",
    oracle="""
    WITH touched AS (
      SELECT event_type, value,
        LAST_VALUE(CASE WHEN event_type IN ('click','view')
                        THEN event_type END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
      FROM events
    )
    SELECT COALESCE(channel, 'none') AS channel,
      CAST(COUNT(*) AS BIGINT) AS n_purchases,
      CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
        AS value_sum
    FROM touched WHERE event_type = 'purchase'
    GROUP BY 1 ORDER BY 1
    """,
    description="LAST-TOUCH ATTRIBUTION (A-surface, product-analytics "
    "family): every purchase is attributed to the user's most recent "
    "PRIOR click/view — an IGNORE-NULLS last_value window over the "
    "(ts, event_id) order with an unbounded-to-1-preceding frame (the "
    "same carry primitive as w8's LVCF gap-fill, aimed at marketing "
    "attribution), then one decimal-exact aggregate per channel; "
    "purchases with no prior touch land in 'none'. One sort shuffle "
    "per user partition, one aggregate — never a self-join of "
    "purchases against touches (the naive theta-join form is "
    "quadratic in session length).",
)
def a20_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type").isin("click", "view"), F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.withColumn("channel", touch)
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("channel", F.lit("none")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("value_sum"),
        )
        .orderBy("channel")
    )


@register(
    "a21_approx_topk_invariant",
    oracle="""
    SELECT 'topk_items_match_exact' AS chk, CAST(1 AS BIGINT) AS ok
    UNION ALL SELECT 'topk_counts_exact_on_skew', CAST(1 AS BIGINT)
    UNION ALL SELECT 'topk_ordered_desc', CAST(1 AS BIGINT)
    ORDER BY chk
    """,
    description="approx_top_k SKETCH contract (Spark 4 Datasketches "
    "frequent-items surface, the sketch sibling of a17's exact "
    "Misra-Gries path): the same synthetic skewed key (5 heavy keys "
    "holding ~10% of rows each, a unique tail) goes through "
    "approx_top_k(5, 10000); with maxItemsTracked far above the "
    "stream's distinct count per tracker the estimates are EXACT, so "
    "the contract pins (a) the returned item set equals the exact "
    "top-5 by count, (b) every returned count equals the exact "
    "groupBy count, (c) descending count order. Literal invariant "
    "oracle, a8/x15's pattern.",
)
def a21_approx_topk_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    keyed = ev.select(
        F.when(F.col("event_id") % 2 == 0, F.col("event_id") % 5)
        .otherwise(F.col("event_id"))
        .alias("hh_key")
    )
    sketch = keyed.agg(
        F.expr("approx_top_k(hh_key, 5, 10000)").alias("tk")
    )
    exact = (
        keyed.groupBy("hh_key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("hh_key").asc())
        .limit(5)
        .agg(
            F.sort_array(F.collect_list(F.struct("hh_key", "cnt"))).alias("ex")
        )
    )
    both = sketch.crossJoin(exact)
    items_sorted = F.sort_array(
        F.transform(F.col("tk"), lambda e: F.struct(e["item"].alias("hh_key"),
                                                    e["count"].alias("cnt")))
    )
    counts_desc = F.transform(F.col("tk"), lambda e: e["count"])
    ordered_ok = F.aggregate(
        F.zip_with(
            counts_desc,
            F.slice(counts_desc, 2, F.size(counts_desc)),
            lambda a, b: (a >= b).cast("int"),
        ),
        F.lit(1),
        lambda acc, x: acc * F.coalesce(x, F.lit(1)),
    ) == 1
    # TIE-ROBUST invariants (r14 events-table fuzz): when several keys
    # share the k-th count, approx_top_k and the exact query may pick
    # DIFFERENT — equally valid — boundary items, so struct-for-struct
    # equality over-asserts. What IS invariant under ties: (1) the
    # count MULTISET matches exactly (the sketch capacity exceeds the
    # distinct count, so per-item counts are exact), and (2) every item
    # STRICTLY above the boundary count appears in the sketch's top-k.
    sk_counts_desc = F.reverse(F.sort_array(counts_desc))
    ex_counts_desc = F.reverse(
        F.sort_array(F.transform(F.col("ex"), lambda e: e["cnt"]))
    )
    boundary = F.element_at(ex_counts_desc, F.size(ex_counts_desc))
    sk_items = F.transform(F.col("tk"), lambda e: e["item"])
    strict_above = F.filter(F.col("ex"), lambda e: e["cnt"] > boundary)
    return checks(both, {
        "topk_counts_exact_on_skew": sk_counts_desc == ex_counts_desc,
        "topk_items_match_exact": F.forall(
            strict_above, lambda e: F.array_contains(sk_items, e["hh_key"])
        ),
        "topk_ordered_desc": ordered_ok,
    }).orderBy("chk")


@register(
    "w9_distribution_ranks",
    oracle="""
    WITH ranked AS (
      SELECT o_orderkey, o_orderpriority,
        ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
        ROUND(CUME_DIST() OVER w, 6) AS cume,
        CAST(NTILE(4) OVER w AS INT) AS quartile
      FROM orders
      WINDOW w AS (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice, o_orderkey)
    )
    SELECT o_orderkey, o_orderpriority, pct_rank, cume, quartile
    FROM ranked WHERE o_orderkey % 50 = 0 ORDER BY o_orderkey
    """,
    description="Distribution-rank window family (W-surface completeness: "
    "percent_rank + cume_dist + ntile in ONE window pass sharing one "
    "sort — the remaining rank functions next to w1/w2's rank/"
    "row_number and the deciles' lone ntile): per-priority price "
    "distribution position for every order, then a modulo sample of "
    "the output (ranks computed over the FULL partition, filtered "
    "after — filtering first would change every rank). The (price, "
    "orderkey) total order makes ntile's bucket boundaries and tie "
    "placement deterministic cross-engine.",
)
def w9_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select(
            "o_orderkey",
            "o_orderpriority",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .filter(F.col("o_orderkey") % 50 == 0)
        .orderBy("o_orderkey")
    )


@register(
    "st_heavy_hitters_stream",
    oracle=_HH_ORACLE,
    description="STREAMING heavy hitters — the stateful twin of a17 "
    "(§2.12 x operators/heavyhitters.py; streaming/stateful.py::"
    "sharded_heavy_hitter_candidates): the skewed-key events stream "
    "arrives as two micro-batches; per HASH SHARD (16-way — a single "
    "global summary would funnel the stream through one state key, "
    "shards spread the state store across the cluster) an "
    "applyInPandasWithState Misra-Gries summary absorbs each batch "
    "(vectorized value_counts merge, decrement-by-min eviction, state "
    "= two parallel arrays). A key's whole stream lands in one shard, "
    "so the pigeonhole superset guarantee survives sharding; the "
    "update-mode candidate snapshots are then exactly recounted "
    "batch-side and thresholded. Oracle: the SAME GROUP BY HAVING as "
    "the batch a17 — stream state and batch must agree exactly.",
)
def st_heavy_hitters_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.streaming.stateful import (
        sharded_heavy_hitter_candidates,
    )

    raw = read_events_stream(spark, two_batch_fixture(sf_dir), max_files_per_trigger=1)
    hh_key = (
        F.when(F.col("event_id") % 2 == 0, F.col("event_id") % 5)
        .otherwise(F.col("event_id"))
        .alias("hh_key")
    )
    keyed = raw.select(hh_key).select(
        F.pmod(F.xxhash64("hh_key"), F.lit(16)).cast("int").alias("shard"), "hh_key"
    )
    cand_log = drain(sharded_heavy_hitter_candidates(keyed, capacity=41), "update")
    candidates = cand_log.select("hh_key").distinct()

    batch_keyed = load_table(spark, "events", sf_dir).select(hh_key)
    n = batch_keyed.count()
    return (
        batch_keyed.join(F.broadcast(candidates), on="hh_key", how="left_semi")
        .groupBy("hh_key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 0.05 * n)
        .select("hh_key", F.col("cnt").cast("long"))
        .orderBy("hh_key")
    )


@register(
    "j16_interval_overlap",
    oracle="""
    WITH a AS (
      SELECT user_id, ts AS a_start,
        ts + INTERVAL 1 MINUTE * CAST(FLOOR(value) AS INT) AS a_end
      FROM events WHERE event_type = 'click'
    ),
    b AS (
      SELECT user_id, ts AS b_start,
        ts + INTERVAL 1 MINUTE * CAST(FLOOR(value) AS INT) AS b_end
      FROM events WHERE event_type = 'purchase'
    )
    SELECT a.user_id, CAST(COUNT(*) AS BIGINT) AS n_overlaps,
      CAST(SUM(epoch_us(LEAST(a_end, b_end))
               - epoch_us(GREATEST(a_start, b_start))) AS BIGINT) AS overlap_us
    FROM a JOIN b ON a.user_id = b.user_id
     AND a.a_start < b.b_end AND b.b_start < a.a_end
    GROUP BY a.user_id ORDER BY a.user_id
    """,
    description="Interval-INTERVAL overlap join (J-surface; operators/"
    "rangejoin.py::interval_overlap_join — the two-sided sibling of "
    "j10's point-in-interval): click activity windows vs purchase "
    "windows per user (duration = floor(value) minutes). Both sides "
    "explode onto 6h time cells and hash-equi-join on (user, cell); a "
    "pair sharing many cells is emitted ONLY in the canonical cell "
    "containing its overlap start — exactly-once by construction, no "
    "dropDuplicates shuffle. Overlap micros summed as exact BIGINT. "
    "Oracle is the naive per-user theta join; candidate pairs in the "
    "engine are bounded by cell co-location, never |A| x |B|.",
)
def j16_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    ev = load_table(spark, "events", sf_dir)
    dur = F.expr("make_interval(0, 0, 0, 0, 0, CAST(FLOOR(value) AS INT), 0)")
    a = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("a_start"),
        (F.col("ts") + dur).alias("a_end"),
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("b_start"),
        (F.col("ts") + dur).alias("b_end"),
    )
    pairs = interval_overlap_join(a, b, keys=["user_id"])
    # event time is TIMESTAMP_NTZ engine-wide; epoch_us is the
    # session-TZ-independent micros extraction for that flavor
    from accident_prediction_montreal_spark.sources.registry import epoch_us

    dur_us = epoch_us(F.least("a_end", "b_end"), "timestamp_ntz") - epoch_us(
        F.greatest("a_start", "b_start"), "timestamp_ntz"
    )
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_overlaps"),
            F.sum(dur_us).cast("long").alias("overlap_us"),
        )
        .orderBy("user_id")
    )


@register(
    "x21_ann_pruned_layout",
    oracle="""
    SELECT 'partition_pruning_files' AS chk, CAST(1 AS BIGINT) AS ok
    UNION ALL SELECT 'pruned_equals_inmemory_topk', CAST(1 AS BIGINT)
    UNION ALL SELECT 'topk_rows', CAST(1 AS BIGINT)
    ORDER BY chk
    """,
    description="ANN x DATA LAYOUT composition (operators/ivf.py x "
    "partitioned sink — the at-rest form of the IVF story the sim_ann_"
    "ivf contract proves in memory): the corpus is written "
    "partitionBy(cell_id) so each IVF cell is a parquet partition; "
    "probing then reads ONLY the probed cells' directories — the scan "
    "cost of a query is n_probe/n_cells of the corpus at ANY corpus "
    "size, which is the entire point of IVF at 100 TB. Contract: (a) "
    "top-k computed through the partitioned layout EQUALS the "
    "in-memory IVF top-k (order-insensitive hash over (query, id, "
    "cosine, rank)), (b) the probe-cell filtered read touches strictly "
    "fewer files than the layout holds (file-level pruning proof via "
    "input_file_name), (c) k rows per query. Probe cells resolve from "
    "the <=16-row centroid table — the same driver-side metadata step "
    "as partition pruning itself, never a data collect.",
)
def x21_ann_pruned_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.functions.vectors import cosine_similarity
    from accident_prediction_montreal_spark.operators.ivf import (
        build_ivf_index,
        ivf_cosine_topk,
    )
    emb = load_table(spark, "embeddings", sf_dir)
    # Coarse quantizers train on a SAMPLE (standard IVF practice — the
    # layout contracts below are invariant to centroid quality): the
    # full-corpus MLlib fit was half this query's sf1 wall time.
    assigned, centroids = build_ivf_index(
        emb, n_cells=16, sample_fraction=0.25, max_iter=5
    )
    # Two consumers (the layout write and the in-memory probe twin) —
    # persisted so the assignment scan+argmax runs once; the write
    # below is the materializing action (guide §5).
    from accident_prediction_montreal_spark import cachereg

    assigned = assigned.persist()
    cachereg.register("plans.x21_ann_pruned_layout", assigned)
    out_dir, _ = _scratch("ivfpart", sf_dir)
    (
        assigned.select("vec_id", "embedding", "cell_id")
        .write.mode("overwrite")
        .partitionBy("cell_id")
        .parquet(out_dir)
    )
    disk = spark.read.parquet(out_dir)

    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    k, n_probe = 5, 2
    res_disk = ivf_cosine_topk(queries, disk, centroids, k=k, n_probe=n_probe)
    res_mem = ivf_cosine_topk(queries, assigned, centroids, k=k, n_probe=n_probe)

    def res_hash(df: DataFrame):
        return df.agg(
            F.bit_xor(
                F.xxhash64(
                    "query_id", "vec_id", F.round("cosine", 6), "rank"
                )
            ).alias("h"),
            F.count(F.lit(1)).alias("n"),
        )

    hd = res_hash(res_disk)
    hm = res_hash(res_mem).select(
        F.col("h").alias("hm"), F.col("n").alias("nm")
    )

    # probe cells for query 0: centroid table is <=16 rows of metadata —
    # resolving them driver-side is the partition-pruning step itself
    q0 = queries.filter(F.col("query_id") == 0)
    probe_cells = [
        r["cell_id"]
        for r in q0.crossJoin(F.broadcast(centroids))
        .select(
            "cell_id",
            cosine_similarity("query_vec", "centroid").alias("s"),
        )
        .orderBy(F.col("s").desc(), F.col("cell_id").asc())
        .limit(n_probe)
        .collect()
    ]
    # File-count for the pruning contract from the scan's FILE INDEX
    # (df.inputFiles()), not a full-table input_file_name scan — driver
    # metadata the planner already holds, zero executor work. The
    # PRUNED count below must stay a scan: inputFiles() reports the
    # unpruned relation (verified — partition filters don't reach it).
    total_files = len(disk.inputFiles())
    pruned_files = (
        disk.filter(F.col("cell_id").isin(probe_cells))
        .withColumn("__f", F.input_file_name())
        .select("__f")
        .distinct()
        .count()
    )

    # The first check stays a plain boolean literal, NOT
    # `lit(int(..)) == 1` — the latter was the "trivially true equals
    # predicate" WARN source (r13 verdict ask #4).
    return checks(hd.crossJoin(hm), {
        "partition_pruning_files": F.lit(bool(0 < pruned_files < total_files)),
        "pruned_equals_inmemory_topk": (F.col("h") == F.col("hm"))
        & (F.col("n") == F.col("nm")),
        "topk_rows": F.col("n") == 3 * k,
    }).orderBy("chk")


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

    from pyspark.sql import Window

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
    edges = (
        x.join(y, on=["event_type", "h"])
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    return triangle_stats(edges)


@register(
    "x23_global_index",
    oracle="""
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY ts, event_id) - 1 AS BIGINT)
             AS global_idx,
           event_id
    FROM events
    """,
    description="Scale-safe GLOBAL row numbering (operators/indexing.py — "
    "the zipWithIndex pattern, DataFrame-first): row_number() OVER "
    "(ORDER BY ...) with no partition clause plans a SINGLE-partition "
    "sort — the whole dataset through one task, the canonical 100-TB "
    "bottleneck. Here: range-repartition by the key, sort within "
    "partitions, number locally with a zero-shuffle Arrow pass (running "
    "counter across the partition's batches), then one n_partitions-row "
    "count aggregate (REUSES the range exchange) rolled into exclusive "
    "prefix offsets and broadcast back. One data-sized shuffle total. "
    "Oracle is the naive ROW_NUMBER — agreement proves the two-phase "
    "assignment is exactly the global rank, boundary placement "
    "included.",
)
def x23_global_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.indexing import global_row_index

    ev = load_table(spark, "events", sf_dir).select("ts", "event_id")
    out = global_row_index(ev, ["ts", "event_id"], num_partitions=32)
    return out.select("global_idx", "event_id")


def _a22_oracle() -> str:
    from accident_prediction_montreal_spark.operators.mixing import (
        SALT_WEIGHTED,
        lcg_uniform_sql,
    )

    u = lcg_uniform_sql("event_id", salt=SALT_WEIGHTED)
    return f"""
    WITH keyed AS (
      SELECT event_type, event_id,
             POW({u}, 1.0 / (value + 1)) AS k
      FROM events WHERE value + 1 > 0
    ),
    r AS (
      SELECT event_type, event_id,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY k DESC, event_id ASC) AS sample_rank
      FROM keyed
    )
    SELECT event_type, event_id, CAST(sample_rank AS INT) AS sample_rank
    FROM r WHERE sample_rank <= 100
    """


@register(
    "a22_weighted_sample",
    oracle=_a22_oracle(),
    description="Weighted sampling WITHOUT replacement as ONE distributed "
    "top-k (operators/mixing.py::weighted_sample_topk — Efraimidis-"
    "Spirakis A-ES): every row keys itself with u(id)^(1/w) from the "
    "shared exact LCG, and the k largest keys per stratum ARE a weighted "
    "sample without replacement — no rejection loop, no sequential "
    "reservoir, no driver state. Keys are computed map-side in the JVM; "
    "an Arrow per-partition COMBINER prunes to each partition's local "
    "top-k per stratum, so the only shuffle carries at most n_partitions "
    "x n_strata x k rows (never the corpus) into the exact final rank. "
    "Weight = value+1 over events, k=100 per event_type; the output is "
    "the SELECTION (ids + ranks), engine-stable because distinct LCG "
    "uniforms keep key gaps orders of magnitude above pow()'s ulp "
    "differences; the raw transcendental key is deliberately not "
    "emitted. Oracle replays the identical keying in SQL.",
)
def a22_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.mixing import (
        weighted_sample_topk,
    )

    ev = load_table(spark, "events", sf_dir).select("event_type", "event_id", "value")
    out = weighted_sample_topk(
        ev,
        id_col="event_id",
        weight_col=F.col("value") + 1,
        k=100,
        strata_col="event_type",
    )
    return out.select("event_type", "event_id", F.col("sample_rank").cast("int"))


@register(
    "a23_time_weighted_avg",
    oracle="""
    WITH seq AS (
      SELECT user_id, value, ts,
        LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    seg AS (
      SELECT user_id,
        CAST(value AS DECIMAL(18,6))
          * CAST(date_diff('second', ts, nxt) AS DECIMAL(18,0)) AS wv,
        date_diff('second', ts, nxt) AS dt
      FROM seq WHERE nxt IS NOT NULL
    )
    SELECT user_id,
      CAST(SUM(dt) AS BIGINT) AS span_s,
      ROUND(CAST(SUM(wv) AS DOUBLE) / SUM(dt), 6) AS twa
    FROM seg GROUP BY user_id HAVING SUM(dt) > 0
    """,
    description="TIME-WEIGHTED average per key (A-surface, time-series "
    "family with the LVCF gap-fill and as-of joins — the TimescaleDB-"
    "class rollup for irregular samples, where a plain AVG over-weights "
    "bursts): each observation holds its value until the next one "
    "(lead(ts) segment duration), TWA = sum(value x dt) / sum(dt). One "
    "user-keyed sort window + one aggregate — both share the user_id "
    "partitioning, so the second shuffle is free at scale. Products "
    "accumulate in DECIMAL (exact, order-independent) so the sum is "
    "partition-layout-stable and engine-exact; the final division is "
    "one correctly-rounded double op.",
)
def a23_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "value",
        "ts",
        F.lead("ts").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    dt = (F.unix_timestamp("nxt") - F.unix_timestamp("ts")).alias("dt")
    seg = seq.select(
        "user_id",
        (F.col("value").cast("decimal(18,6)") * dt.cast("decimal(18,0)")).alias("wv"),
        dt,
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.sum("dt").cast("long").alias("span_s"),
            F.sum("wv").alias("__wv"),
        )
        .filter(F.col("span_s") > 0)
        .select(
            "user_id",
            "span_s",
            F.round(F.col("__wv").cast("double") / F.col("span_s"), 6).alias("twa"),
        )
    )


@register(
    "a24_ohlc_bars",
    oracle="""
    WITH r AS (
      SELECT event_type, date_trunc('hour', ts) AS bar, value, ts, event_id,
        ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                           ORDER BY ts, event_id) AS rn_open,
        ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                           ORDER BY ts DESC, event_id DESC) AS rn_close
      FROM events
    )
    SELECT event_type, bar,
      CAST(COUNT(*) AS BIGINT) AS n,
      MAX(CASE WHEN rn_open = 1 THEN value END) AS open,
      MAX(value) AS high, MIN(value) AS low,
      MAX(CASE WHEN rn_close = 1 THEN value END) AS close
    FROM r GROUP BY event_type, bar
    """,
    description="OHLC bar resampling (A-surface, time-series family): "
    "open/high/low/close of value per (event_type, hour) — the "
    "canonical downsampling shape for market/sensor data. ONE hash "
    "aggregate, no window sort: open/close are min/max over "
    "(ts, event_id, value) STRUCTS (lexicographic struct ordering "
    "encodes the total order; the tie-break makes first/last exact "
    "under any partitioning — Spark's first()/last() aggregate would "
    "be partition-order-dependent and min_by/max_by carry no "
    "tie-break), high/low are plain min/max. Map-side combinable, one "
    "shuffle of 8-byte-key groups at any scale. The oracle replays "
    "open/close with two rank windows.",
)
def a24_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    g = ev.select(
        "event_type",
        F.date_trunc("hour", "ts").alias("bar"),
        "ts",
        "event_id",
        "value",
    )
    return g.groupBy("event_type", "bar").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min(F.struct("ts", "event_id", "value"))["value"].alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.struct("ts", "event_id", "value"))["value"].alias("close"),
    )


@register(
    "sql_lateral_topk",
    oracle="""
    WITH ranked AS (
      SELECT n.n_name, c.c_name, ROUND(c.c_acctbal, 2) AS c_acctbal,
        ROW_NUMBER() OVER (PARTITION BY n.n_nationkey
                           ORDER BY c.c_acctbal DESC, c.c_name) AS rn
      FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
    )
    SELECT n_name, c_name, c_acctbal FROM ranked WHERE rn <= 3
    """,
    description="SQL LATERAL correlated subquery (relational surface next "
    "to the correlated-EXISTS and recursive-CTE queries): top-3 "
    "customers by account balance PER NATION via JOIN LATERAL "
    "(... ORDER BY ... LIMIT 3) — the per-row-subquery syntax analysts "
    "reach for. Catalyst DECORRELATES it into the same windowed-rank "
    "plan the oracle spells out explicitly (DomainJoin -> rank filter), "
    "so the declarative form pays no per-row execution at scale — that "
    "equivalence is exactly what the oracle checks.",
)
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "nation", sf_dir).createOrReplaceTempView("lat_nation")
    load_table(spark, "customer", sf_dir).createOrReplaceTempView("lat_customer")
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, ROUND(t.c_acctbal, 2) AS c_acctbal
        FROM lat_nation n
        JOIN LATERAL (
          SELECT c_name, c_acctbal
          FROM lat_customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_name
          LIMIT 3
        ) t
        """
    )


@register(
    "a25_session_dynamic_gap",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id, value,
        CASE WHEN event_type = 'error' THEN INTERVAL 6 HOUR
             ELSE INTERVAL 24 HOUR END AS gap
      FROM events
    ),
    o AS (
      SELECT user_id, ts, value,
        MAX(ts + gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          AS prev_maxext
      FROM g
    ),
    f AS (
      SELECT user_id, ts, value,
        CASE WHEN prev_maxext IS NULL OR ts >= prev_maxext THEN 1 ELSE 0 END
          AS new_s
      FROM o
    ),
    s AS (
      SELECT user_id, ts, value,
        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS sid
      FROM f
    )
    SELECT user_id, MIN(ts) AS session_start,
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
        AS value_sum
    FROM s GROUP BY user_id, sid
    """,
    description="DYNAMIC-gap sessionization (A-surface, the batch form of "
    "§2.12's session windows): session_window(ts, CASE ...) with a PER-"
    "EVENT gap — error events hold a session open 6 h, everything else "
    "24 h — the real-world policy (checkout flows time out faster than "
    "browsing) that a fixed-gap sessionizer cannot express. Spark's "
    "session merge is window-overlap ([ts, ts+gap) intervals, "
    "exclusive end); the oracle derives identical sessions by island "
    "detection — cumulative MAX of extents, a new session exactly when "
    "ts >= every preceding extent — proving the merge semantics, "
    "including the ts == end boundary (new session) and out-of-order "
    "extents (a long-gap event swallowing later short-gap ones). One "
    "user-keyed shuffle; the aggregate is decimal-exact.",
)
def a25_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    gap = (
        F.when(F.col("event_type") == "error", F.lit("6 hours"))
        .otherwise(F.lit("24 hours"))
    )
    return (
        ev.groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("value_sum"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n",
            "value_sum",
        )
    )


def _rfm_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user (recency_s, frequency, monetary) aggregate — shared by the
    approx-edge default and the exact-ntile parity twin. ONE map-side-
    combined aggregate over events; the anchor (global max ts) is then an
    aggregate of the PERSISTED per-user rows — |users| ≪ |events| — so
    events is scanned exactly once and the anchor is still a 1-row
    broadcast, never a driver collect."""
    ev = load_table(spark, "events", sf_dir)
    base = (
        ev.groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("monetary"),
        )
        .persist()
    )
    cachereg.register("plans.a26_rfm_base", base)
    anchor = base.agg(F.max("last_ts").alias("amax"))
    return (
        base.crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            (F.unix_timestamp("amax") - F.unix_timestamp("last_ts"))
            .cast("long")
            .alias("recency_s"),
            "frequency",
            "monetary",
        )
    )


_RFM_USERS_SQL = """
    WITH anchor AS (SELECT MAX(ts) AS amax FROM events),
    u AS (
      SELECT user_id,
        date_diff('second', MAX(ts), (SELECT amax FROM anchor)) AS recency_s,
        CAST(COUNT(*) AS BIGINT) AS frequency,
        CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
          AS monetary
      FROM events GROUP BY user_id
    )"""


@register(
    "a26_rfm_segmentation",
    oracle=f"""
    {_RFM_USERS_SQL}
    SELECT metric,
      CAST(n_users AS BIGINT) AS n_users,
      value_min, value_max,
      TRUE AS edges_monotone, TRUE AS bins_within_edges,
      TRUE AS counts_match
    FROM (
      SELECT 'frequency' AS metric, COUNT(*) AS n_users,
        CAST(MIN(frequency) AS DOUBLE) AS value_min,
        CAST(MAX(frequency) AS DOUBLE) AS value_max FROM u
      UNION ALL
      SELECT 'monetary', COUNT(*), MIN(monetary), MAX(monetary) FROM u
      UNION ALL
      SELECT 'recency_s', COUNT(*), CAST(MIN(recency_s) AS DOUBLE),
        CAST(MAX(recency_s) AS DOUBLE) FROM u
    ) ORDER BY metric
    """,
    description="RFM SEGMENTATION, the 100-TB default: per-user recency/"
    "frequency/decimal-exact monetary from one map-side-combined "
    "aggregate, then QUINTILE BINNING AGAINST approx_percentile EDGES "
    "(20/40/60/80th, accuracy 10000) — a 1-row broadcast of the edge "
    "arrays and a per-row bin assignment, so NO global single-partition "
    "ntile sort exists anywhere in the plan (the r7-flagged scale "
    "killer; the exact-ntile form survives as the "
    "a26_rfm_segmentation_exact parity twin). Because sketch edges are "
    "engine-specific, the oracle checks INVARIANTS that hold for ANY "
    "valid edge set plus exact per-metric aggregates: user count and "
    "global min/max (value-exact both engines), edge monotonicity, "
    "every bin's [min,max] inside its half-open edge interval, and bin "
    "counts summing to the user count.",
)
def a26_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = _rfm_users(spark, sf_dir).persist()
    cachereg.register("plans.a26_rfm", u)
    qs = F.array(F.lit(0.2), F.lit(0.4), F.lit(0.6), F.lit(0.8))
    # MELT to (metric, v) rows, then ONE percentile_approx aggregation
    # keyed by metric and ONE bin/invariant pipeline over the melted
    # rows. The r8 form built three per-metric union branches that each
    # re-evaluated the (unpersisted) edge-sketch subtree — 3 full
    # accuracy-10000 sketch passes where one suffices (r8 verdict #4).
    melted = u.select(
        F.expr(
            "stack(3, 'recency_s', CAST(recency_s AS DOUBLE),"
            " 'frequency', CAST(frequency AS DOUBLE),"
            " 'monetary', monetary) AS (metric, v)"
        )
    )
    edges_m = melted.groupBy("metric").agg(
        F.percentile_approx("v", qs, 10000).alias("edges")
    )
    e, v = F.col("edges"), F.col("v")
    # bin b = 1 + #edges strictly below v  =>  every member satisfies
    # e[b-1] < v <= e[b] (e[0] = -inf, e[5] = +inf): the invariant
    # the oracle pins.
    b = F.lit(1) + F.size(F.filter(e, lambda x: v > x))
    per_bin = (
        melted.join(F.broadcast(edges_m), "metric")
        .select("metric", "v", b.alias("bin"), "edges")
        .groupBy("metric", "bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("v").alias("vmin"),
            F.max("v").alias("vmax"),
            F.first("edges").alias("edges"),
        )
    )
    # try_element_at + the bin>1 guard: bin 1 has no lower edge and
    # bin 5 no upper edge (index 5 on a 4-edge array) — both must be
    # NULL, not an ANSI index error.
    lo = F.when(F.col("bin") > 1, F.try_element_at("edges", F.col("bin") - 1))
    hi = F.try_element_at("edges", F.col("bin"))
    within = F.coalesce(F.col("vmin") > lo, F.lit(True)) & F.coalesce(
        F.col("vmax") <= hi, F.lit(True)
    )
    mono = F.aggregate(
        F.zip_with(
            F.slice("edges", 1, 3),
            F.slice("edges", 2, 3),
            lambda a_, b_: a_ <= b_,
        ),
        F.lit(True),
        lambda acc, x: acc & x,
    )
    out = per_bin.groupBy("metric").agg(
        F.sum("n").cast("long").alias("n_users"),
        F.min("vmin").alias("value_min"),
        F.max("vmax").alias("value_max"),
        F.bool_and(mono).alias("edges_monotone"),
        F.bool_and(within).alias("bins_within_edges"),
    )
    # counts_match: Σ per-bin n must equal the direct user count, via a
    # broadcast join against the unbinned aggregate.
    totals = u.groupBy().agg(F.count(F.lit(1)).cast("long").alias("__direct"))
    return (
        out.crossJoin(F.broadcast(totals))
        .select(
            "metric",
            "n_users",
            "value_min",
            "value_max",
            "edges_monotone",
            "bins_within_edges",
            (F.col("n_users") == F.col("__direct")).alias("counts_match"),
        )
        .orderBy("metric")
    )


@register(
    "a26_rfm_segmentation_exact",
    oracle=f"""
    {_RFM_USERS_SQL}
    SELECT user_id, CAST(recency_s AS BIGINT) AS recency_s, frequency, monetary,
      CAST(NTILE(5) OVER (ORDER BY recency_s ASC, user_id) AS INT) AS r_q,
      CAST(NTILE(5) OVER (ORDER BY frequency DESC, user_id) AS INT) AS f_q,
      CAST(NTILE(5) OVER (ORDER BY monetary DESC, user_id) AS INT) AS m_q
    FROM u
    """,
    description="RFM segmentation, EXACT-ntile parity twin of "
    "a26_rfm_segmentation: quintile scores via three NTILE windows with "
    "full tie-break total orders (metric, user_id — cross-engine-"
    "deterministic tiles, the w9 discipline). The global windows are "
    "single-partition BY CHOICE — the exactness price, affordable while "
    "the ranked set is the user AGGREGATE (|users| << |events|); the "
    "registered default bins against approx_percentile edges instead.",
)
def a26_rfm_segmentation_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    u = _rfm_users(spark, sf_dir)
    return u.select(
        "user_id",
        "recency_s",
        "frequency",
        "monetary",
        F.ntile(5).over(Window.orderBy(F.asc("recency_s"), F.asc("user_id"))).alias("r_q"),
        F.ntile(5).over(Window.orderBy(F.desc("frequency"), F.asc("user_id"))).alias("f_q"),
        F.ntile(5).over(Window.orderBy(F.desc("monetary"), F.asc("user_id"))).alias("m_q"),
    )
