"""Wave-12 queries (r12): PSL-aware blocklist gating, the bucketed-IVF
recall gate, the quality cascade and domain reweighting.

Round-12 is a consolidation round (checksum verify stages, skew-lever
gating, window rotation); the new surface: the r11 verdict's stretch
ask — blocklist apex semantics via a public-suffix snapshot, the
distinction a real C4/CCNet domain gate draws between REGISTRABLE
domains (can block their whole subtree) and PUBLIC suffixes (cannot
block anything: everything under .org belongs to different owners) —
plus the approximate-regime recall gate for the bucketed IVF, the
quality-filter attrition cascade (the funnel report every curation
pipeline publishes), and a DoReMi-style domain-reweighting step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from accident_prediction_montreal_spark.functions.url import (
    PSL_SNAPSHOT,
    registrable_domain_join,
    registrable_domain_sql,
)
from accident_prediction_montreal_spark.plans.registry import checks, register
from accident_prediction_montreal_spark.sources.registry import load_table

#: fixture rules: apex / exact-subdomain / registrable-suffix rules that
#: MUST block, and public-suffix rules that MUST be inert.
_PSL_RULES = [
    "d3.example.com",        # apex: blocks its cdn. subtree too
    "cdn.d11.example.com",   # deeper than registrable: that host only
    "example.org",           # registrable: blocks every d*.example.org
    "org",                   # PUBLIC SUFFIX -> inert (the PSL point)
    "github.io",             # PSL private-section entry -> inert
    "u7.github.io",          # registrable one label below github.io
    "co.uk",                 # two-label public suffix -> inert
    "example.co.uk",         # registrable under co.uk: blocks subtree
]


def _psl_hosts_sql() -> str:
    return """
      SELECT doc_id,
        CASE CAST(doc_id % 5 AS INT)
          WHEN 0 THEN 'd' || CAST(doc_id % 20 AS VARCHAR) || '.example.com'
          WHEN 1 THEN 'cdn.d' || CAST(doc_id % 20 AS VARCHAR) || '.example.com'
          WHEN 2 THEN 'd' || CAST(doc_id % 20 AS VARCHAR) || '.example.org'
          WHEN 3 THEN 'u' || CAST(doc_id % 20 AS VARCHAR) || '.github.io'
          ELSE 'd' || CAST(doc_id % 20 AS VARCHAR) || '.example.co.uk'
        END AS host
      FROM documents
    """


def _blocklist_psl_oracle() -> str:
    rules = ", ".join(f"('{r}')" for r in _PSL_RULES)
    reg = registrable_domain_sql("host")
    return f"""
    WITH hosts AS ({_psl_hosts_sql()}),
    reghosts AS (
      SELECT doc_id, host, {reg} AS reg FROM hosts
    ),
    sufs AS (
      SELECT doc_id, unnest(list_transform(
        range(len(string_split(reg, '.')), len(string_split(host, '.')) + 1),
        L -> array_to_string(
          string_split(host, '.')[len(string_split(host, '.')) - L + 1:],
          '.'))) AS suf
      FROM reghosts WHERE reg IS NOT NULL
    ),
    blocklist AS (SELECT * FROM (VALUES {rules}) b(rule)),
    blocked AS (
      SELECT DISTINCT doc_id FROM sufs JOIN blocklist ON suf = rule
    ),
    labeled AS (
      SELECT h.doc_id, h.host,
        CASE WHEN b.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_blocked
      FROM hosts h LEFT JOIN blocked b ON h.doc_id = b.doc_id
    )
    SELECT host,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(is_blocked) AS BIGINT) AS n_blocked,
      CAST(SUM(CASE WHEN is_blocked = 0 THEN doc_id ELSE 0 END) AS BIGINT)
        AS kept_id_sum
    FROM labeled GROUP BY host ORDER BY host
    """


@register(
    "llm_blocklist_filter_psl",
    oracle=None,  # set below (composed SQL)
    description="PSL-AWARE BLOCKLIST FILTERING — llm_blocklist_filter's "
    "suffix semantics refined to what a real C4/CCNet gate enforces: a "
    "rule blocks a host only if the rule is AT OR BELOW the host's "
    "REGISTRABLE domain (functions/url.registrable_domain — eTLD+1 "
    "against an offline public-suffix snapshot), so 'example.org' "
    "blocks its whole subtree while bare 'org', 'co.uk' or the PSL "
    "private entry 'github.io' block NOTHING (each label under them "
    "belongs to a different owner). Plan (r13: measured against a "
    "full-size ~9k-rule snapshot, BENCH_psl_r13.json): the "
    "registrable-domain step is functions/url.registrable_domain_join "
    "— one BROADCAST left hash join per suffix length (<= 6), O(labels) "
    "hash probes per host, map-side only, no shuffle — which beat the "
    "literal-array HOF scan 60x at 9k rules (the HOF's array_contains "
    "is O(|PSL|) per suffix; it remains the property-tested semantic "
    "reference form). The host's suffix chain is then TRUNCATED at the "
    "registrable domain (public-suffix rules are inert by "
    "construction, not by rule-table curation), and the bounded "
    "explode (<= ~4 rows/host) equi-joins the broadcast rule table "
    "with the distinct-semi pattern, exactly the scale shape of the "
    "non-PSL variant. Oracle: the identical PSL longest-match + "
    "truncated chain in DuckDB via the paired "
    "functions/url.registrable_domain_sql builder.",
)
def llm_blocklist_filter_psl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    k = (F.col("doc_id") % 20).cast("string")
    v = (F.col("doc_id") % 5).cast("int")
    host = (
        F.when(v == 0, F.concat(F.lit("d"), k, F.lit(".example.com")))
        .when(v == 1, F.concat(F.lit("cdn.d"), k, F.lit(".example.com")))
        .when(v == 2, F.concat(F.lit("d"), k, F.lit(".example.org")))
        .when(v == 3, F.concat(F.lit("u"), k, F.lit(".github.io")))
        .otherwise(F.concat(F.lit("d"), k, F.lit(".example.co.uk")))
    )
    hosts = docs.select("doc_id", host.alias("host"))
    rules = spark.createDataFrame([(r,) for r in _PSL_RULES], ["rule"])

    reghosts = registrable_domain_join(hosts, "host", "reg", PSL_SNAPSHOT)
    labels = F.split(F.col("host"), "\\.")
    n = F.size(labels)
    reg_len = F.size(F.split(F.col("reg"), "\\."))
    chain = F.when(
        F.col("reg").isNotNull(),
        F.transform(
            F.sequence(reg_len, n),
            lambda length: F.array_join(
                F.slice(labels, n - length + 1, length), "."
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sufs = reghosts.select("doc_id", F.explode(chain).alias("suf"))
    blocked = (
        sufs.join(F.broadcast(rules), sufs["suf"] == rules["rule"], "left_semi")
        .select("doc_id")
        .distinct()
    )
    labeled = hosts.join(
        blocked.withColumn("is_blocked", F.lit(1)), "doc_id", "left"
    ).withColumn("is_blocked", F.coalesce("is_blocked", F.lit(0)))
    return (
        labeled.groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("is_blocked").cast("long").alias("n_blocked"),
            F.sum(
                F.when(F.col("is_blocked") == 0, F.col("doc_id")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("kept_id_sum"),
        )
        .orderBy("host")
    )


from accident_prediction_montreal_spark.plans.registry import (  # noqa: E402
    REGISTRY as _REG,
)
from accident_prediction_montreal_spark.plans.registry import (  # noqa: E402
    QuerySpec as _QS,
)

_REG["llm_blocklist_filter_psl"] = _QS(
    fn=_REG["llm_blocklist_filter_psl"].fn,
    oracle=_blocklist_psl_oracle(),
    description=_REG["llm_blocklist_filter_psl"].description,
)


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
        # The normalized corpus feeds SIX consumers (stride count, the
        # query sample x3, the exact baseline's corpus side, the KMeans
        # fit sample, the assignment scan, the n_c count) — unpersisted,
        # each replayed the scan + per-element normalize (guide §5:
        # cache what is reused and expensive). The stride count below
        # is already an action, so materialization costs nothing extra.
        .persist()
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
    from accident_prediction_montreal_spark import cachereg

    assigned, cents = build_ivf_index(
        emb, n_cells=8, sample_fraction=0.25, max_iter=5
    )
    assigned = assigned.persist()
    cachereg.register("plans.sim_ann_bucketed_recall", assigned, emb)
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


# --- quality-filter attrition cascade ------------------------------------------

_CASCADE_SQL_TOKS = (
    "CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) "
    "ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END"
)


def _cascade_oracle() -> str:
    from accident_prediction_montreal_spark.plans.snapshot_fixture import (
        REID_SHIFT,
    )

    return f"""
    WITH corpus AS (
      SELECT doc_id, text, lang, n_chars FROM documents
      UNION ALL
      SELECT doc_id + {REID_SHIFT}, text, lang, n_chars
      FROM documents WHERE doc_id % 29 = 0
    ),
    flags AS (
      SELECT doc_id, n_chars,
        (lang = 'en') AS c1,
        (lang = 'en' AND n_chars BETWEEN 100 AND 400) AS c2,
        (lang = 'en' AND n_chars BETWEEN 100 AND 400
         AND len({_CASCADE_SQL_TOKS}) >= 20) AS c3,
        md5(text) AS dig
      FROM corpus
    ),
    dedup AS (
      SELECT doc_id, n_chars, c1, c2, c3,
        CASE WHEN c3 THEN ROW_NUMBER() OVER (
          PARTITION BY dig, c3 ORDER BY doc_id) ELSE NULL END AS rnk
      FROM flags
    ),
    stages AS (
      SELECT 1 AS stage, 'lang_en' AS stage_name,
        COUNT(*) AS n_in, SUM(CASE WHEN c1 THEN 1 ELSE 0 END) AS n_out,
        SUM(CASE WHEN c1 THEN n_chars ELSE 0 END) AS chars_out
      FROM dedup
      UNION ALL
      SELECT 2, 'len_100_400',
        SUM(CASE WHEN c1 THEN 1 ELSE 0 END),
        SUM(CASE WHEN c2 THEN 1 ELSE 0 END),
        SUM(CASE WHEN c2 THEN n_chars ELSE 0 END)
      FROM dedup
      UNION ALL
      SELECT 3, 'min_20_tokens',
        SUM(CASE WHEN c2 THEN 1 ELSE 0 END),
        SUM(CASE WHEN c3 THEN 1 ELSE 0 END),
        SUM(CASE WHEN c3 THEN n_chars ELSE 0 END)
      FROM dedup
      UNION ALL
      SELECT 4, 'digest_dedup',
        SUM(CASE WHEN c3 THEN 1 ELSE 0 END),
        SUM(CASE WHEN rnk = 1 THEN 1 ELSE 0 END),
        SUM(CASE WHEN rnk = 1 THEN n_chars ELSE 0 END)
      FROM dedup
    )
    SELECT CAST(stage AS BIGINT) AS stage, stage_name,
      CAST(n_in AS BIGINT) AS n_in, CAST(n_out AS BIGINT) AS n_out,
      CAST(n_in - n_out AS BIGINT) AS n_dropped,
      CAST(chars_out AS BIGINT) AS chars_out
    FROM stages ORDER BY stage
    """


@register(
    "llm_quality_cascade",
    oracle=None,  # set below (composed SQL)
    description="QUALITY-FILTER ATTRITION CASCADE — the funnel report "
    "every curation pipeline publishes (C4/RefinedWeb/FineWeb all "
    "document per-stage attrition): documents flow through language "
    "gate -> length band -> minimum token count -> exact-digest dedup, "
    "and the output is one row per stage with rows-in/rows-out/"
    "dropped/surviving chars. Fixture plants re-submitted duplicates "
    "(every 29th doc re-added under the collision-proof 2^40 re-id, "
    "same bytes) so the dedup stage has real work. Plan shape (r13 "
    "rewrite — the r12 form scanned the corpus 8x and shuffled every "
    "row through the dedup window): ONE pass over the corpus. The "
    "three predicate stages are cumulative boolean columns; every "
    "stage's n_in/n_out/chars sum AND the dedup survivor pick fold "
    "into a single groupBy whose key is CASE WHEN c3 THEN dig END — "
    "all non-survivors collapse MAP-SIDE into one NULL-key partial row "
    "per task, so the only corpus-width exchange carries exactly the "
    "stage-3 survivor digests (plus ~numPartitions NULL rows). The "
    "survivor per digest is min(struct(doc_id, n_chars)) — the same "
    "skew-immune aggregate-over-window choice as llm_line_dedup. A "
    "final global aggregate reduces to one row, unpivoted (explode of "
    "4 structs) into the stage report. Verified by the plan test: 2 "
    "parquet scans (one per union leg), 1 hash-partitioned exchange, "
    "no Window, no Join. Oracle: identical flags + windowed dedup in "
    "DuckDB, tokenizer convention shared with the text family.",
)
def llm_quality_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.text import tokenize
    from accident_prediction_montreal_spark.plans.snapshot_fixture import (
        REID_SHIFT,
    )

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "text", "lang", "n_chars"
    )
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") % 29 == 0).select(
            (F.col("doc_id") + REID_SHIFT).alias("doc_id"),
            "text",
            "lang",
            "n_chars",
        )
    )
    c1 = F.col("lang") == "en"
    c2 = c1 & F.col("n_chars").between(100, 400)
    c3 = c2 & (F.size(tokenize(F.col("text"))) >= 20)
    flags = corpus.select(
        "doc_id",
        "n_chars",
        c1.alias("c1"),
        c2.alias("c2"),
        c3.alias("c3"),
        F.md5("text").alias("dig"),
    )

    def gated_chars(cond) -> F.Column:
        return F.sum(F.when(cond, F.col("n_chars")).otherwise(F.lit(0)))

    # ONE corpus pass. Key = survivor digest or NULL: map-side partial
    # aggregation folds every non-survivor into the single NULL-key row
    # per task, so the exchange carries only stage-3 survivor digests.
    # min(struct(doc_id, n_chars)) picks the first-by-doc_id survivor
    # per digest (equals the oracle's ROW_NUMBER ... ORDER BY doc_id).
    per_key = flags.groupBy(
        F.when(F.col("c3"), F.col("dig")).alias("k")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        # SUM(CASE WHEN c THEN 1 ELSE 0 END), NOT sum(c::long): when the
        # flag is NULL for every row in a group (e.g. lang IS NULL makes
        # c1 NULL), sum-over-casts returns NULL where the oracle returns
        # 0 (the r13 verdict's fuzz repro: a corpus whose every row has
        # NULL lang). when/otherwise(0) can never produce NULL, at either
        # aggregation level.
        F.sum(F.when(F.col("c1"), 1).otherwise(0)).alias("n1"),
        gated_chars(F.col("c1")).alias("ch1"),
        F.sum(F.when(F.col("c2"), 1).otherwise(0)).alias("n2"),
        gated_chars(F.col("c2")).alias("ch2"),
        F.sum(F.when(F.col("c3"), 1).otherwise(0)).alias("n3"),
        gated_chars(F.col("c3")).alias("ch3"),
        F.min(
            F.when(F.col("c3"), F.struct("doc_id", "n_chars"))
        ).alias("first"),
    )
    tot = per_key.agg(
        F.sum("cnt").alias("n0"),
        F.sum("n1").alias("n1"),
        F.sum("ch1").alias("ch1"),
        F.sum("n2").alias("n2"),
        F.sum("ch2").alias("ch2"),
        F.sum("n3").alias("n3"),
        F.sum("ch3").alias("ch3"),
        # non-NULL keys = distinct digests among survivors (stage-4 out)
        F.count("k").alias("n4"),
        # coalesce: with ZERO stage-3 survivors the sum is over all-NULL
        # `first` structs -> NULL, while the oracle's SUM(CASE .. ELSE 0)
        # yields 0 (caught by the r13 generative cross-engine fuzz —
        # the sf fixtures always have survivors, so the driver harness
        # could never see this divergence)
        F.coalesce(F.sum("first.n_chars"), F.lit(0)).alias("ch4"),
    )

    def stage(n: int, name: str, n_in: str, n_out: str, ch: str):
        return F.struct(
            F.lit(n).cast("long").alias("stage"),
            F.lit(name).alias("stage_name"),
            F.col(n_in).cast("long").alias("n_in"),
            F.col(n_out).cast("long").alias("n_out"),
            (F.col(n_in) - F.col(n_out)).cast("long").alias("n_dropped"),
            F.col(ch).cast("long").alias("chars_out"),
        )

    return (
        tot.select(
            F.explode(
                F.array(
                    stage(1, "lang_en", "n0", "n1", "ch1"),
                    stage(2, "len_100_400", "n1", "n2", "ch2"),
                    stage(3, "min_20_tokens", "n2", "n3", "ch3"),
                    stage(4, "digest_dedup", "n3", "n4", "ch4"),
                )
            ).alias("r")
        )
        .select("r.*")
        .orderBy("stage")
    )


_REG["llm_quality_cascade"] = _QS(
    fn=_REG["llm_quality_cascade"].fn,
    oracle=_cascade_oracle(),
    description=_REG["llm_quality_cascade"].description,
)


# --- DoReMi-style domain reweighting -------------------------------------------

_REWEIGHT_ETA = 2.0
_REWEIGHT_CAP = 400  # chars cap for the proxy loss (2500 = 1e6/400 exact)


@register(
    "llm_domain_reweight",
    oracle=f"""
    WITH stats AS (
      SELECT source AS domain,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS units,
        CAST(SUM(1000000 - LEAST(n_chars, {_REWEIGHT_CAP}) * 2500) AS BIGINT)
          AS loss_milli_sum
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(units) AS DOUBLE) AS units_all,
        CAST(SUM(loss_milli_sum) AS DOUBLE) AS loss_all,
        CAST(SUM(n_docs) AS DOUBLE) AS docs_all
      FROM stats
    ),
    upd AS (
      SELECT domain, n_docs, units, loss_milli_sum,
        CAST(units AS DOUBLE) / units_all AS p_share,
        (CAST(loss_milli_sum AS DOUBLE) / n_docs - loss_all / docs_all)
          / 1000000.0 AS excess,
        CAST(ROUND(
          (CAST(units AS DOUBLE) / units_all)
          * GREATEST(0.0, 1.0 + {_REWEIGHT_ETA}
            * ((CAST(loss_milli_sum AS DOUBLE) / n_docs - loss_all / docs_all)
               / 1000000.0)),
          12) AS DECIMAL(20,12)) AS raw_w
      FROM stats CROSS JOIN tot
    ),
    norm AS (SELECT SUM(raw_w) AS w_all FROM upd)
    SELECT domain, n_docs, units,
      ROUND(p_share, 6) + 0.0 AS share,
      ROUND(excess, 6) + 0.0 AS excess,
      ROUND(CAST(raw_w AS DOUBLE) / CAST(w_all AS DOUBLE), 6) + 0.0 AS weight
    FROM upd CROSS JOIN norm ORDER BY domain
    """,
    description="DOMAIN REWEIGHTING STEP (DoReMi-style, one round) — the "
    "data-mixture optimization every multi-domain pretraining recipe "
    "runs: domains whose proxy loss EXCEEDS the corpus mean get "
    "up-weighted, easy domains down-weighted. Update rule is the "
    "LINEAR (first-order) form of the exponentiated-gradient step, "
    "w'_d proportional to share_d * max(0, 1 + eta*excess_d) — chosen "
    "deliberately over exp() because +/*/max are IEEE-identical across "
    "engines while libm exp() is not, so the oracle stays value-exact "
    "(the same determinism discipline as functions/money.py). The "
    "per-doc proxy loss lives in INTEGER milli-units (1e6 - "
    "min(n_chars,400)*2500 — a real run plugs per-doc reference-model "
    "losses into the same column), so every aggregate is an exact "
    "BIGINT sum under any partitioning; doubles appear only in final "
    "per-domain ratios, and the weight normalizer quantizes to "
    "DECIMAL(20,12) before summing (order-independent — the "
    "temperature_mix_rates/epoch_schedule pattern). Plan: ONE "
    "map-side-combined groupBy over the corpus to |domains| rows; "
    "everything after is window math on tens of rows. Scale: at 100 "
    "TB this is the cheapest query in the curation loop — the corpus "
    "pass is a 3-integer-column scan-aggregate.",
)
def llm_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir).select("source", "n_chars")
    loss_milli = F.lit(1_000_000) - F.least(
        F.col("n_chars"), F.lit(_REWEIGHT_CAP)
    ) * F.lit(2500)
    stats = docs.groupBy(F.col("source").alias("domain")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("units"),
        F.sum(loss_milli).cast("long").alias("loss_milli_sum"),
    )
    everything = Window.partitionBy()
    units_all = F.sum("units").over(everything).cast("double")
    loss_all = F.sum("loss_milli_sum").over(everything).cast("double")
    docs_all = F.sum("n_docs").over(everything).cast("double")
    # try_divide: an all-empty corpus has units_all = 0; plain `/` is an
    # ANSI DIVIDE_BY_ZERO error, DuckDB returns NULL (r14 fuzz triage)
    p_share = F.try_divide(F.col("units").cast("double"), units_all)
    excess = (
        F.col("loss_milli_sum").cast("double") / F.col("n_docs") - loss_all / docs_all
    ) / F.lit(1_000_000.0)
    raw_w = F.round(
        p_share
        * F.greatest(F.lit(0.0), F.lit(1.0) + F.lit(_REWEIGHT_ETA) * excess),
        12,
    ).cast("decimal(20,12)")
    upd = stats.select(
        "domain",
        "n_docs",
        "units",
        p_share.alias("p_share"),
        excess.alias("excess"),
        raw_w.alias("raw_w"),
    )
    w_all = F.sum("raw_w").over(everything)
    return upd.select(
        "domain",
        "n_docs",
        "units",
        (F.round("p_share", 6) + 0.0).alias("share"),
        (F.round("excess", 6) + 0.0).alias("excess"),
        (
            F.round(
                F.try_divide(
                    F.col("raw_w").cast("double"), w_all.cast("double")
                ),
                6,
            )
            + 0.0
        ).alias("weight"),
    ).orderBy("domain")


# --- C4-style line-level dedup --------------------------------------------------

_LINE_TOKS = 5  # fixture line-ification: 5-token groups (docs have no newlines)


def doc_line_frames(docs: DataFrame, *extra: str):
    """Shared line-ification (the C4 convention at _LINE_TOKS-token
    granularity, shared tokenizer): returns ``(toks, n_lines_col,
    lines)`` — ``toks`` is one row per non-empty doc with its token
    array ``w``; ``n_lines_col`` computes the per-doc line count from
    ``w`` (so a totals branch never pays the explode); ``lines`` is the
    posexploded (doc_id, source, doc_toks, *extra, pos, line) frame.
    Used by llm_line_dedup (keep-first), llm_line_dedup_best
    (keep-best-quality, wave13) and st_line_dedup_stream (wave13)."""
    from accident_prediction_montreal_spark.operators.text import tokenize

    w = tokenize(F.col("text"))
    toks = docs.select("doc_id", "source", *extra, w.alias("w")).filter(
        F.size("w") > 0
    )
    n_lines_col = F.ceil(F.size("w") / F.lit(float(_LINE_TOKS))).cast("int")
    line_arr = F.transform(
        F.sequence(F.lit(0), n_lines_col - 1),
        lambda i: F.array_join(
            F.slice("w", i * _LINE_TOKS + 1, _LINE_TOKS), " "
        ),
    )
    lines = toks.select(
        "doc_id",
        "source",
        F.size("w").alias("doc_toks"),
        *extra,
        F.posexplode(line_arr).alias("pos", "line"),
    )
    return toks, n_lines_col, lines


@register(
    "llm_line_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
        regexp_split_to_array(trim(lower(text)), '\\s+') AS w
      FROM documents WHERE trim(lower(text)) <> ''
    ),
    lines AS (
      SELECT doc_id, source, i AS pos,
        array_to_string(w[i*{_LINE_TOKS}+1 : i*{_LINE_TOKS}+{_LINE_TOKS}], ' ')
          AS line
      FROM toks,
        unnest(range(0, CAST(ceil(len(w)/{_LINE_TOKS}.0) AS BIGINT))) r(i)
    ),
    kept AS (
      SELECT doc_id, pos, source, length(line) AS chars
      FROM lines
      QUALIFY ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, pos) = 1
    ),
    totals AS (
      SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lines GROUP BY source
    ),
    kstats AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
        CAST(SUM(chars) AS BIGINT) AS kept_chars,
        CAST(SUM(doc_id * (pos + 1)) AS BIGINT) AS kept_pos_chk
      FROM kept GROUP BY source
    )
    SELECT t.source, t.n_docs, t.n_lines, k.n_kept,
      t.n_lines - k.n_kept AS n_removed, k.kept_chars, k.kept_pos_chk
    FROM totals t JOIN kstats k USING (source) ORDER BY t.source
    """,
    description="C4-STYLE LINE-LEVEL DEDUP — the famous corpus-cleaning "
    "rule ('discard all but one occurrence of any line occurring more "
    "than once in the corpus', C4/RefinedWeb): lines are 5-token "
    "groups under the shared tokenizer convention (the synthetic docs "
    "carry no newlines — a real corpus splits on newline), the FIRST "
    "occurrence by (doc_id, position) survives, and the per-source "
    "report pins kept/removed counts plus a position-weighted kept "
    "checksum so a wrong survivor choice hash-mismatches. PLAN — the "
    "aggregate form, deliberately NOT a row_number window: per-line "
    "survivor = min(struct(doc_id, pos, source, chars)) under a "
    "groupBy(line), which gets Catalyst's partial+final hash "
    "aggregation — a boilerplate line occurring 1e8 times at 100 TB "
    "COLLAPSES MAP-SIDE to one candidate per partition before the "
    "exchange, while Window.partitionBy(line) would land every hot "
    "line's full occurrence list on a single reducer (the same "
    "skew-bounding argument as the quota lever, got for free by "
    "choosing the aggregate). Two further map-side-combined "
    "aggregates produce the per-source report; no joins wider than "
    "the |sources|-row report tables.",
)
def llm_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "text"
    )
    toks, n_lines_arr, lines = doc_line_frames(docs)
    per_line = lines.groupBy("line").agg(
        F.min(
            F.struct(
                F.col("doc_id"),
                F.col("pos"),
                F.col("source"),
                F.length("line").alias("chars"),
            )
        ).alias("keep")
    )
    kstats = per_line.groupBy(F.col("keep.source").alias("source")).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("keep.chars").cast("long").alias("kept_chars"),
        F.sum(F.col("keep.doc_id") * (F.col("keep.pos") + 1))
        .cast("long")
        .alias("kept_pos_chk"),
    )
    # Totals come from the UNEXPLODED scan: line counts are derivable
    # per doc (ceil(n_tokens/5)), so this branch never pays the explode
    # — at corpus scale the second pass is a narrow scan-aggregate, and
    # doc_id is unique per toks row so n_docs is a plain count.
    totals = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(n_lines_arr.cast("long")).cast("long").alias("n_lines"),
    )
    return (
        totals.join(kstats, "source")
        .select(
            "source",
            "n_docs",
            "n_lines",
            "n_kept",
            (F.col("n_lines") - F.col("n_kept")).cast("long").alias("n_removed"),
            "kept_chars",
            "kept_pos_chk",
        )
        .orderBy("source")
    )
