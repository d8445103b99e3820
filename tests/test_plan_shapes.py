"""Physical-plan regression guards: the scale properties PERF.md claims
(pushdown, broadcast placement, bounded exchanges) asserted against the
actual executed plans so a refactor can't silently regress them."""

from __future__ import annotations

import re

import pytest

from accident_prediction_montreal_spark.plans import REGISTRY

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    # default metadata truncation (100 chars) cuts PushedFilters mid-list
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    return REGISTRY[name].fn(spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_scan_pushdown(spark):
    plan = plan_of(spark, "s1_scan_project_filter")
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan).group(1)
    assert "LessThan(l_shipdate" in pushed and "GreaterThan(l_quantity" in pushed
    schema = re.search(r"ReadSchema: ([^\n]*)", plan).group(1)
    assert "l_returnflag" not in schema  # column pruning holds


def test_dim_joins_broadcast(spark):
    plan = plan_of(spark, "j1_join_chain_revenue")
    assert plan.count("BroadcastHashJoin") >= 2  # nation + region at minimum
    assert "SortMergeJoin" not in plan or plan.count("Exchange hashpartitioning") <= 2


def test_knn_grid_is_equi_join(spark):
    plan = plan_of(spark, "j8_knn_join_grid")
    assert "CartesianProduct" not in plan  # the whole point of the grid path
    assert "BroadcastNestedLoopJoin" not in plan


def test_idw_broadcasts_stations(spark):
    plan = plan_of(spark, "a6_idw_interpolation")
    # stations side broadcast: corpus is never shuffled pre-aggregation
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_anti_join_no_extra_exchange(spark):
    plan = plan_of(spark, "j4_semi_anti")
    assert "LeftAnti" in plan
    assert "LeftSemi" in plan


def test_ewma_single_shuffle(spark):
    plan = plan_of(spark, "w4_ewma")
    assert plan.count("Exchange hashpartitioning") == 1  # one window partition


def minhash_pairs_plan(spark) -> str:
    # The registry's dedup_minhash_pairs is now an invariants CONTRACT
    # (left_anti checks against planted duplicates are joins by design),
    # so the single-scan/no-join guarantee is asserted on the raw
    # operator the contract wraps.
    from accident_prediction_montreal_spark.operators.dedup import (
        minhash_dedup_pairs,
    )
    from accident_prediction_montreal_spark.sources.registry import load_table

    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    docs = load_table(spark, "documents", SF).select("doc_id", "text")
    pairs = minhash_dedup_pairs(
        docs, "doc_id", "text", num_hashes=32, bands=8, shingle_n=3,
        min_est_jaccard=0.5,
    )
    return pairs._jdf.queryExecution().executedPlan().toString()


def test_minhash_no_string_shingles(spark):
    plan = minhash_pairs_plan(spark)
    assert "concat_ws" not in plan  # numeric shingles only


def test_salted_join_single_aggregation_exchange(spark):
    plan = plan_of(spark, "j_salted_skew_join")
    # the dim replication + (key, salt) join must not add exchanges: the
    # only shuffle is the final groupBy
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "BroadcastHashJoin" in plan


def test_tpch_q5_broadcast_cycle(spark):
    plan = plan_of(spark, "tpch_q5_local_supplier_volume")
    # nation/region (and supplier at this scale) broadcast; one agg shuffle
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("Exchange hashpartitioning") <= 2


def test_merged_windows_single_shuffle(spark):
    # rank+row_number over one sort, prefix+suffix frames over one sort:
    # the second window function must ride the existing partitioning
    for name in ("w_topk_rank_rownum", "w5_running_sums"):
        plan = plan_of(spark, name)
        assert plan.count("Exchange hashpartitioning") == 1, name


def test_threshold_sweep_no_extra_scan(spark):
    # one scan of orders; the accuracy denominator must not add a branch
    plan = plan_of(spark, "m8_threshold_sweep")
    assert plan.count("Scan parquet") + plan.count("FileScan") <= 2  # orders + grid range


def test_jaccard_runs_shingle_map_once(spark):
    # The tokenize/hash/explode map stage must appear exactly once: the
    # old inverted-index SELF-JOIN re-evaluated it per join side (AQE
    # broadcast defeats exchange reuse). One scan, one posting explode.
    plan = plan_of(spark, "dedup_ngram_jaccard")
    assert plan.count("Scan parquet") == 1
    assert plan.count("Generate explode(element_at(transform(array(transform") == 1


def test_minhash_pairs_single_scan_no_join(spark):
    # collect_list-per-bucket pair generation: no join operator at all,
    # and the shingle explode feeding signatures appears exactly once.
    plan = minhash_pairs_plan(spark)
    assert plan.count("Scan parquet") == 1
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert join not in plan


def test_sequence_pack_single_shard_window(spark):
    plan = plan_of(spark, "text_sequence_pack")
    assert plan.count("Scan parquet") == 1
    assert plan.count("Window") == 1


def test_ntz_date_predicates_push_to_scan(spark):
    """Event-time columns are TIMESTAMP_NTZ precisely so date predicates
    keep reaching the parquet scan (any load-time conversion expression
    would strip them from PushedFilters — measured in r4); q3 carries one
    date filter per side, so both scans must show them."""
    plan = plan_of(spark, "tpch_q3_shipping_priority")
    pushed = " ".join(re.findall(r"PushedFilters: \[[^\]]*\]", plan))
    assert "LessThan(o_orderdate" in pushed
    assert "GreaterThan(l_shipdate" in pushed
    # and the scan type is the naive passthrough, not a converted column
    assert "o_orderdate:timestamp_ntz" in plan.replace(" ", "")


def test_q21_semi_anti_pair(spark):
    # EXISTS -> LeftSemi, NOT EXISTS -> LeftAnti, both against the narrow
    # lineitem projection; supplier dim broadcasts.
    plan = plan_of(spark, "tpch_q21_waiting_supplier")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan
    # the fact projection shuffled by the self-joins is narrow: no
    # lineitem money columns may appear in the read schema
    schema = re.findall(r"ReadSchema: ([^\n]*)", plan)
    assert not any("l_extendedprice" in s for s in schema)


def test_q2_region_filter_below_bridge_aggregate(spark):
    # The EUROPE slice must reach the lineitem side BEFORE the
    # per-(part,supplier) aggregate (broadcast), not after it.
    plan = plan_of(spark, "tpch_q2_min_cost_supplier")
    assert "BroadcastHashJoin" in plan
    # two-phase min aggregates for the bridge + per-part min
    assert plan.count("partial_min") >= 2


def test_q17_threshold_join_shares_partkey_key(spark):
    # correlated-AVG decorrelation: per-part aggregate joined back on
    # l_partkey — no cross join, and the brand dim broadcasts.
    plan = plan_of(spark, "tpch_q17_small_quantity_revenue")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_temperature_sample_broadcasts_rates(spark):
    from accident_prediction_montreal_spark.operators.mixing import (
        temperature_sample,
    )
    from pyspark.sql import functions as F

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("source"),
    )
    plan = (
        temperature_sample(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan  # corpus side never shuffles


def test_range_join_is_hash_equi_join(spark):
    # The whole point of the bucketed range join: a HASH join on the
    # cell id (AQE-sizable), never a nested-loop over all intervals.
    plan = plan_of(spark, "j10_range_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan  # broadcast or shuffled, either is fine


def test_bucketed_join_no_shuffle_exchange(spark):
    # Matching bucketBy(8, key) specs + merge hint: the sort-merge join
    # must run with ZERO shuffle exchanges (bucket layout IS the
    # partitioning) — the co-located-join property the query exists for.
    plan = plan_of(spark, "x11_bucketed_join")
    assert "SortMergeJoin" in plan
    # the final groupBy aggregates shuffle once; the JOIN inputs may not
    join_part = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange hashpartitioning" not in join_part


def test_editdist_candidates_are_hash_equi_join(spark):
    # SymSpell neighborhood: candidates from an equi-join on the variant
    # hash — never an all-pairs comparison.
    plan = plan_of(spark, "dedup_editdist")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_scd2_asof_has_no_nested_loop(spark):
    # The as-of strategy is a union+window, not a range join: no
    # nested-loop over the version intervals anywhere in the plan.
    plan = plan_of(spark, "j13_scd2_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan  # the as-of carry


def test_gap_fill_is_one_sort_per_key(spark):
    plan = plan_of(spark, "w8_gap_fill_lvcf")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan  # the IGNORE-NULLS carry


def test_python_datasource_prunes_partitions(spark):
    # The isin(1,3,5) predicate pushes into the Python source: the only
    # residual per-row Filter work on station_id is the null check.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    plan = plan_of(spark, "s12_python_datasource")
    assert "BatchScan weatherfix" in plan
    m = re.search(r"Filter ([^\n]*)", plan)
    residual = m.group(1) if m else ""
    assert "IN (1,3,5)" not in residual.replace(" ", ""), residual


def test_cdc_merge_no_window(spark):
    # Last-writer-wins is a max_by AGGREGATE (map-side combinable), not
    # a row_number window: no Window, no sort of a key's history.
    plan = plan_of(spark, "x18_cdc_merge")
    assert "Window" not in plan
    assert "max_by" in plan or "MaxBy" in plan


def test_bloom_semi_join_broadcasts_bitmap(spark):
    # The bitmap tests and the final exact semi-join are broadcast hash
    # joins; the probe (lineitem) side never shuffles.
    plan = plan_of(spark, "j14_bloom_semi_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4  # 3 bit-tests + exact semi


def test_point_in_polygon_no_all_pairs(spark):
    # Points meet polygons only via the broadcast cell grid: hash joins
    # everywhere, never a nested loop over all (point, polygon) pairs.
    plan = plan_of(spark, "j15_point_in_polygon")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_heavy_hitters_tail_never_shuffles_unfiltered(spark):
    # The only groupBy over data happens AFTER the broadcast candidate
    # semi-join: every hash aggregate keyed on hh_key sits above the
    # bloom... broadcast join, so the long tail is filtered before any
    # exchange on hh_key.
    plan = plan_of(spark, "a17_heavy_hitters")
    assert "MapInPandas" in plan  # the per-partition Misra-Gries pass
    # the data-sized aggregate consumes the broadcast candidate
    # semi-join DIRECTLY — the unfiltered tail never reaches a shuffle
    assert re.search(
        r"HashAggregate\(keys=\[hh_key#\d+L?\], functions=\[partial_count"
        r"[^\n]*\n\s*\+- BroadcastHashJoin",
        plan,
    ), plan


def test_skyline_no_cartesian(spark):
    # Local prune is mapInPandas; the global sweep joins back via a
    # broadcast of the (tiny) skyline price set — never an all-pairs
    # dominance join.
    plan = plan_of(spark, "a18_skyline_pareto")
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan
    assert "BroadcastHashJoin" in plan


def test_pagerank_joins_are_hash_or_broadcast(spark):
    # Only 1-row count frames ride nested-loop broadcasts (crossJoin of
    # the node-count scalar); the edge/rank joins are hash joins.
    plan = plan_of(spark, "g1_pagerank_trade")
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan


def test_er_capstone_no_all_pairs(spark):
    # Both matchers are bucketed equi-joins (shingle hash / deletion-
    # variant hash); clustering is star rounds; golden join broadcasts.
    plan = plan_of(spark, "er_golden_records")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_attribution_is_one_window_no_self_join(spark):
    plan = plan_of(spark, "a20_attribution_last_touch")
    assert "Join" not in plan  # carry via window, not purchasesxtouches
    assert "Window" in plan


def test_transitions_one_window_one_agg(spark):
    plan = plan_of(spark, "a19_event_transitions")
    assert "Join" not in plan
    # lead() per user + prob window over the 25-row aggregate
    assert plan.count("Window") >= 2


def test_weighted_sample_single_data_shuffle(spark):
    # keys computed map-side, combiner prunes BEFORE the only shuffle
    plan = plan_of(spark, "a22_weighted_sample")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "MapInPandas" in plan
    # the combiner must sit UPSTREAM of the exchange (prune-then-shuffle)
    assert plan.index("MapInPandas") > plan.index("Exchange hashpartitioning")


def test_global_index_range_exchange_reused(spark):
    # the counts branch must reuse the range shuffle at runtime (AQE
    # stage reuse), so the data is range-shuffled exactly once
    df = REGISTRY["x23_global_index"].fn(spark, SF)
    qe = df._jdf.queryExecution()
    df.collect()
    final = qe.executedPlan().toString()
    assert final.count("Exchange rangepartitioning") >= 1
    assert "ReusedExchange" in final
    # no data-sized single-partition sort anywhere
    assert "rangepartitioning(ts" in final


def test_ohlc_single_aggregate_no_window(spark):
    plan = plan_of(spark, "a24_ohlc_bars")
    assert "Window" not in plan  # struct min/max replaces rank windows
    assert plan.count("Exchange hashpartitioning") == 1


def test_twa_window_and_agg_share_partitioning(spark):
    plan = plan_of(spark, "a23_time_weighted_avg")
    assert plan.count("Exchange hashpartitioning") == 1


def test_lateral_decorrelates_to_group_limit(spark):
    plan = plan_of(spark, "sql_lateral_topk")
    assert "WindowGroupLimit" in plan  # map-side top-k before the shuffle
    assert "CartesianProduct" not in plan


def test_triangle_wedges_are_equi_joins(spark):
    plan = plan_of(spark, "g2_triangle_count")
    assert "CartesianProduct" not in plan
    # the only nested-loop joins are the three 1-row aggregate
    # combiners at the top (sanctioned scalar broadcasts); the wedge
    # self-join and the closing semi-join must be hash equi-joins
    assert plan.count("BroadcastNestedLoopJoin") <= 3
    assert "LeftSemi" in plan  # closing join is a real semi-join
    from accident_prediction_montreal_spark import cachereg

    cachereg.release("operators.graph.triangles")


def test_array_hof_no_explode_no_python(spark):
    plan = plan_of(spark, "f_array_hof")
    assert "Generate" not in plan  # no explode — lambdas stay in-row
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan  # narrow: scan -> project, zero shuffles


# --- r7 wave-5 guards ---------------------------------------------------------

def test_ppjoin_no_all_pairs(spark):
    plan = plan_of(spark, "dedup_ppjoin")
    # prefix-bucket pairing + hash-join verification: never a cartesian
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_market_basket_pair_join_is_keyed(spark):
    plan = plan_of(spark, "a27_market_basket")
    assert "CartesianProduct" not in plan
    # totals + order count ride broadcasts onto the filtered pair set;
    # the only nested-loop join is the 1-row order-count broadcast
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "BroadcastHashJoin" in plan


def test_bm25_is_map_plus_scalar_broadcast(spark):
    plan = plan_of(spark, "text_bm25")
    # per-doc tf/dl are in-row lambdas; corpus stats join as a 1-row
    # broadcast; no Python anywhere. The ONLY Generate is the inline()
    # project-collapse barrier that makes the tokenizer run once — the
    # token arrays themselves are never exploded into rows.
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    # the persisted tf table serves both branches; the single Generate
    # inside its cached plan is the inline barrier, not a row explode
    assert "explode" not in plan
    assert "InMemoryTableScan" in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    from accident_prediction_montreal_spark import cachereg

    cachereg.release("plans.text.bm25")


def test_seasonal_baseline_is_broadcast_back(spark):
    plan = plan_of(spark, "a28_seasonal_anomaly")
    # the 168-row baseline joins broadcast — the raw events are never
    # shuffled into the (dow, hr) key space for the enrichment
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_label_propagation_rounds_are_hash_joins(spark):
    plan = plan_of(spark, "g3_label_propagation")
    assert "CartesianProduct" not in plan
    from accident_prediction_montreal_spark import cachereg

    cachereg.release("plans.graph.labelprop")


def test_robust_zscore_stats_broadcast(spark):
    plan = plan_of(spark, "a29_robust_zscore")
    # per-user median and MAD tables come back as broadcast joins
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_sequence_pattern_single_user_shuffle(spark):
    plan = plan_of(spark, "a31_sequence_pattern")
    # both leads share one user_id window sort; the count-by-user agg
    # reuses that partitioning — one data-sized exchange total
    assert plan.count("Window") == 1
    assert plan.count("Exchange hashpartitioning") == 1


# --- r7 wave-6 guards ---------------------------------------------------------

def test_bfs_rounds_are_hash_joins(spark):
    plan = plan_of(spark, "g4_bfs_khop")
    assert "CartesianProduct" not in plan
    # nested-loop joins may appear once per lineage replay of the dist
    # subtree, but every one must be the 1-row seed Cross broadcast —
    # never a data-sized Inner BNLJ
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line
    from accident_prediction_montreal_spark import cachereg

    cachereg.release("plans.graph.bfs")


def test_autocorr_window_runs_on_reduced_series(spark):
    plan = plan_of(spark, "a30_autocorr")
    # one data-sized shuffle (the hourly aggregate); the global-order
    # window's SinglePartition exchange only ever sees one row per hour
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" in plan
    assert "BatchEvalPython" not in plan


def test_gains_table_no_global_sort_of_rows(spark):
    plan = plan_of(spark, "m16_gains_table")
    # one data-sized shuffle (the band aggregate); the cumulative
    # windows run single-partition over the 10-row band table — the
    # ntile formulation would range-sort every scored row instead
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" in plan
    assert "Exchange rangepartitioning" not in plan.split("Exchange SinglePartition")[-1]


def test_rolling_median_single_user_shuffle(spark):
    plan = plan_of(spark, "w10_rolling_median")
    assert plan.count("Window") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_time_travel_snapshot_scans_are_parquet(spark):
    plan = plan_of(spark, "x25_time_travel")
    # both versions resolve to real parquet scans (no driver-side rows)
    assert plan.count("Scan parquet") >= 2
    assert "LocalTableScan" not in plan


# --- r7 privacy-family guards -------------------------------------------------

def test_k_anonymity_is_two_aggregates(spark):
    plan = plan_of(spark, "p13_k_anonymity")
    # QI groupBy + constant-size summary; one data-sized shuffle
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_dp_counts_noise_stays_on_group_table(spark):
    plan = plan_of(spark, "p14_dp_counts")
    # the Laplace math runs over the 5-row group table, never row-level
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan


def test_generalization_ladder_single_scan(spark):
    plan = plan_of(spark, "p15_generalization_ladder")
    # one parquet scan: the widths ladder rides an explode, not 3 passes
    assert plan.count("Scan parquet") == 1
    assert "Generate" in plan


def test_privacy_capstone_shares_group_table(spark):
    plan = plan_of(spark, "privacy_release_pipeline")
    # the QI group table is persisted and read by both the ladder and
    # the suppression branch: the events explode must appear once
    assert plan.count("InMemoryTableScan") >= 2
    assert "CartesianProduct" not in plan
    from accident_prediction_montreal_spark import cachereg

    cachereg.release("plans.privacy.capstone")


def test_regex_sequence_single_user_aggregate(spark):
    plan = plan_of(spark, "w11_regex_sequence")
    # ordered string built by one user-keyed aggregate — no window sort
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_bootstrap_is_one_combined_aggregate(spark):
    plan = plan_of(spark, "m17_bootstrap_ci")
    # the B-replicate explode feeds ONE map-side-combined aggregate:
    # the shuffle carries B rows per partition, never the exploded data
    assert plan.count("Generate") == 1
    assert "partial_sum" in plan
    assert "Join" not in plan


def test_funnel_timing_chained_broadcasts(spark):
    plan = plan_of(spark, "a34_funnel_timing")
    # each stage's min-ts table broadcasts back onto the next filter
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_grouped_quantiles_one_shuffle(spark):
    plan = plan_of(spark, "a35_grouped_quantiles")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_cusum_window_runs_on_reduced_series(spark):
    plan = plan_of(spark, "a36_cusum_changepoint")
    # same reduce-then-window contract as autocorr
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" in plan


def test_url_canonicalize_stays_in_codegen(spark):
    plan = plan_of(spark, "llm_url_canonicalize")
    # the canonicalizer is pure regexp/lower column expressions — a UDF
    # sneaking in would show up as a Python eval node
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # (WholeStageCodegen spans only materialize in the finalized AQE
    # plan; the no-Python-eval assertions are the UDF guard.)


def test_blocklist_psl_broadcasts_rules_no_udf(spark):
    plan = plan_of(spark, "llm_blocklist_filter_psl")
    # r13: the registrable-domain step is the broadcast-join chain (one
    # left BroadcastHashJoin per suffix length — beat the literal-array
    # HOF 60x at 9k rules, BENCH_psl_r13.json); rules join broadcast;
    # still no UDF anywhere and nothing non-equi
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # every PSL probe stays a broadcast hash join — the corpus side
    # never shuffles for the registrable-domain computation. r14: rules
    # are bucketed per label count and lengths with NO rules cost
    # nothing, so the join count equals the number of distinct rule
    # lengths in the snapshot, not PSL_MAX_RULE_LABELS.
    from accident_prediction_montreal_spark.functions.url import PSL_SNAPSHOT

    n_bands = len({r.count(".") + 1 for r in PSL_SNAPSHOT})
    # + 1: the blocklist membership probe is itself a broadcast join
    assert plan.count("BroadcastHashJoin") == n_bands + 1


def test_source_quota_gate_skips_at_smoke_scale(spark):
    # 500 docs at sf0.001: should_pretruncate must decline, so the plan
    # is the plain JVM window — NO Arrow combiner stage. (The engaged
    # path's mapInPandas would appear as ArrowEvalPython/MapInPandas.)
    plan = plan_of(spark, "llm_source_quota")
    assert "MapInPandas" not in plan
    assert "ArrowEvalPython" not in plan


def test_index_maintenance_checksum_verify_no_band_join(spark):
    # the delta_equals_rebuild contract row folds each side to ONE
    # (cnt, xor, sum) row — the old symmetric anti-join on the 3-col
    # band index is gone from the executed plan; the only remaining
    # joins are the diff's doc-id semi/anti joins and the 1-row
    # checksum crossJoin (broadcast nested loop over 1 row).
    plan = plan_of(spark, "llm_index_maintenance")
    assert "partial_bit_xor" in plan or "bit_xor" in plan
    import re as _re

    for m in _re.finditer(r"SortMergeJoin \[([^\]]*)\]", plan):
        assert "band_hash" not in m.group(1)


def test_quality_cascade_single_scan_one_shuffle(spark):
    # r13 contract (the r12 form scanned the corpus 8x and shuffled all
    # rows through the dedup window — caught by the r12 verdict): ONE
    # corpus pass, and the only hash-partitioned exchange carries
    # stage-3 survivor digests — the CASE-WHEN-c3 grouping key folds
    # every non-survivor into one NULL-key partial row per task.
    plan = plan_of(spark, "llm_quality_cascade")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan
    # dedup is the min(struct) aggregate, NOT a row_number window (a
    # window would ship every duplicate-hot digest's occurrence list)
    assert "Window" not in plan
    # single corpus pass: one parquet scan per union leg, none extra
    assert plan.count("Scan parquet") == 2
    # exactly one corpus-width exchange, and it is fed by a PARTIAL
    # aggregate (map-side combine) so non-survivors never cross it
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_min" in plan
    # the CASE-gated grouping key is below (before) the exchange
    pre_exchange = plan.split("Exchange hashpartitioning")[1]
    assert "CASE WHEN c3" in pre_exchange


def test_domain_reweight_one_corpus_aggregate(spark):
    # ONE map-side-combined groupBy to |domains| rows; window math after
    plan = plan_of(spark, "llm_domain_reweight")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan  # map-side combine on the corpus pass
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_line_dedup_aggregate_form_no_window(spark):
    # survivor selection is min(struct(...)) under groupBy(line) — the
    # map-side partial aggregation collapses boilerplate-hot lines per
    # partition BEFORE the exchange. A row_number window would ship
    # every hot line's full occurrence list to one reducer.
    plan = plan_of(spark, "llm_line_dedup")
    assert "Window" not in plan
    assert "partial_min" in plan
    # two scans by design — the totals branch reads the UNEXPLODED
    # projection (line counts derive from token counts), so the explode
    # runs exactly once
    assert plan.count("Scan parquet") == 2
    assert plan.count("Generate posexplode") == 1
