"""Benchmark harness: run the headline query set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion with a count-style action (the
plans are lazy; collect() would bill driver transfer, count() bills the
actual computation). A warm-up query first amortizes JVM/codegen start.

Each query is timed as the one plan it registers; nothing here
persists at stage boundaries. Per-stage and per-layer splits come from
the event-log runner, ``python3 perfbench/run.py --workload <w>
--trace 1``, which attributes jobs, stages and task time to the engine
modules that submitted them.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from accident_prediction_montreal_spark import cachereg
from accident_prediction_montreal_spark.plans import REGISTRY
from accident_prediction_montreal_spark.session import get_session

# Headline set: one per operator family, weighted toward the composites
# that define the engine (SURVEY.md §2 + north-star extensions).
HEADLINE = [
    "a1_pricing_summary",
    "a1_group_count_zerofill",
    "j1_join_chain_revenue",
    "j4_semi_anti",
    "j8_knn_join_grid",
    "a6_idw_interpolation",
    "a6_idw_radius",
    "w_topk_rank_rownum",
    "w4_ewma",
    "w5_running_sums",
    "m8_threshold_sweep",
    "m9_count_rate_model",
    "a7_target_encode",
    "dedup_exact",
    "dedup_minhash_pairs",
    "dedup_ngram_jaccard",
    "text_quality_signals",
    "sim_cosine_topk",
    "st_session_window",
    "st_tumbling_window",
    "tpch_q3_shipping_priority",
    "tpch_q10_returned_items",
]

# Reference-parity twins: queries kept for exhaustive reference-semantics
# parity whose cost is structurally quadratic and NOT the scale signal.
# run_headline reports their total separately from the scale-safe total.
PARITY_TWINS = {"a6_idw_interpolation"}

# Operators added after the headline set froze (r5). Timed under the
# same protocol but reported under "extended_queries" with their own
# total, NEVER folded into "value" — the headline total stays
# round-over-round comparable while new surface still gets perf
# evidence. Grows append-only.
EXTENDED = [
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "j10_range_join",
    "a11_cohort_retention",
    "text_vocab_coverage",
    "llm_pretrain_pipeline",
    "apm_dataset_pipeline",
    # appended late r6:
    "dedup_repeated_spans",
    "w7_range_frame",
    "j9_asof_forward",
    # appended r7:
    "st_pipeline_capstone",
    "x12_backfill_evolution",
    "mm_png_decode",
    "j13_scd2_join",
    "m12_oof_target_encode",
    "dedup_editdist",
    "x13_small_files_compaction",
    "x14_incremental_rollup",
    "x15_hll_shard_merge",
    "w8_gap_fill_lvcf",
    "a15_interval_coverage",
    "a16_running_distinct",
    "s12_python_datasource",
    "st_python_stream_source",
    "x16_python_sink_roundtrip",
    "f_variant_json",
    "sql_recursive_cte",
    "x17_table_profile",
    "m14_feature_corr",
    "x18_cdc_merge",
    "x19_dq_expectations",
    "j14_bloom_semi_join",
    "a17_heavy_hitters",
    "j15_point_in_polygon",
    "x20_zorder_layout",
    "er_golden_records",
    "g1_pagerank_trade",
    "st_cdc_upsert_stream",
    "a18_skyline_pareto",
    "a19_event_transitions",
    "a20_attribution_last_touch",
    "a21_approx_topk_invariant",
    "w9_distribution_ranks",
    "st_heavy_hitters_stream",
    "j16_interval_overlap",
    "x21_ann_pruned_layout",
    # appended late r7:
    "g2_triangle_count",
    "x22_dynamic_partition_overwrite",
    "x23_global_index",
    "a22_weighted_sample",
    "mm_audio_frames",
    "st_stream_stream_outer",
    "mm_gif_decode",
    "a23_time_weighted_avg",
    "a24_ohlc_bars",
    "sql_lateral_topk",
    "f_array_hof",
    "a25_session_dynamic_gap",
    "a26_rfm_segmentation",
    # appended wave 5 (r7):
    "dedup_ppjoin",
    "a27_market_basket",
    "text_bm25",
    "m15_psi_drift",
    "a28_seasonal_anomaly",
    "g3_label_propagation",
    "a29_robust_zscore",
    "a31_sequence_pattern",
    # appended wave 6 (r7):
    "g4_bfs_khop",
    "a30_autocorr",
    "m16_gains_table",
    "w10_rolling_median",
    "x25_time_travel",
    # appended privacy family (r7):
    "p13_k_anonymity",
    "p16_l_diversity",
    "p14_dp_counts",
    "p15_generalization_ladder",
    "st_checkpoint_resume",
    "privacy_release_pipeline",
    # appended wave 8 (r7):
    "w11_regex_sequence",
    "m17_bootstrap_ci",
    "a34_funnel_timing",
    "a35_grouped_quantiles",
    "a36_cusum_changepoint",
    # appended wave 9 (r7):
    "sim_kmeans_lloyd",
    "dedup_semantic",
    "llm_epoch_schedule",
    "text_quality_classifier",
    "llm_curation_pipeline",
    "text_lm_perplexity",
    "j9_asof_nearest",
    # appended r8 (exact-ntile parity twins of the new approx defaults):
    "a26_rfm_segmentation_exact",
    "text_quality_deciles_exact",
    # appended wave 10 (r8):
    "s13_jsonl_roundtrip",
    "text_bpe_merges",
    "mm_image_dedup",
    "llm_dataset_card",
    "dedup_incremental",
    "st_incremental_dedup",
    "m18_isotonic_calibration",
    # appended r9 (verdict ask #5: the polar/seam escalation path had
    # sf0.01 correctness greens but no sf1 timing on the artifact):
    "j8_knn_seam_polar",
    # appended late r9 (new queries, the r10 rotate-in set):
    "dedup_containment",
    "text_ngram_novelty",
    "llm_decontaminate_semantic",
    # appended r10:
    "llm_decontaminate_semantic_bucketed",
    "llm_source_quota",
    "llm_corpus_diff",
    "st_source_quota_stream",
    # appended r11:
    "llm_shuffle_shards",
    "llm_index_maintenance",
    "llm_url_canonicalize",
    "llm_embedding_refresh",
    "st_corpus_diff_stream",
    "llm_blocklist_filter",
    "sim_cosine_topk_bucketed",
    # appended r12:
    "llm_blocklist_filter_psl",
    "sim_ann_bucketed_recall",
    "llm_quality_cascade",
    "llm_domain_reweight",
    "llm_line_dedup",
    # appended r13:
    "llm_line_dedup_best",
    "st_line_dedup_stream",
    "llm_cluster_safe_split",
    "dedup_longest_common_run",
    "x26_orc_roundtrip",
    "x27_csv_roundtrip",
    "llm_line_dedup_incremental",
    # appended r14:
    "sim_pq_adc_topk",
    "sim_ivfpq_topk",
]

# Fixed-cost drift canary (r9 verdict #3): the driver's r9 headline read
# +34% vs r8 with UNTOUCHED trivial queries moving uniformly — a
# host-window artifact that took four files to diagnose. These three
# trivial, never-changing queries re-run at the START and END of every
# pass under the same min-of protocol; the artifact then carries both
# readings, so a slow host window is visible (and a genuine regression
# falsifiable) from one artifact alone: canary flat + queries slow =
# regression; canary moved with them = drift.
CANARY = ["w5_running_sums", "a3_group_max", "j4_semi_anti"]

# r14 (r13 verdict ask #3): a FOURTH ratio from a mid-cost query. The
# three start/end canaries are all sub-0.3 s, where scheduler/page-
# cache noise is proportionally largest — the r14 order-counterbalanced
# A/B showed position-in-pair effects alone moving totals 15-20% on a
# turbulent host, more signal than any code delta. a1_pricing_summary
# (~0.4 s, full lineitem scan+agg, averages over ~10x more tasks) is
# already measured in the HEADLINE phase; its ratio reuses that
# reading against a same-position r10 reference — readings taken at
# different points in the process lifetime are NOT comparable (an
# end-position read of a1 is ~2x faster than its headline-position
# read on the same window: JIT + page cache), so each ratio must pair
# same-position measurements. No extra measurement cost.
HEADLINE_CANARY = ["a1_pricing_summary"]

# Canary reference (r12 verdict ask #6): canary_end from the r10 CLEAN
# host window, pinned PER QUERY per scale factor — r10 is the last
# round whose canary readings all three later rounds agreed was
# unelevated. Artifacts additionally report value_norm = value *
# canary_ratio, so round-over-round comparison is one column read
# instead of a per-round drift re-derivation (the r9-r11 verdicts each
# spent space proving "+N% is host drift, not regression"). A sf with
# no pinned reference emits no _norm fields (normalizing against an
# unpinned window would manufacture precision).
CANARY_REF = {
    0.1: {  # BENCH_r10.json: canary_end for the three, headline for a1
        "w5_running_sums": 0.098,
        "a3_group_max": 0.102,
        "j4_semi_anti": 0.204,
        "a1_pricing_summary": 0.359,  # headline-phase (same position)
    },
    1.0: {  # BENCH_sf1_r10.json, same positions
        "w5_running_sums": 0.105,
        "a3_group_max": 0.106,
        "j4_semi_anti": 0.493,
        "a1_pricing_summary": 0.405,  # headline-phase (same position)
    },
}

# Correction clamp (r12 verdict ask #3): a canary_ratio far from 1 means
# the host window is too turbulent for the tiny canaries to calibrate —
# dividing the headline by 0.52 (the r12 builder pass) manufactures a
# 1.9x self-granted discount from three sub-second queries' noise.
# Outside the band the artifact carries raw value + ratio + the
# "turbulent" flag and NO _norm fields; regressions in a turbulent
# window stay judged by the primary rule (did a touched query move
# alone, or did untouched queries move uniformly with the canaries).
NORM_BAND = (0.7, 1.4)


def canary_normalize(out: dict, sf: float) -> None:
    """Add canary_ratios / canary_ratio / *_norm fields in place.

    canary_ratio is the MEDIAN of the three per-query ratios (not the
    ratio of means): one noisy canary cannot steer it, and the artifact
    carries all three individual ratios so a reader can see dispersion.
    """
    ref = CANARY_REF.get(sf)
    # per-query POSITION-MATCHED readings: end-position for the three
    # bracketing canaries, headline-position for the mid-cost one
    obs = dict(out.get("canary_end", {}))
    for n in HEADLINE_CANARY:
        obs[n] = out.get("queries", {}).get(n)
    if not ref or any(not obs.get(n) for n in ref):
        return
    ratios = {n: round(ref[n] / obs[n], 4) for n in ref}
    out["canary_ratios"] = ratios
    ordered = sorted(ratios.values())
    mid = len(ordered) // 2
    # true median (even counts average the middle two — with 4 canaries
    # the old upper-middle pick would bias the ratio up)
    ratio = (
        ordered[mid]
        if len(ordered) % 2
        else (ordered[mid - 1] + ordered[mid]) / 2
    )
    out["canary_ratio"] = round(ratio, 4)
    # r15 (r14 verdict ask #2): the same median under the name the
    # driver's PERF comparison is asked to gate on — a top-level window-
    # quality field readable without knowing the ratio/band mechanics.
    # Duplicates canary_ratio by design (additions-only contract).
    out["canary_median"] = round(ratio, 4)
    if not (NORM_BAND[0] <= ratio <= NORM_BAND[1]):
        out["canary_window"] = "turbulent"
        return
    out["canary_window"] = "normal"
    out["value_norm"] = round(out["value"] * ratio, 3)
    out["scale_safe_total_norm"] = round(out["scale_safe_total"] * ratio, 3)
    out["queries_norm"] = {
        n: round(t * ratio, 3) for n, t in out["queries"].items()
    }


def run_headline(spark, sf_dir: str, runs: int) -> dict:
    """Shared timing protocol for every bench artifact (sf0.1 here,
    sf1 in scripts/bench_sf1.py): one warm-up query (executors/codegen/
    parquet footers), then min over ``runs`` repetitions per query —
    first execution pays one-off plan compilation; steady-state is what
    a resident engine serves and what the 2x-of-baseline gate measures.
    One implementation so the artifacts can never measure different
    protocols."""
    REGISTRY["s1_scan_project_filter"].fn(spark, sf_dir).count()

    def min_of(name: str) -> float:
        best = float("inf")
        for _ in range(runs):
            # Queries that persist internally (minhash contract, the
            # pipeline capstones) would otherwise serve repetitions 2+
            # from cache and the min would measure a cache hit, not the
            # computation; clearing also stops cross-query cache leak
            # from skewing later queries' memory headroom. cachereg
            # drops the registered per-site generations the same way.
            spark.catalog.clearCache()
            cachereg.release_all()
            t0 = time.perf_counter()
            REGISTRY[name].fn(spark, sf_dir).count()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    canary_start = {name: min_of(name) for name in CANARY}
    timings = {name: min_of(name) for name in HEADLINE}
    ext = {name: min_of(name) for name in EXTENDED}
    canary_end = {name: min_of(name) for name in CANARY}
    scale_safe = round(
        sum(t for n, t in timings.items() if n not in PARITY_TWINS), 3
    )
    return {
        "metric": "headline_query_set_wall_time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        # Split totals (r5 verdict #3): the exhaustive reference-semantics
        # IDW twin is structurally Θ(samples × stations) and would dominate
        # the sf1 total; the scale-safe set is the signal a 100-TB plan is
        # graded on, the twin total tracks reference parity separately.
        "scale_safe_total": scale_safe,
        "parity_twin_total": round(
            sum(t for n, t in timings.items() if n in PARITY_TWINS), 3
        ),
        "extended_queries": ext,
        "extended_total": round(sum(ext.values()), 3),
        "canary_start": canary_start,
        "canary_end": canary_end,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_session("bench")
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    out = run_headline(spark, sf_dir, runs)
    out["sf"] = float(sf) if sf.replace(".", "").isdigit() else sf
    if isinstance(out["sf"], float):
        canary_normalize(out, out["sf"])
    # Wall-clock stamp: lets canary readings correlate with host windows
    # across artifacts without cross-referencing file mtimes.
    out["ts"] = round(time.time(), 1)
    # The extended set (~90 queries) made the single stdout line so long
    # the driver's capture truncated it mid-line (BENCH_r07 "parsed":
    # null). stdout now carries ONLY the compact headline object; the
    # extended timings go to a side file next to this script.
    ext = {
        "extended_queries": out.pop("extended_queries"),
        "extended_total": out.pop("extended_total"),
        "sf": out["sf"],
    }
    # canary_start/canary_end stay on stdout: the driver's BENCH_r{N}
    # artifact must carry the drift signal by itself.
    side = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_extended_latest.json"
    )
    with open(side, "w") as f:
        json.dump(ext, f, indent=1)
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
