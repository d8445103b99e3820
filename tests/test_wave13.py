"""Wave-13 contracts: the keep-best-quality line-dedup policy and the
streaming first-seen line dedup's batching invariance."""

from __future__ import annotations

from pyspark.sql import functions as F

from accident_prediction_montreal_spark.plans import REGISTRY

SF = "/root/testdata/sf0.001"


def test_best_policy_diverges_from_first_on_planted_dups(spark):
    # the fixture has real duplicated lines; wherever the best-quality
    # doc differs from the first doc the kept-position checksum must
    # diverge — and keep-first/keep-best agree on kept COUNTS (the
    # same line partition has exactly one survivor either way)
    first = {
        r["source"]: r
        for r in REGISTRY["llm_line_dedup"].fn(spark, SF).collect()
    }
    best = {
        r["source"]: r
        for r in REGISTRY["llm_line_dedup_best"].fn(spark, SF).collect()
    }
    assert set(first) == set(best)
    # per-source n_kept legitimately SHIFTS with the policy (the
    # survivor's source changes); the per-line totals are invariant:
    # same line partitions, one survivor each
    for s in first:
        assert first[s]["n_lines"] == best[s]["n_lines"]
    assert sum(r["n_kept"] for r in first.values()) == sum(
        r["n_kept"] for r in best.values()
    )
    assert any(
        first[s]["kept_pos_chk"] != best[s]["kept_pos_chk"] for s in first
    ), "policies never diverged — fixture has no cross-quality duplicates"


def test_best_policy_kept_quality_dominates_first(spark):
    # keep-best must select per-line doc_toks >= keep-first's choice,
    # so the summed kept quality dominates per source
    best = {
        r["source"]: r["kept_doc_toks"]
        for r in REGISTRY["llm_line_dedup_best"].fn(spark, SF).collect()
    }
    # recompute keep-first's kept doc_toks (not part of its report)
    from accident_prediction_montreal_spark.plans.dedup import (
        doc_line_frames,
    )
    from accident_prediction_montreal_spark.sources.registry import load_table

    docs = load_table(spark, "documents", SF).select(
        "doc_id", "source", "text"
    )
    _, _, lines = doc_line_frames(docs)
    first_q = {
        r["source"]: r["q"]
        for r in lines.groupBy("line")
        .agg(
            F.min(
                F.struct("doc_id", "pos", "source", "doc_toks")
            ).alias("keep")
        )
        .groupBy(F.col("keep.source").alias("source"))
        .agg(F.sum("keep.doc_toks").alias("q"))
        .collect()
    }
    # aggregate over ALL sources: keep-best's total kept quality must
    # strictly exceed keep-first's on this fixture (per-source can tie)
    assert sum(best.values()) > sum(first_q.values())


def test_stream_line_dedup_batching_invariance(spark):
    # the registered two-batch delivery and a merged single-batch
    # delivery must emit identical survivor reports (the fold is
    # (rev, doc_id, pos)-ordered inside each shard)
    from accident_prediction_montreal_spark.plans.dedup import (
        _st_line_dedup_impl,
    )

    two = sorted(
        tuple(r) for r in _st_line_dedup_impl(spark, SF, 1).collect()
    )
    merged = sorted(
        tuple(r) for r in _st_line_dedup_impl(spark, SF, None).collect()
    )
    assert two == merged and len(two) > 0


def test_line_dedup_best_plan_shape(spark):
    # same skew-immune pins as llm_line_dedup: aggregate form, no
    # window, map-side partial_min, one explode, unexploded totals
    from tests.test_plan_shapes import plan_of

    plan = plan_of(spark, "llm_line_dedup_best")
    assert "Window" not in plan
    assert "partial_min" in plan
    assert plan.count("Scan parquet") == 2
    assert plan.count("Generate posexplode") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cluster_safe_split_never_straddles_but_naive_does(spark):
    # structural guarantee: split is a function of the cluster key, so
    # no component straddles splits; the NAIVE per-doc split must
    # straddle at least one fixture cluster (else this test is vacuous
    # and n_rescued could never be nonzero)
    from accident_prediction_montreal_spark.operators.components import (
        connected_components,
    )
    from accident_prediction_montreal_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from accident_prediction_montreal_spark.operators.mixing import (
        SALT_SPLIT,
        hash_split,
        lcg_uniform,
    )
    from accident_prediction_montreal_spark.sources.registry import load_table

    docs = load_table(spark, "documents", SF).select("doc_id", "text")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, min_jaccard=0.05, max_doc_freq=4
    )
    comp = connected_components(pairs, src="id_a", dst="id_b")
    keyed = (
        docs.select("doc_id")
        .join(
            comp.select(
                F.col("node").alias("doc_id"),
                F.col("component").alias("component_id"),
            ),
            "doc_id",
            "left",
        )
        .withColumn("skey", F.coalesce("component_id", "doc_id"))
    )
    assigned = hash_split(
        keyed, "skey", weights=(0.75, 0.125, 0.125)
    ).withColumn(
        "naive",
        F.when(lcg_uniform("doc_id", salt=SALT_SPLIT) < 0.75, "train")
        .when(lcg_uniform("doc_id", salt=SALT_SPLIT) < 0.875, "val")
        .otherwise("test"),
    )
    clustered = assigned.filter(F.col("component_id").isNotNull())
    per_comp = (
        clustered.groupBy("component_id")
        .agg(
            F.countDistinct("split").alias("n_safe"),
            F.countDistinct("naive").alias("n_naive"),
        )
        .collect()
    )
    assert len(per_comp) > 0, "fixture has no near-dup clusters"
    assert all(r["n_safe"] == 1 for r in per_comp)
    assert any(r["n_naive"] > 1 for r in per_comp), (
        "naive split never straddled — fixture cannot distinguish the "
        "policies"
    )


def test_longest_common_run_plan_shape(spark):
    # never all-pairs: pair generation is the nested-HOF postings form
    # (no self-join, no cartesian); the single Window runs over MATCHED
    # PAIRS (partitioned by pair+diagonal), never the corpus
    from tests.test_plan_shapes import plan_of

    plan = plan_of(spark, "dedup_longest_common_run")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Window") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the window's partition key is (id_a, id_b, pos_a - pos_b) — the
    # pair + diagonal, inlined by Catalyst — not a corpus column
    head = plan.split("Window")[1][:400]
    assert "id_a" in head and "(pos_a" in head and "pos_b" in head


def test_longest_common_run_finds_planted_and_skips_short(spark, tmp_path):
    # a 12-token verbatim overlap between two docs is found with the
    # exact run length; 2-token and empty docs produce no spans and no
    # ANSI slice error (the sequence(0, size-k) descending-range guard)
    import pyspark.sql.functions as SF

    rows = [
        (1, "a b"),
        (2, ""),
        (3, "one two three four five six seven eight nine ten eleven twelve"),
        (4, "one two three four five six seven eight nine ten eleven twelve"),
    ]
    d = str(tmp_path)
    (
        spark.createDataFrame(rows, ["doc_id", "text"])
        .withColumn("lang", SF.lit("en"))
        .withColumn("source", SF.lit("s"))
        .withColumn("n_chars", SF.length("text").cast("long"))
        .write.mode("overwrite")
        .parquet(d + "/documents.parquet")
    )
    got = {
        (r["id_a"], r["id_b"]): r["max_run_tokens"]
        for r in REGISTRY["dedup_longest_common_run"].fn(spark, d).collect()
    }
    assert got == {(3, 4): 12}


def test_orc_roundtrip_scan_pushdown(spark):
    # the read-back side must be a native ORC scan with the shipdate
    # predicate pushed to the stripe statistics, and only the five
    # written columns in the read schema
    from tests.test_plan_shapes import plan_of

    plan = plan_of(spark, "x26_orc_roundtrip")
    assert plan.count("Scan orc") == 1
    scan = plan[plan.index("Scan orc"):]
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in scan
    assert "l_extendedprice" not in scan  # column pruning holds


def test_cluster_safe_split_plan_shape(spark):
    # the corpus side must never cartesian or drop to Python; the
    # component table joins back as a hash join (AQE broadcasts the
    # small side at scale), and the split is pure column arithmetic
    from tests.test_plan_shapes import plan_of

    plan = plan_of(spark, "llm_cluster_safe_split")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_line_dedup_incremental_matches_stream_rev2(spark):
    # batch incremental == stream state fold: the delta's admissions
    # must equal the streaming twin's rev-2 rows exactly
    inc = sorted(
        tuple(r)
        for r in REGISTRY["llm_line_dedup_incremental"].fn(spark, SF).collect()
    )
    stream_rev2 = sorted(
        (r["source"], r["n_kept"], r["kept_chars"], r["kept_pos_chk"])
        for r in REGISTRY["st_line_dedup_stream"].fn(spark, SF).collect()
        if r["rev"] == 2
    )
    assert inc == stream_rev2 and len(inc) > 0


def test_line_dedup_incremental_plan_shape(spark):
    # delta collapses to one candidate per line BEFORE the state
    # anti-join (partial_min feeds the join), no window, no python
    from tests.test_plan_shapes import plan_of

    plan = plan_of(spark, "llm_line_dedup_incremental")
    assert "Window" not in plan
    assert "partial_min" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
