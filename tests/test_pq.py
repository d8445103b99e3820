"""Product-quantization operator tests (operators/pq.py, r14).

The value-level correctness of sim_pq_adc_topk is owned by the DuckDB
oracle (plans/similarity.py); these tests pin the operator PROPERTIES the
oracle can't see: the seed-identity reconstruction law, the degenerate-
vector contract, partitioning determinism, and the scale shape of the
encode/scan plans.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from accident_prediction_montreal_spark.operators.pq import (
    pq_adc_topk,
    pq_encode,
    train_pq_codebooks,
)

_DIM = 8
_SUB = 4  # m=2 subspaces


def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id LONG, vec ARRAY<DOUBLE>"
    )


def _vec(*head):
    return list(head) + [0.0] * (_DIM - len(head))


def test_seed_identity_adc_zero(spark):
    """With n <= k and n_iter=1, every vector is its own seed centroid,
    so its code reconstructs its subvectors exactly and ADC(v, v) = 0 —
    the PQ analogue of the ANN self-hit contract."""
    rows = [
        (0, _vec(1.0, 2.0, -1.0, 0.5, 3.0)),
        (1, _vec(-2.0, 0.25, 1.0)),
        (2, [0.0] * _DIM),  # zero vector: L2 PQ is defined for it
        (3, _vec(0.5, 0.5, 0.5, 0.5, 0.5, 0.5, 0.5, 0.5)),
    ]
    emb = _emb(spark, rows)
    books = train_pq_codebooks(emb, m=2, k=8, n_iter=1, sub_dim=_SUB)
    codes = pq_encode(emb, books, sub_dim=_SUB)
    got = {r["vec_id"]: (r["code_0"], r["code_1"]) for r in codes.collect()}
    assert got[0] == (0, 0) and got[3] == (3, 3)

    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("query_vec")
    )
    out = pq_adc_topk(queries, codes, books, sub_dim=_SUB, k=1)
    top1 = {r["query_id"]: (r["vec_id"], r["adc_d2"]) for r in out.collect()}
    for qid, (vid, d) in top1.items():
        assert vid == qid, f"query {qid} top-1 is {vid}"
        assert abs(d) < 1e-12


def test_encode_deterministic_across_partitioning(spark):
    rows = [(i, _vec(float(i % 3), float(i % 5) / 2, -1.0)) for i in range(40)]
    emb = _emb(spark, rows)

    def run(parts):
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        books = train_pq_codebooks(
            emb.repartition(int(parts)), m=2, k=4, n_iter=2, sub_dim=_SUB
        )
        codes = pq_encode(emb, books, sub_dim=_SUB)
        return sorted(tuple(r) for r in codes.collect())

    try:
        assert run(7) == run(64)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "32")


def test_sub_dim_mismatch_raises(spark):
    emb = _emb(spark, [(0, _vec(1.0))])
    from accident_prediction_montreal_spark.operators.pq import pq_sub_dim

    with pytest.raises(ValueError, match="not divisible"):
        pq_sub_dim(emb, 3, "vec")


def test_adc_scan_plan_shape(spark):
    """Encode is a zero-shuffle projection over broadcast packed
    codebooks, and the ADC scan never sort-merge-joins or forms a
    cartesian product — the 100 TB claims of the module docstring."""
    rows = [(i, _vec(float(i), 1.0)) for i in range(30)]
    emb = _emb(spark, rows)
    books = train_pq_codebooks(emb, m=2, k=4, n_iter=2, sub_dim=_SUB)
    codes = pq_encode(emb, books, sub_dim=_SUB)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("query_vec")
    )
    out = pq_adc_topk(queries, codes, books, sub_dim=_SUB, k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # exactly one rank Window for the top-k, and Spark's partial/final
    # WindowGroupLimit pushdown applies (per-partition top-k before the
    # exchange — the plan that survives a wide corpus)
    import re

    assert len(re.findall(r"\bWindow \[", plan)) == 1
    assert "WindowGroupLimit" in plan


def test_ivfpq_exact_at_full_probe_and_plan_shape(spark):
    """n_probe = n_cells ⇒ IVF-PQ equals the unpruned ADC scan (pruning
    is the ONLY approximation), and the candidate join is a broadcast
    HASH join on cell — never a sort-merge or cartesian."""
    from accident_prediction_montreal_spark.operators.kmeans import assign_cells
    from accident_prediction_montreal_spark.operators.pq import ivfpq_topk

    rows = [
        (i, _vec(float(i % 7) - 3.0, float(i % 4) / 2, 1.0, -0.5))
        for i in range(60)
    ]
    emb = _emb(spark, rows)
    [coarse] = train_pq_codebooks(emb, m=1, k=4, n_iter=2, sub_dim=_DIM)
    assigned = assign_cells(emb, coarse, vec_col="vec")
    books = train_pq_codebooks(emb, m=2, k=4, n_iter=2, sub_dim=_SUB)
    index = pq_encode(assigned, books, sub_dim=_SUB, keep_cols=["cell"])
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("query_vec")
    )
    full = ivfpq_topk(
        queries, coarse, index, books, sub_dim=_SUB, k=3, n_probe=4
    )
    codes = pq_encode(emb, books, sub_dim=_SUB)
    exact = pq_adc_topk(queries, codes, books, sub_dim=_SUB, k=3)
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, exact.collect())
    )

    pruned = ivfpq_topk(
        queries, coarse, index, books, sub_dim=_SUB, k=3, n_probe=1
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # the cell-pruned candidate join
    # pruning really prunes: every (query, hit) pair's corpus cell is
    # one of that query's probed cells
    from accident_prediction_montreal_spark.operators.pq import coarse_probes

    probed = {
        (r["query_id"], r["cell"])
        for r in coarse_probes(queries, coarse, 1).collect()
    }
    cells = {r["vec_id"]: r["cell"] for r in assigned.collect()}
    for r in pruned.collect():
        assert (r["query_id"], cells[r["vec_id"]]) in probed
