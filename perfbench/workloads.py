"""The benchmark's workloads: which registry queries run, at which scale.

Every operation is one registry query: ``REGISTRY[name].fn(spark, sf_dir)``
followed by one action that hashes every output column. A pass runs each
query of the workload once, in an order drawn from the run's seed.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    queries: tuple[str, ...]
    why: str
    #: Queries too slow for every pass. A traced run executes each once
    #: after the timed passes, for the layers only they reach.
    trace_only: tuple[str, ...] = ()


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="adhoc",
            sf=0.01,
            queries=(
                "w4_ewma",
                "m8_threshold_sweep",
                "a6_idw_radius",
                "m2_random_undersampler",
                "st_cdc_upsert_stream",
            ),
            why=(
                "EWMA, threshold sweep, IDW, an ML fit and a CDC stream on 60k "
                "lineitem rows: driver composition and per-job scheduling dominate"
            ),
            trace_only=("apm_dataset_pipeline",),
        ),
        Workload(
            name="bulk",
            sf=0.1,
            queries=(
                "a1_pricing_summary",
                "j1_join_chain_revenue",
                "dedup_ngram_jaccard",
                "sim_cosine_topk",
                "st_session_window",
            ),
            why=(
                "scan, join, n-gram dedup, cosine top-k and session-window kernels "
                "on 600k lineitem rows: the final action takes about 3/4 of the "
                "time, mostly one task per stage"
            ),
        ),
    )
}


def pass_order(workload: Workload, seed: int, pass_no: int) -> list[str]:
    """The query order of one pass: a permutation drawn from the seed."""
    order = list(workload.queries)
    random.Random(seed * 1_000_003 + pass_no).shuffle(order)
    return order
