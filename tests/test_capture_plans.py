"""Plan captures do not depend on what the session ran before.

``scripts/capture_plans.py`` renumbers the session-global counters a
formatted plan prints, so two captures of one tree compare equal with a
plain ``diff``. Spark-free: feeds the normaliser plan text directly.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _capture_plans():
    spec = importlib.util.spec_from_file_location(
        "capture_plans", ROOT / "scripts" / "capture_plans.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# One snippet carrying every counter family: expression ids (one of them
# referenced twice), exchange plan ids and a checkpointed RDD leaf.
PLAN = """\
(1) Scan ExistingRDD
Output [2]: [street_id#{a}L, temp#{b}]
Arguments: [street_id#{a}L, temp#{b}], MapPartitionsRDD[{rdd}] at localCheckpoint at NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)

(2) Exchange
Input [2]: [street_id#{a}L, temp#{b}]
Arguments: hashpartitioning(street_id#{a}L, 200), ENSURE_REQUIREMENTS, [plan_id={p1}]

(3) Exchange
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id={p2}]
"""


def test_differently_numbered_copies_normalise_equal():
    normalise = _capture_plans().normalise
    first = PLAN.format(a=1498, b=3780, rdd=309, p1=17, p2=18)
    second = PLAN.format(a=4271, b=4282, rdd=315, p1=912, p2=40)
    assert first != second
    assert normalise(first) == normalise(second)
    # renumbered by first appearance, references kept apart
    assert normalise(first) == PLAN.format(a=1, b=2, rdd=1, p1=1, p2=2)


def test_normalise_keeps_distinct_ids_distinct():
    normalise = _capture_plans().normalise
    same = PLAN.format(a=7, b=7, rdd=3, p1=5, p2=5)
    assert normalise(same) == PLAN.format(a=1, b=1, rdd=1, p1=1, p2=1)
    assert normalise(same) != normalise(PLAN.format(a=7, b=8, rdd=3, p1=5, p2=6))
