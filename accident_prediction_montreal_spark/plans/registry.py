"""Query registry shared by __spark_entry__, bench.py and the tests.

Each entry pairs a Spark implementation with an optional DuckDB oracle.
Canonicalization contract (SURVEY.md §7.4 — float parity):
  * money/count aggregates are decimal-exact in BOTH engines
    (CAST → DECIMAL(38,6) before SUM), so no rounding is needed;
  * transcendental outputs (trig, ratios of floats) are ROUND()ed to a
    precision far coarser than the cross-engine ulp drift;
  * every integer aggregate is cast to BIGINT on both sides (DuckDB's
    SUM(int) returns HUGEINT otherwise) — and oracle result types must
    stay in the representation-safe whitelist BIGINT/INTEGER/DOUBLE/
    VARCHAR/DATE/TIMESTAMP/BOOLEAN (+arrays): any UNION branch must
    cast EVERY aggregate, because one bare SUM(int) is HUGEINT and
    UNION type-unification promotes the whole output column silently;
    HUGEINT/DECIMAL then render as float64 through the driver's
    arrow/pandas canonicalization (``149174.0`` vs ``149174``) — a
    hash-fail with rows+schema green that fetchall()-based local
    checks cannot see (the r10 llm_dataset_card red). Enforced
    registry-wide by tests/test_oracle_types.py and
    scripts/check_oracle.py::_SAFE_TYPES;
  * every windowed/top-k query carries an explicit tie-break column;
  * RATIOS/MEANS OF INTEGER AGGREGATES must be emitted as exact integer
    fixed-point units, never as independently ROUND()ed doubles —
    e.g. ``(SUM(x) * 10000) div COUNT(*)`` (Spark) vs
    ``(SUM(x) * 10000) // COUNT(*)`` (DuckDB), both BIGINT. The r9
    driver red (llm_dataset_card) was a last-ulp divergence between two
    independently rounded doubles that PASSED the local harness:
    rounding narrows but never closes the representation gap, integer
    arithmetic closes it. ROUND() remains only for genuinely
    transcendental outputs where wide fixture margins absorb ulp drift.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    """One declared operator: Spark impl + (optional) DuckDB oracle SQL."""

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    description: str


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, description: str = ""):
    """Decorator: add a query to the registry under ``name``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, description=description)
        return fn

    return deco


def checks(row: DataFrame, named: dict[str, Column]) -> DataFrame:
    """``(chk STRING, ok BIGINT)`` rows for the literal-1 invariant-oracle
    queries: one row per named contract check, in ``named``'s order, each
    check a boolean reduced to a 0/1 long that is hash-compared against
    a literal-1 oracle row (a NULL check stays NULL and fails).

    ``row`` is ONE row — ungrouped aggregates over the inputs, joined
    with ``crossJoin`` — and every check is an expression over its
    columns. All checks are emitted by a single ``inline()`` over that
    row, so the inputs are planned and executed once. A union of one
    select per check instead re-plans the shared aggregate subtree in
    every branch (union sides of independent single-row aggregates do
    not reuse each other's exchanges): x21_ann_pruned_layout went from
    1.40 s and 66 exchanges as a 3-branch union to 0.83 s and 22 as
    one pass.
    """
    from pyspark.sql import functions as F

    return row.select(
        F.inline(
            F.array(
                *(
                    F.struct(F.lit(name).alias("chk"), ok.cast("long").alias("ok"))
                    for name, ok in named.items()
                )
            )
        )
    )


def zero_or_vacuous(c: str) -> Column:
    """Check for ``checks()`` that violation count ``c`` is 0. An
    aggregate over an EMPTY input is NULL, and NULL == 0 is NULL where
    the literal-1 oracle expects 1, so an empty input passes vacuously."""
    from pyspark.sql import functions as F

    return F.coalesce(F.col(c), F.lit(0)) == 0
