"""Registry-wide oracle result-type gate (no Spark needed).

Every registered DuckDB oracle must produce ONLY representation-safe
result types — the set that survives the grading driver's arrow/pandas
canonicalization with the same rendering as Spark's collect():

    BIGINT / INTEGER / SMALLINT / TINYINT, DOUBLE / FLOAT, VARCHAR,
    DATE, TIMESTAMP, BOOLEAN, and arrays thereof.

Notably FORBIDDEN: HUGEINT, DECIMAL, UINTEGER. DuckDB's ``SUM(int)``
returns HUGEINT; a ``UNION ALL`` branch with one uncast SUM silently
promotes the ENTIRE output column to HUGEINT, and HUGEINT reaches
pandas/arrow as float64 (``149174.0`` vs Spark's ``149174``) — a
value-hash fail with rows+schema green. That exact failure shipped the
llm_dataset_card driver red in rounds 9 and 10 while the local
``fetchall()``-based harness (which yields Python ints for HUGEINT)
stayed green. This test would have caught it: reverting the
``CAST(... AS BIGINT)`` wrappers in llm_dataset_card's ``__all__``
UNION branch (plans/text.py) makes it fail with
``llm_dataset_card: chars_sum:HUGEINT``.

Contract reference: plans/registry.py module docstring ("oracle result
types" clause) and scripts/check_oracle.py::_SAFE_TYPES (shared gate).
"""

from __future__ import annotations

import os

import duckdb
import pytest

from accident_prediction_montreal_spark.plans import REGISTRY
from accident_prediction_montreal_spark.sources.registry import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")

SAFE_TYPES = ("BIGINT", "INTEGER", "DOUBLE", "FLOAT", "VARCHAR", "DATE",
              "TIMESTAMP", "BOOLEAN", "SMALLINT", "TINYINT")


def _type_ok(t: str) -> bool:
    t = t.upper()
    while t.endswith("[]"):
        t = t[:-2]
    return t in SAFE_TYPES or t.startswith("STRUCT")


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")
def test_every_oracle_yields_safe_result_types():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    offenders = []
    for name, spec in sorted(REGISTRY.items()):
        if spec.oracle is None:
            continue
        # LIMIT 0 subquery: we need the result *types*, not the rows —
        # DuckDB resolves the full output schema without executing.
        rel = con.sql(f"SELECT * FROM ({spec.oracle}) LIMIT 0")
        for col, typ in zip(rel.columns, map(str, rel.types)):
            if not _type_ok(typ):
                offenders.append(f"{name}: {col}:{typ}")
    assert not offenders, (
        "oracle result types outside the representation-safe whitelist "
        "(HUGEINT/DECIMAL render as float64 through the driver's "
        "arrow/pandas canonicalization — cast every aggregate in every "
        "UNION branch):\n" + "\n".join(offenders)
    )
