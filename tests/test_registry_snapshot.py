"""Registry snapshot gate (no Spark needed).

Pins two things a refactor of ``plans/`` must leave byte-identical:

  * the registration order, ``list(REGISTRY)``: the order
    ``__spark_entry__.queries()`` exposes, with ``plans/__init__.py::
    _PRIORITY`` first;
  * one sha256 per oracle SQL text (``null`` for rows-only queries), so
    a rewrite of a query body cannot silently move its oracle.

Regenerate the golden only when a query or oracle is meant to change:

    python -c "import json, tests.test_registry_snapshot as t; \
print(json.dumps(t.snapshot(), indent=1))" > tests/goldens/registry_snapshot.json
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

from accident_prediction_montreal_spark.plans import REGISTRY

GOLDEN = Path(__file__).resolve().parent / "goldens" / "registry_snapshot.json"


def snapshot() -> dict:
    return {
        "order": list(REGISTRY),
        "oracle_sha256": {
            name: (hashlib.sha256(spec.oracle.encode()).hexdigest()
                   if spec.oracle is not None else None)
            for name, spec in REGISTRY.items()
        },
    }


def test_registry_order_unchanged():
    assert snapshot()["order"] == json.loads(GOLDEN.read_text())["order"]


def test_every_oracle_sql_unchanged():
    golden = json.loads(GOLDEN.read_text())["oracle_sha256"]
    moved = {n: h for n, h in snapshot()["oracle_sha256"].items() if golden.get(n, "absent") != h}
    assert not moved, f"oracle SQL changed for {sorted(moved)}"
