"""The plans package is grouped by operator family (Spark-free): no
module is named after the round a query landed in or is a grab-bag,
every registered query lives in a family module, and no plan module
reaches into a sibling's private names."""

from __future__ import annotations

import ast
import pathlib
import re

from accident_prediction_montreal_spark import plans
from accident_prediction_montreal_spark.plans import REGISTRY

PLANS_DIR = pathlib.Path(plans.__file__).parent
PKG = "accident_prediction_montreal_spark.plans"
FAMILIES = {
    "relational",
    "tpch",
    "spatial",
    "timeseries",
    "ml",
    "text",
    "dedup",
    "curation",
    "similarity",
    "graph",
    "streaming",
    "storage",
    "multimodal",
    "privacy",
    "apm_pipeline",
}


def test_no_round_named_or_grab_bag_module():
    names = sorted(p.stem for p in PLANS_DIR.glob("*.py"))
    bad = [n for n in names if re.search(r"wave\d+|_extra|_ops", n)]
    assert bad == []


def test_every_query_lives_in_a_family_module():
    homes = {spec.fn.__module__ for spec in REGISTRY.values()}
    assert homes <= {f"{PKG}.{f}" for f in FAMILIES}


def test_no_private_import_from_a_sibling_plan_module():
    found = []
    for path in sorted(PLANS_DIR.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.ImportFrom):
                continue
            sibling = node.level > 0 or (node.module or "").startswith(f"{PKG}.")
            private = [a.name for a in node.names if a.name.startswith("_")]
            if sibling and private and node.module != "__future__":
                found.append((path.name, node.module, private))
    assert found == []
