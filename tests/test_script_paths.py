"""Scripts import the engine of their own checkout.

A script that puts an absolute directory first on ``sys.path`` imports
whatever engine sits there, not the one next to it, so a copy run from a
second checkout (the parent side of an A/B) silently measures the wrong
tree. Spark-free: parses the files, runs none of them.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
FILES = (
    sorted((ROOT / "scripts").glob("*.py"))
    + sorted((ROOT / "perfbench").rglob("*.py"))
    + [ROOT / "bench.py"]
)


def _absolute_sys_path_literals(source: str) -> list[str]:
    """String literals that are absolute paths inside a
    ``sys.path.insert(...)`` / ``sys.path.append(...)`` call."""
    found = []
    for node in ast.walk(ast.parse(source)):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("insert", "append")
            and ast.unparse(node.func.value) == "sys.path"
        ):
            continue
        for arg in node.args:
            for sub in ast.walk(arg):
                if isinstance(sub, ast.Constant) and isinstance(sub.value, str):
                    if sub.value.startswith("/"):
                        found.append(sub.value)
    return found


def test_detector_flags_absolute_and_passes_relative():
    flag = _absolute_sys_path_literals
    assert flag('import sys\nsys.path.insert(0, "/srv/x")') == ["/srv/x"]
    assert flag('sys.path.append(os.path.join("/srv", "t"))') == ["/srv"]
    assert flag("sys.path.insert(0, str(Path(__file__).resolve().parents[1]))") == []


@pytest.mark.parametrize("path", FILES, ids=lambda p: str(p.relative_to(ROOT)))
def test_no_absolute_sys_path(path):
    assert _absolute_sys_path_literals(path.read_text()) == []
