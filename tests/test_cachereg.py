"""cachereg is the one home for cached and checkpointed engine frames: no
other engine module persists, caches, checkpoints or unpersists, and no
SparkContext broadcast escapes ``cachereg.register``; a repeated call of
a persisting query keeps its cache; releasing a checkpointing query's
site frees its blocks; and releasing frees every broadcast semantic
decontamination made."""

from __future__ import annotations

import ast
import pathlib
import time

ENGINE = pathlib.Path(__file__).resolve().parents[1] / "accident_prediction_montreal_spark"
MATERIALIZERS = {"persist", "cache", "localCheckpoint", "unpersist"}


def _is_generation(node: ast.AST) -> bool:
    """``cachereg.generation(...)``."""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "generation"
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "cachereg"
    )


def _is_register(node: ast.AST) -> bool:
    """``cachereg.register(...)``."""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "register"
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "cachereg"
    )


def _stray_calls(tree: ast.Module) -> list[tuple[int, str]]:
    """Materializer calls whose receiver is not a cachereg generation
    handle, and SparkContext broadcasts (not the ``F.broadcast`` join
    hint) whose result the same scope never passes to
    ``cachereg.register``, per top-level scope."""
    found = []
    for scope in tree.body:
        handles = {
            t.id
            for node in ast.walk(scope)
            if isinstance(node, ast.Assign) and _is_generation(node.value)
            for t in node.targets
            if isinstance(t, ast.Name)
        }
        registered = {
            a.id
            for node in ast.walk(scope)
            if _is_register(node)
            for a in node.args
            if isinstance(a, ast.Name)
        }
        for node in ast.walk(scope):
            if (
                isinstance(node, ast.Assign)
                and isinstance(node.value, ast.Call)
                and isinstance(node.value.func, ast.Attribute)
                and node.value.func.attr == "broadcast"
                and not (
                    isinstance(node.value.func.value, ast.Name)
                    and node.value.func.value.id == "F"
                )
                and not all(
                    isinstance(t, ast.Name) and t.id in registered
                    for t in node.targets
                )
            ):
                found.append((node.lineno, "broadcast"))
        for node in ast.walk(scope):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in MATERIALIZERS
            ):
                continue
            recv = node.func.value
            if _is_generation(recv) or (isinstance(recv, ast.Name) and recv.id in handles):
                continue
            found.append((node.lineno, node.func.attr))
    return found


def test_no_materializer_outside_cachereg():
    bad = []
    for path in sorted(ENGINE.rglob("*.py")):
        if path.name == "cachereg.py":
            continue
        for line, attr in _stray_calls(ast.parse(path.read_text())):
            bad.append(f"{path.relative_to(ENGINE)}:{line} .{attr}(")
    assert bad == []


def test_guard_sees_dataframe_calls():
    src = """
def f(df):
    cached = cachereg.generation("s")
    a = cached.persist(df)
    b = cachereg.generation("t").persist(df)
    c = df.persist()
    d = df.localCheckpoint(eager=False)
    df.unpersist()
    return df.cache()
"""
    assert [a for _, a in _stray_calls(ast.parse(src))] == [
        "persist", "localCheckpoint", "unpersist", "cache"
    ]


def test_guard_sees_unregistered_broadcasts():
    src = """
def f(spark, df, x):
    bc = spark.sparkContext.broadcast(x)
    cachereg.register("s", bc)
    stray = spark.sparkContext.broadcast(x)
    return df.join(F.broadcast(df), "k"), bc, stray
"""
    assert _stray_calls(ast.parse(src)) == [(5, "broadcast")]


def _documents(spark, sf_dir: pathlib.Path) -> str:
    from accident_prediction_montreal_spark.sources.registry import TABLES

    words = "alpha beta gamma delta epsilon zeta eta theta".split()
    rows = [
        (i, " ".join(words[: 1 + i % 8] * (1 + i % 5)), "en", f"s{i % 3}", 10)
        for i in range(60)
    ]
    spark.createDataFrame(rows, TABLES["documents"]).write.parquet(
        str(sf_dir / "documents.parquet")
    )
    return str(sf_dir)


def test_repeated_call_keeps_its_cache(spark, tmp_path):
    from accident_prediction_montreal_spark import cachereg
    from accident_prediction_montreal_spark.plans import REGISTRY

    sf_dir = _documents(spark, tmp_path)
    fn = REGISTRY["text_quality_deciles"].fn
    first = fn(spark, sf_dir)
    rows1 = first.collect()
    second = fn(spark, sf_dir)
    rows2 = second.collect()
    plan = second._jdf.queryExecution().executedPlan().toString()
    cachereg.release("plans.text_quality_deciles")
    assert "InMemoryTableScan" in plan
    assert rows1 == rows2


def _storage(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def _settled(spark, want=None, timeout_s: float = 15.0) -> int:
    """Storage once it stops moving (or reaches ``want``): unpersists
    finish on the block manager's own threads."""
    last = _storage(spark)
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        time.sleep(0.3)
        cur = _storage(spark)
        if (want is not None and cur == want) or (want is None and cur == last):
            return cur
        last = cur
    return last


def test_release_frees_checkpoints(spark):
    from accident_prediction_montreal_spark import cachereg
    from accident_prediction_montreal_spark.operators.components import (
        connected_components,
    )

    cachereg.release_all()
    before = _settled(spark)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 400) if i % 40 != 39], "src long, dst long"
    )
    comps = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert comps[0] == 0 and comps[39] == 0 and comps[40] == 40 and len(set(comps.values())) == 10
    assert _storage(spark) > before
    cachereg.release_all()
    assert _settled(spark, want=before) == before


def test_release_frees_decontamination_broadcasts(spark, monkeypatch):
    from pyspark import SparkContext
    from pyspark.broadcast import Broadcast

    from accident_prediction_montreal_spark import cachereg
    from accident_prediction_montreal_spark.operators.decontam import (
        semantic_contamination,
    )

    made, freed = [], []
    real_broadcast, real_unpersist = SparkContext.broadcast, Broadcast.unpersist

    def broadcast(self, value):
        made.append(real_broadcast(self, value))
        return made[-1]

    def unpersist(self, blocking=False):
        freed.append(self)
        return real_unpersist(self, blocking)

    monkeypatch.setattr(SparkContext, "broadcast", broadcast)
    monkeypatch.setattr(Broadcast, "unpersist", unpersist)
    eval_df = spark.createDataFrame(
        [(100 + i, [1.0, float(i), float(i % 2)]) for i in range(6)],
        ["eval_id", "embedding"],
    )
    train = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [1.0, 5.0, 1.0]), (2, [0.0, 0.0, 0.0])],
        ["train_id", "embedding"],
    )
    got = {
        strategy: sorted(
            (r.train_id, r.eval_id)
            for r in semantic_contamination(
                train, eval_df, strategy=strategy, n_cells=3, n_probe=3
            ).collect()
        )
        for strategy in ("broadcast", "bucketed")
    }
    cachereg.release_all()
    assert got["broadcast"] == got["bucketed"] == [(0, 100), (1, 105)]
    assert len(made) == 2
    assert all(any(b is f for f in freed) for b in made)
