"""One-off input-space triage: run EVERY oracle-backed query that reads
only the documents or only the events table against its DuckDB oracle
on the generative grammars' edge seeds plus N deterministic draws
(tests/test_generative_oracles.py owns the grammars; this tool sweeps
the WHOLE single-table registry where the per-round suite keeps only a
standing subset for wall time).

The r14 events grammar found a real ANSI crash (w10_rolling_median's
element_at(arr, 0) on all-NULL frames) in a query the fixtures, the
driver harness, and the determinism audit had all certified — this
sweep asks which other queries have the same class of latent edge.

Usage: python scripts/fuzz_triage.py [events|documents|embeddings|curation] [n_draws]
Prints one line per query: ok / MISMATCH / ERROR, then a summary.
"""

from __future__ import annotations

import inspect
import random
import sys
from pathlib import Path
import tempfile

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tests"))

_TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def single_table_queries(registry, table: str) -> list[str]:
    out = []
    for name, spec in registry.items():
        if not spec.oracle:
            continue
        src = inspect.getsource(spec.fn)
        used = [t for t in _TABLES if f'"{t}"' in src]
        if used == [table]:
            out.append(name)
    return out


def events_cases(n_draws: int):
    import test_generative_oracles as G

    rng = random.Random(14)

    def draw():
        rows = []
        for i in range(rng.randint(1, 24)):
            rows.append(
                (
                    i,
                    rng.choice(
                        [0, 1, 2, 59, 60, 3599, 3600, 3601,
                         7200, 7201, 10800, 10801, 14399]
                    ),
                    rng.randint(1, 2),
                    rng.choice(
                        ["click", "view", "purchase", "signup", "error"]
                    ),
                    rng.choice([None, 0.0, 1.0, -1.0, 2.5, 100.0]),
                )
            )
        return [
            (
                i,
                rows[i // 3 * 3][1] if i % 3 == 2 else off,
                rows[i // 3 * 3][2] if i % 3 == 2 else uid,
                et,
                v,
            )
            for i, (eid, off, uid, et, v) in enumerate(rows)
        ]

    seeds = [
        G._SEED_ALL_SAME_TS,
        G._SEED_SINGLE_EVENT,
        G._SEED_ZERO_VARIANCE,
        G._SEED_NULL_VALUES,
    ]
    return G._materialize_events, seeds + [draw() for _ in range(n_draws)]


def documents_cases(n_draws: int):
    import test_generative_oracles as G

    rng = random.Random(14)
    words = ["alpha", "beta", "gamma", "x", "zz", 'a"b', "c,d", "héllo"]

    def draw():
        rows = []
        for _ in range(rng.randint(1, 24)):
            kind = rng.randint(0, 4)
            text = (
                None
                if kind == 0
                else ""
                if kind == 1
                else "   "
                if kind == 2
                else " ".join(
                    rng.choice(words) for _ in range(rng.randint(1, 30))
                )
            )
            rows.append(
                (text, rng.choice(["en", "fr", None]),
                 rng.choice(["s1", "s2"]))
            )
        return [
            (i, rows[i // 3 * 3][0] if i % 3 == 2 else t, lang, src)
            for i, (t, lang, src) in enumerate(rows)
        ]

    seeds = [
        G._SEED_ALL_NULL_LANG,
        G._SEED_ALL_NULL_TEXT,
        G._SEED_ALL_EMPTY_TEXT,
        G._SEED_ALL_DUPLICATES,
    ]
    return G._materialize, seeds + [draw() for _ in range(n_draws)]


def embeddings_cases(n_draws: int):
    import test_generative_oracles as G

    rng = random.Random(14)
    comps = [-2.0, -1.0, -0.5, 0.0, 0.25, 0.5, 1.0, 2.0]
    dim = G._DIM

    def draw():
        rows = []
        for _ in range(rng.randint(1, 16)):
            kind = rng.randint(0, 9)
            vec = (
                None
                if kind == 0
                else [0.0] * dim
                if kind == 1
                else G._emb_vec(
                    *(rng.choice(comps) for _ in range(rng.randint(4, 12)))
                )
            )
            rows.append((vec, rng.choice([None, 0, 1, 2])))
        return [
            (i, rows[i // 3 * 3][0] if i % 3 == 2 else v, lab)
            for i, (v, lab) in enumerate(rows)
        ]

    seeds = [
        G._SEED_EMB_SINGLE,
        G._SEED_EMB_ZERO,
        G._SEED_EMB_NULL,
        G._SEED_EMB_DUPS,
    ]
    return G._materialize_embeddings, seeds + [draw() for _ in range(n_draws)]


def curation_cases(n_draws: int):
    """PAIRED documents + embeddings tables for the multi-table
    composite (llm_curation_pipeline joins e.vec_id = doc_id % 100000):
    every doc position gets an embedding row — possibly NULL or
    zero-norm, which the pipeline's degenerate-vector contract must
    absorb without diverging from its oracle."""
    import test_generative_oracles as G

    rng = random.Random(14)
    comps = [-2.0, -1.0, -0.5, 0.0, 0.25, 0.5, 1.0, 2.0]

    _, doc_cases = documents_cases(n_draws)

    def emb_for(doc_rows):
        out = []
        for i in range(len(doc_rows)):
            kind = rng.randint(0, 9)
            vec = (
                None
                if kind == 0
                else [0.0] * G._DIM
                if kind == 1
                else G._emb_vec(
                    *(rng.choice(comps) for _ in range(rng.randint(4, 12)))
                )
            )
            out.append((i, vec, rng.choice([None, 0, 1, 2])))
        return out

    def materialize(spark, td, pair):
        doc_rows, emb_rows = pair
        G._materialize(spark, td, doc_rows)
        G._materialize_embeddings(spark, td, emb_rows)

    return materialize, [(d, emb_for(d)) for d in doc_cases]


def multi_table_queries(registry, tables: list[str]) -> list[str]:
    out = []
    for name, spec in registry.items():
        if not spec.oracle:
            continue
        src = inspect.getsource(spec.fn)
        used = [t for t in _TABLES if f'"{t}"' in src]
        if used == tables:
            out.append(name)
    return out


def main() -> int:
    table = sys.argv[1] if len(sys.argv) > 1 else "events"
    n_draws = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    import test_generative_oracles as G
    from pyspark.sql import SparkSession

    from accident_prediction_montreal_spark.plans import REGISTRY
    from accident_prediction_montreal_spark.session import local_cpus

    spark = (
        SparkSession.builder.master(f"local[{local_cpus()}]")
        .appName("fuzz-triage")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    materialize, cases = {
        "events": events_cases,
        "documents": documents_cases,
        "embeddings": embeddings_cases,
        "curation": curation_cases,
    }[table](n_draws)
    if table == "curation":
        names = multi_table_queries(REGISTRY, ["documents", "embeddings"])
    else:
        names = single_table_queries(REGISTRY, table)
    print(f"{len(names)} {table}-only oracle queries x {len(cases)} cases",
          flush=True)
    bad: list[str] = []
    for name in names:
        verdict = "ok"
        for k, rows in enumerate(cases):
            with tempfile.TemporaryDirectory() as td:
                materialize(spark, td, rows)
                try:
                    s, o = G._both(spark, name, td)
                except Exception as e:  # noqa: BLE001 — triage, keep going
                    verdict = f"ERROR case {k}: {type(e).__name__}: {e}"
                    verdict = verdict[:220].replace("\n", " ")
                    break
                if s != o:
                    verdict = (
                        f"MISMATCH case {k}: spark {s[:3]} oracle {o[:3]} "
                        f"input {rows[:4]}"
                    )[:300]
                    break
        print(f"{'ok  ' if verdict == 'ok' else 'BAD '}{name}: {verdict}",
              flush=True)
        if verdict != "ok":
            bad.append(name)
    print(f"\n{len(names) - len(bad)}/{len(names)} clean; bad: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
