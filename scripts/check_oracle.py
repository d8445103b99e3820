"""Local correctness harness: run every registered query on Spark AND its
DuckDB oracle, compare row count, column names and order-insensitive
value hash — a local approximation of the driver's t2 gate. Oracle
result types are additionally gated against _SAFE_TYPES (no HUGEINT/
DECIMAL/UINTEGER): fetchall() yields Python ints for HUGEINT and hides
exactly the divergence the driver's arrow/pandas canonicalization sees
(the r9/r10 llm_dataset_card red; tests/test_oracle_types.py is the
registry-wide twin of this gate).

Runs under a VANILLA SparkSession by default (ANSI on, Spark 4 defaults,
no engine conf) to mirror the grading harness: queries must be
environment-independent, not propped up by session.py. Pass --tuned to
use the engine's own factory instead.

Usage: python scripts/check_oracle.py [--tuned] [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
from pathlib import Path
import traceback

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import SparkSession  # noqa: E402

from accident_prediction_montreal_spark import cachereg  # noqa: E402
from accident_prediction_montreal_spark.plans import REGISTRY  # noqa: E402
from accident_prediction_montreal_spark.session import get_session, local_cpus  # noqa: E402
from accident_prediction_montreal_spark.sources.registry import TABLES  # noqa: E402


def vanilla_session() -> SparkSession:
    """A session like the grading driver's: Spark 4 defaults, ANSI on.

    Only master/memory/UI are set (environment plumbing, not semantics).
    """
    return (
        SparkSession.builder.appName("oracle-check-vanilla")
        .master(f"local[{local_cpus()}]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .getOrCreate()
    )


def release(spark: SparkSession) -> None:
    """Free every cache, checkpoint and broadcast the last query made, so
    the next query cannot pass by reusing them."""
    cachereg.release_all()
    spark.catalog.clearCache()


def canon(value):
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        if value == int(value) and abs(value) < 1e15:
            return repr(float(value))
        return repr(value)
    if isinstance(value, list):
        return "[" + ",".join(canon(v) for v in value) + "]"
    return repr(value)


#: DuckDB result types that survive the driver's arrow/pandas
#: canonicalization with the same rendering as Spark's (plans/registry.py
#: documents the contract). Notably ABSENT: HUGEINT (SUM(int) returns it;
#: UNION promotes silently; arrow renders it float64), DECIMAL, UINTEGER.
_SAFE_TYPES = ("BIGINT", "INTEGER", "DOUBLE", "FLOAT", "VARCHAR", "DATE",
               "TIMESTAMP", "BOOLEAN", "SMALLINT", "TINYINT")


def _type_ok(t: str) -> bool:
    t = t.upper()
    while t.endswith("[]"):  # arrays of safe element types are safe
        t = t[:-2]
    return t in _SAFE_TYPES or t.startswith("STRUCT")


def row_set(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--tuned"]
    tuned = "--tuned" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])
    # Unknown names must FAIL loudly: silently skipping them while
    # counting them in the pass total once reported "5/5 pass" for two
    # queries that were never registered (r13).
    unknown = only - set(REGISTRY)
    if unknown:
        print(f"FAIL unknown queries (not in REGISTRY): {sorted(unknown)}")
        return 1
    spark = get_session("oracle-check") if tuned else vanilla_session()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    for name, spec in sorted(REGISTRY.items()):
        if only and name not in only:
            continue
        try:
            sdf = spec.fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception:
            failures.append(name)
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            continue
        finally:
            release(spark)
        if spec.oracle is None:
            print(f"ok   {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            rel = con.sql(spec.oracle)
            # Type gate (driver parity): fetchall() returns Python ints
            # for DuckDB HUGEINT and masks type-level divergence — the
            # driver canonicalizes through arrow/pandas, where HUGEINT
            # renders as float64 (the r9/r10 llm_dataset_card red
            # shipped twice because of it). Reject any oracle result
            # type outside the representation-safe whitelist.
            bad = [
                f"{c}:{t}"
                for c, t in zip(rel.columns, map(str, rel.types))
                if not _type_ok(str(t))
            ]
            if bad:
                failures.append(name)
                print(f"FAIL {name}: unsafe oracle result types {bad}")
                continue
            orows = rel.fetchall()
            ocols = [d[0] for d in con.sql(spec.oracle).description]
        except Exception:
            failures.append(name)
            print(f"FAIL {name}: duckdb error\n{traceback.format_exc()}")
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns spark={sorted(scols)} duck={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duck={len(orows)}")
        if not problems:
            s = row_set(scols, [[r[c] for c in scols] for r in srows])
            o = row_set(ocols, orows)
            if s != o:
                diff = [(a, b) for a, b in zip(s, o) if a != b][:3]
                problems.append(f"values differ, e.g. {diff}")
        if problems:
            failures.append(name)
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"ok   {name}: {len(srows)} rows match")
    n_checked = len(only) if only else len(REGISTRY)
    print(f"\n{n_checked - len(failures)}/{n_checked} pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
