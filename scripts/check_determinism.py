"""Same-engine determinism audit: run each query TWICE under radically
different shuffle partitioning (7 vs 64 partitions) and require
identical result values. Catches the nondeterminism class the DuckDB
oracle can miss — survivor picks or aggregates whose result depends on
partitioning/arrival order (e.g. a row_number tie without a unique
tie-break key resolves the same way in both engines on a lucky layout,
then flips when AQE re-plans at scale).

Usage: python scripts/check_determinism.py [sf_dir] [query ...]
  - no query args: audits the driver's 50-query check window
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from accident_prediction_montreal_spark.plans import REGISTRY  # noqa: E402
from check_oracle import release, vanilla_session  # noqa: E402


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    names = argv[1:] or list(REGISTRY)[:50]
    unknown = set(names) - set(REGISTRY)
    if unknown:
        print(f"FAIL unknown queries: {sorted(unknown)}")
        return 1
    # local[SPARK_GRAFT_CPUS], the oracle sweep's vanilla session
    spark = vanilla_session()
    spark.sparkContext.setLogLevel("ERROR")
    bad = []
    for n in names:
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "7")
            # key=repr: rows can mix NULL and datetime in one column,
            # which plain tuple ordering cannot compare
            r1 = sorted(
                (tuple(r) for r in REGISTRY[n].fn(spark, sf_dir).collect()),
                key=repr,
            )
            # the 64-partition call must not read what the first made
            release(spark)
            spark.conf.set("spark.sql.shuffle.partitions", "64")
            r2 = sorted(
                (tuple(r) for r in REGISTRY[n].fn(spark, sf_dir).collect()),
                key=repr,
            )
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {n}: {str(e)[:160]}")
            bad.append(n)
            continue
        finally:
            release(spark)
        if r1 == r2:
            print(f"ok   {n}: {len(r1)} rows stable")
        else:
            diff = [a for a in r1 if a not in r2][:3]
            print(f"FAIL {n}: values moved with partitioning, e.g. {diff}")
            bad.append(n)
    print(f"{len(names) - len(bad)}/{len(names)} deterministic")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
