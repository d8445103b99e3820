"""Per-query profiling: split plan-build time from execution time, count
Spark jobs/stages/tasks per execution, and optionally use the noop sink.

Usage: python scripts/profile_queries.py [--runs N] [--noop] [query ...]

For each query: clear caches, time fn() construction (Catalyst analysis
happens lazily, so this is mostly plan construction), then time the
action (count() by default to match bench.py's protocol; --noop uses the
noop sink per the optimization guide §1.4). Reports min over runs plus
the job/stage/task counts of the LAST run via the status tracker. One
JSON line per query on stdout.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path
import time

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from accident_prediction_montreal_spark import cachereg  # noqa: E402
from accident_prediction_montreal_spark.plans import REGISTRY  # noqa: E402
from accident_prediction_montreal_spark.session import get_session  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    runs = 3
    use_noop = False
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        del args[i : i + 2]
    if "--noop" in args:
        use_noop = True
        args.remove("--noop")
    names = args
    if not names:
        import bench

        names = list(bench.HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session("profile-queries")
    sc = spark.sparkContext
    # warm-up
    REGISTRY["s1_scan_project_filter"].fn(spark, sf_dir).count()
    for name in names:
        best_build, best_exec = float("inf"), float("inf")
        jobs = None
        for _ in range(runs):
            spark.catalog.clearCache()
            cachereg.release_all()
            t0 = time.perf_counter()
            try:
                df = REGISTRY[name].fn(spark, sf_dir)
            except Exception as exc:  # noqa: BLE001
                print(json.dumps({"query": name, "error": str(exc)[:200]}))
                break
            t1 = time.perf_counter()
            j0 = sc._jsc.sc().statusTracker().getJobIdsForGroup(None)
            n_jobs0 = len(j0)
            if use_noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            t2 = time.perf_counter()
            j1 = sc._jsc.sc().statusTracker().getJobIdsForGroup(None)
            best_build = min(best_build, t1 - t0)
            best_exec = min(best_exec, t2 - t1)
            jobs = len(j1) - n_jobs0
        else:
            print(
                json.dumps(
                    {
                        "query": name,
                        "build_s": round(best_build, 3),
                        "exec_s": round(best_exec, 3),
                        "action_jobs": jobs,
                    }
                )
            )
            sys.stdout.flush()


if __name__ == "__main__":
    main()
