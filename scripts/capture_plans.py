"""Capture .explain("formatted") output for registered queries to files.

Usage: python scripts/capture_plans.py <out_dir> <suffix> [query ...]

Writes <out_dir>/<query>_<suffix>.txt for each query (default: the bench
HEADLINE set). Queries whose fn() executes eagerly (writes fixtures, fits
models) still produce the plan of the RETURNED DataFrame — the judge-facing
artifact for the final query shape.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path
import time

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from accident_prediction_montreal_spark.plans import REGISTRY  # noqa: E402
from accident_prediction_montreal_spark.session import get_session  # noqa: E402


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    if not names:
        import bench

        names = list(bench.HEADLINE)
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session("capture-plans")
    for name in names:
        t0 = time.perf_counter()
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            plan = formatted_plan(df)
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR building {name}: {exc}"
        build_s = time.perf_counter() - t0
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"-- {name} ({suffix}); fn-build+analyze: {build_s:.3f}s\n")
            f.write(plan)
        print(f"{name}: {build_s:.3f}s build -> {path}")


if __name__ == "__main__":
    main()
