"""End-to-end training run — the engine's equivalent of the reference's
mains (mains/main_train_{brf,urf}.py + export_results.py): fixtures →
matching → weather → dataset → model → evaluation → exported results.

Thin CLI over accident_prediction_montreal_spark.ml.reference_run (the
shared path the model-quality goldens gate).

Usage: python scripts/train_reference_pipeline.py [brf|urf|gbt] [out_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from accident_prediction_montreal_spark import get_session
from accident_prediction_montreal_spark.ml.reference_run import (
    build_training_frames,
    train_reference,
)


def main() -> None:
    algo = sys.argv[1] if len(sys.argv) > 1 else "brf"
    if algo == "--json-all":
        # Golden mode (tests/test_ml_goldens.py): all three algorithms in
        # one engine-default session, ONE JSON line on stdout. Metrics are
        # bit-reproducible for a fixed session config, which is why the
        # goldens gate this subprocess (engine session) rather than an
        # in-pytest fit under the test harness's differently-sized local[4]
        # session (double-accumulation order shifts features → trees).
        import json

        from accident_prediction_montreal_spark.ml.reference_run import ALGORITHMS

        spark = get_session("train-golden")
        train, test = build_training_frames(spark)
        out = {a: train_reference(spark, a, train, test) for a in ALGORITHMS}
        print(json.dumps(out))
        return
    out_base = sys.argv[2] if len(sys.argv) > 2 else "/tmp/apm_results"
    spark = get_session(f"train-{algo}")
    train, test = build_training_frames(spark)
    metrics = train_reference(spark, algo, train, test, out_base=out_base)
    print(f"results written to {metrics['result_dir']}")
    print(
        f"test AUPRC={metrics['test']['areaUnderPR']:.4f} "
        f"AUROC={metrics['test']['areaUnderROC']:.4f}"
    )


if __name__ == "__main__":
    main()
