"""Wave-7 streaming addition (r7): checkpoint RESUME — the
exactly-once restart contract every production stream depends on,
exercised with two real runs of the SAME query against the SAME
checkpoint with data arriving in between.

Note on the Spark-4 ``transformWithStateInPandas`` API: it requires a
working protobuf runtime for its driver-side state server, which this
container lacks (``google.protobuf`` ImportError; no installs allowed),
so the custom-stateful surface is covered by
``applyInPandasWithState`` (streaming/stateful.py) instead —
environment-gated the same way as XGBoost (SURVEY §7.3).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from accident_prediction_montreal_spark.plans.registry import register
from accident_prediction_montreal_spark.plans.relational_extra import _scratch
from accident_prediction_montreal_spark.sources.registry import load_table
from accident_prediction_montreal_spark.streaming.finite import (
    drain,
    read_events_stream,
    two_batch_fixture,
)


@register(
    "st_checkpoint_resume",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS value_sum
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    description="Checkpoint RESUME / exactly-once restart (§2.12, the "
    "operational contract the other 15 streaming queries assume): run "
    "a file-source stream to completion (availableNow) through a "
    "foreachBatch parquet appender with a checkpoint, land MORE files "
    "in the source, then start the SAME query AGAIN on the SAME "
    "checkpoint. The second run must process ONLY the new files — the "
    "committed offset log is what says so — and the union of both "
    "runs' appends must equal the full source exactly once. Any "
    "reprocessing doubles a count and any lost offset drops one, so "
    "the decimal-exact per-type checksums catch both failure modes. "
    "At 100 TB this is the nightly-ingest restart story: resume is a "
    "metadata read, never a rescan of committed input.",
)
def st_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    base, _ = _scratch("stresume", sf_dir)
    # Re-runs within a session must start from a clean slate or the old
    # checkpoint would mark the first file as already committed.
    shutil.rmtree(base, ignore_errors=True)
    in_dir = os.path.join(base, "in")
    out_dir = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(in_dir, exist_ok=True)

    fix_dir = two_batch_fixture(sf_dir)
    stream = read_events_stream(spark, in_dir)

    def append_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    # Run 1: only the early file exists. New data lands; run 2 resumes
    # from the SAME checkpoint.
    for name in ("a_early.parquet", "b_late.parquet"):
        shutil.copyfile(os.path.join(fix_dir, name), os.path.join(in_dir, name))
        drain(stream, "append", sink=append_batch, checkpoint=ckpt)

    got = spark.read.parquet(out_dir)
    return (
        got.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,6)")).cast("double"), 6
            ).alias("value_sum"),
        )
        .orderBy("event_type")
    )
