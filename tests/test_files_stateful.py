"""CSV source/sinks and the custom stateful streaming operator."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from accident_prediction_montreal_spark.sources.files import (
    read_csv,
    to_pandas_csv,
    write_parquet,
)
from accident_prediction_montreal_spark.sources.registry import TABLES
from accident_prediction_montreal_spark.streaming.stateful import running_user_stats
from accident_prediction_montreal_spark.streaming.finite import (
    drain,
    read_events_stream,
)

CSV_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def test_read_csv_schema_enforced(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("id,name,score\n1,alpha,0.5\n2,beta,1.25\n")
    df = read_csv(spark, str(p), CSV_SCHEMA)
    assert df.dtypes == [("id", "bigint"), ("name", "string"), ("score", "double")]
    assert df.count() == 2


def test_read_csv_failfast_on_malformed(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text("id,name,score\nnot_a_number,x,y\n")
    with pytest.raises(Exception):
        read_csv(spark, str(p), CSV_SCHEMA).collect()
    # PERMISSIVE keeps the row with nulls instead
    df = read_csv(spark, str(p), CSV_SCHEMA, mode="PERMISSIVE")
    row = df.first()
    assert row["id"] is None


def test_write_parquet_partitioned(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 0.5), (2, "b", 1.5), (3, "a", 2.5)], CSV_SCHEMA
    ).withColumnRenamed("name", "part")
    out = str(tmp_path / "out")
    write_parquet(df, out, partition_by=["part"])
    back = spark.read.parquet(out)
    assert back.count() == 3
    # partition pruning: filter on the partition column reads one directory
    pruned = back.filter(F.col("part") == "a")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert pruned.count() == 2


def test_to_pandas_csv(spark, tmp_path):
    df = spark.createDataFrame([(1, "x", 9.0)], CSV_SCHEMA)
    path = str(tmp_path / "result.csv")
    to_pandas_csv(df, path)
    assert open(path).read().startswith("id,name,score")


def test_running_user_stats_stateful(spark, tmp_path):
    rows = [
        (1, "2024-01-01 00:00:00", 10, "click", 1.0, "{}"),
        (2, "2024-01-01 00:01:00", 10, "click", 2.0, "{}"),
        (3, "2024-01-01 00:02:00", 10, "click", 4.0, "{}"),
        (4, "2024-01-01 00:00:30", 20, "view", 8.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts_s", "user_id", "event_type", "value", "props"]
    ).select(
        F.col("event_id").cast("long"),
        F.col("ts_s").cast("timestamp_ntz").alias("ts"),
        F.col("user_id").cast("long"),
        "event_type",
        F.col("value").cast("double"),
        "props",
    )
    path = str(tmp_path / "stream_in")
    df.select(*TABLES["events"].fieldNames()).write.parquet(path)

    stream = read_events_stream(spark, path)
    # take the LAST emitted row per user (update mode may emit per batch)
    out = drain(running_user_stats(stream), "update").toPandas()
    last = out.sort_values("n_events").groupby("user_id").last()
    assert last.loc[10, "n_events"] == 3 and last.loc[10, "value_sum"] == 7.0
    d = math.exp(-0.5)
    assert abs(last.loc[10, "activity"] - ((1 * d + 1) * d + 1)) < 1e-9
    assert last.loc[20, "n_events"] == 1 and last.loc[20, "activity"] == 1.0
