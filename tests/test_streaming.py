"""Structured Streaming surface: run the builders against a file-source
stream drained by streaming/finite.py::drain and check the results match
the batch twins; pin the drain contract itself (catalog left as found,
timeout, partition pin restored, scratch reuse)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from accident_prediction_montreal_spark.operators.sessionize import sessionize
from accident_prediction_montreal_spark.sources.registry import TABLES
from accident_prediction_montreal_spark.streaming import finite
from accident_prediction_montreal_spark.streaming.finite import (
    StreamDrainTimeout,
    drain,
    read_events_stream,
)
from accident_prediction_montreal_spark.streaming.windows import (
    dedup_within_watermark,
    session_aggregates,
    tumbling_counts,
)


@pytest.fixture(scope="module")
def event_fixture(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("events_stream"))
    rows = [
        # user 1: two sessions (gap > 30 min between event 2 and 3)
        (1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
        (2, "2024-01-01 10:10:00", 1, "click", 2.0, "{}"),
        (3, "2024-01-01 11:00:01", 1, "view", 4.0, "{}"),
        # user 2: one event + an exact duplicate event_id
        (4, "2024-01-01 10:20:00", 2, "click", 8.0, "{}"),
        (4, "2024-01-01 10:20:00", 2, "click", 8.0, "{}"),
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
    df.select(*TABLES["events"].fieldNames()).write.mode("overwrite").parquet(path)
    return path


def test_tumbling_stream_counts(spark, event_fixture):
    # complete mode: with availableNow the watermark never passes the last
    # window, so append would emit nothing on a finite fixture.
    stream = read_events_stream(spark, event_fixture)
    assert stream.isStreaming
    out = drain(tumbling_counts(stream), "complete")
    rows = {(r["win_start"].hour, r["event_type"]): r["n"] for r in out.collect()}
    assert rows[(10, "click")] == 4  # duplicate included here (no dedup)
    assert rows[(11, "view")] == 1


def test_session_stream_matches_batch_twin(spark, event_fixture):
    stream = read_events_stream(spark, event_fixture)
    out = drain(session_aggregates(stream, gap="30 minutes"), "complete")
    got = {
        (r["user_id"], r["session_start"]): r["n_events"] for r in out.collect()
    }
    batch = spark.read.parquet(event_fixture)
    twin = sessionize(batch, gap_seconds=1800)
    expected = {
        (r["user_id"], r["session_start"]): r["n_events"] for r in twin.collect()
    }
    assert got == expected
    assert len(got) == 3


def test_dedup_within_watermark(spark, event_fixture):
    stream = read_events_stream(spark, event_fixture)
    out = drain(dedup_within_watermark(stream), "append")
    ids = sorted(r["event_id"] for r in out.collect())
    assert ids == [1, 2, 3, 4]  # duplicate event_id 4 dropped


def test_stream_static_enrichment(spark, event_fixture):
    from accident_prediction_montreal_spark.streaming.windows import enrich_with_dim

    dim = spark.createDataFrame([(1, "gold"), (2, "silver")], ["user_id", "tier"])
    stream = read_events_stream(spark, event_fixture)
    out = drain(enrich_with_dim(stream, dim), "append")
    rows = out.collect()
    assert len(rows) == 5  # all events pass through
    tiers = {r["user_id"]: r["tier"] for r in rows}
    assert tiers[1] == "gold" and tiers[2] == "silver"


def test_stream_stream_join_pairs_every_event(spark, events_stream_fixture=None):
    import pyspark.sql.functions as F

    from accident_prediction_montreal_spark.streaming.windows import (
        stream_stream_join,
    )

    # batch semantics of the builder: same condition, bounded skew
    from datetime import datetime

    rows = [
        (1, datetime(2024, 1, 1, 10, 0), 1.0),
        (2, datetime(2024, 1, 1, 11, 0), 2.0),
    ]
    left = spark.createDataFrame(rows, ["event_id", "ts", "value"])
    right = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 10, 30), 10.0),   # within 1h -> match
            (2, datetime(2024, 1, 1, 12, 30), 20.0),   # 90min off -> dropped
        ],
        ["r_event_id", "r_ts", "r_value"],
    )
    out = stream_stream_join(left, right).select("event_id", "r_value").collect()
    assert [(r["event_id"], r["r_value"]) for r in out] == [(1, 10.0)]


def test_stream_stream_outer_null_emission(spark):
    """The registered left-outer query at sf0.001: odd-id rows emit with
    NULL r_value only after the clock batch pushes the watermark; the
    synthetic clock row itself stays withheld (never provably
    unmatched)."""
    from accident_prediction_montreal_spark.plans import REGISTRY

    out = REGISTRY["st_stream_stream_outer"].fn(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    ids = [r["event_id"] for r in rows]
    assert len(ids) == len(set(ids))
    assert all(i >= 0 for i in ids)  # synthetics excluded by construction
    for r in rows:
        if r["event_id"] % 2 == 0:
            assert r["r_value"] == r["value"] * 2
        else:
            assert r["r_value"] is None
    assert any(r["event_id"] % 2 == 1 for r in rows)  # outer rows DID flush


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """The second availableNow run against the same checkpoint must
    process exactly the files that appeared after the first run: after
    run 1 the sink holds only batch-1 rows, after run 2 the union is
    exactly-once (no reprocessing of the committed file)."""
    import shutil

    from pyspark.sql import functions as F

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    (tmp_path / "in").mkdir()

    a = spark.range(0, 100).select(F.col("id"), F.lit("a").alias("src"))
    b = spark.range(100, 250).select(F.col("id"), F.lit("b").alias("src"))
    a.coalesce(1).write.parquet(str(tmp_path / "stage_a"))
    b.coalesce(1).write.parquet(str(tmp_path / "stage_b"))

    def land(stage: str, name: str) -> None:
        src = next((tmp_path / stage).glob("*.parquet"))
        shutil.copyfile(src, tmp_path / "in" / name)

    stream = spark.readStream.schema("id long, src string").parquet(in_dir)

    def append(df, _id):
        df.write.mode("append").parquet(out_dir)

    land("stage_a", "f1.parquet")
    drain(stream, "append", sink=append, checkpoint=ckpt)
    first = spark.read.parquet(out_dir)
    assert first.count() == 100 and first.filter("src = 'b'").count() == 0

    land("stage_b", "f2.parquet")
    drain(stream, "append", sink=append, checkpoint=ckpt)
    final = spark.read.parquet(out_dir)
    # exactly-once: 250 distinct ids, no id seen twice
    assert final.count() == 250
    assert final.select("id").distinct().count() == 250


def test_memory_drain_leaves_catalog_as_found(spark, event_fixture):
    before = sorted(t.name for t in spark.catalog.listTables())
    out = drain(read_events_stream(spark, event_fixture), "append")
    assert sorted(t.name for t in spark.catalog.listTables()) == before
    # the view is gone, the frame still evaluates over the sink's rows
    assert out.count() == 5


def test_hung_drain_times_out_and_cleans_up(
    spark, event_fixture, tmp_path, monkeypatch
):
    import time

    monkeypatch.setattr(finite, "DRAIN_TIMEOUT_S", 1)
    before = spark.conf.get("spark.sql.shuffle.partitions")

    def slow(df, _id):
        time.sleep(5)

    with pytest.raises(StreamDrainTimeout, match="within 1 s"):
        drain(
            read_events_stream(spark, event_fixture),
            "append",
            sink=slow,
            checkpoint=str(tmp_path / "ckpt"),
        )
    assert spark.streams.active == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


@pytest.fixture(scope="module")
def sf_dir(spark, event_fixture, tmp_path_factory):
    """A dataset directory whose events table is the stream fixture."""
    path = tmp_path_factory.mktemp("sf")
    spark.read.parquet(event_fixture).write.parquet(str(path / "events.parquet"))
    return str(path)


@pytest.mark.parametrize(
    "query, prefix", [("st_cdc_upsert_stream", "stcdc"), ("st_foreachbatch_sink", "fb")]
)
def test_repeat_calls_reuse_one_scratch_dir(
    spark, sf_dir, tmp_path, monkeypatch, query, prefix
):
    """Two calls of a foreachBatch-sink query in one session return the
    same rows and leave one scratch directory, not one per call."""
    import tempfile

    from accident_prediction_montreal_spark.plans import REGISTRY

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", None)
    fn = REGISTRY[query].fn
    first = sorted(fn(spark, sf_dir).collect())
    second = sorted(fn(spark, sf_dir).collect())
    assert first and first == second
    assert len(list(tmp_path.glob(f"spark_graft_{prefix}*/**/ckpt"))) == 1
