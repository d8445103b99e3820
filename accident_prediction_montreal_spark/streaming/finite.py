"""Finite streams: how every availableNow query reads, drains, times out
and cleans up.

The drain contract (``drain``), stated once:

* Trigger: ``Trigger.AvailableNow`` — the query processes what its
  source holds at start, in as many micro-batches as the source's rate
  limit asks for (``maxFilesPerTrigger``), then stops by itself.
* Partition pin: ``session.state_partitions`` holds
  ``spark.sql.shuffle.partitions`` small from planning to the end of the
  drain, and restores the caller's value on every exit path.
* Timeout: the drain waits at most ``DRAIN_TIMEOUT_S``. A query still
  running then is stopped, and ``StreamDrainTimeout`` names it and the
  limit — a hung stream fails fast instead of blocking its caller. The
  slowest drain of the sf0.01 oracle sweep (st_stream_stream_outer) took
  6.0 s on a 4-core host; the limit is 50 times that, room for sf1.
* Memory sink (``sink=None``): the query writes a uniquely named memory
  sink; the result is taken with ``spark.table`` and the temp view is
  dropped before return, so the session catalog is left as it was
  found. The frame keeps its analyzed plan over the sink's rows and
  still evaluates; the rows live as long as the frame does.
* foreachBatch sink (a callable ``sink``): each micro-batch goes to
  ``sink(batch_df, batch_id)``, with ``checkpoint`` as the query's
  checkpoint location.
* Scratch reuse: a query whose sink or checkpoint lives on disk puts it
  under ``sources/scratch.py::session_dir`` (one directory per query,
  dataset and session, removed when the process exits) and removes that
  directory before it runs. The checkpoint log is opened in append mode, so a stale one
  would mark the input as already committed. A scratch-backed result
  therefore stays valid only until the next call of the same query in
  that session.

The readers and fixtures every finite stream of the engine starts from
live here too: ``read_events_stream`` (the events encoding every engine
fixture writes), ``events_stream`` (the events testdata table, whatever
its on-disk ts encoding), ``two_batch_fixture`` / ``late_data_fixture``
and ``pin_arrival_order``.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from accident_prediction_montreal_spark.session import state_partitions
from accident_prediction_montreal_spark.sources.scratch import fixture_dir
from accident_prediction_montreal_spark.sources.registry import (
    TABLES,
    ntz_to_timestamp,
)

#: Longest a finite stream may take to drain, in seconds.
DRAIN_TIMEOUT_S = 300


class StreamDrainTimeout(RuntimeError):
    """A finite stream did not drain within ``DRAIN_TIMEOUT_S``."""


def drain(
    stream: DataFrame,
    output_mode: str,
    sink: Callable[[DataFrame, int], None] | None = None,
    checkpoint: str | None = None,
) -> DataFrame | None:
    """Run ``stream`` to completion under the module's drain contract.

    With ``sink=None`` return the drained rows as a batch DataFrame;
    with a foreachBatch ``sink`` return None (the sink holds the result).
    """
    spark = stream.sparkSession
    name = "drain_" + uuid.uuid4().hex[:8]
    writer = stream.writeStream.queryName(name).outputMode(output_mode)
    if sink is None:
        writer = writer.format("memory")
    else:
        writer = writer.foreachBatch(sink).option("checkpointLocation", checkpoint)
    with state_partitions(spark):
        query = writer.trigger(availableNow=True).start()
        try:
            if not query.awaitTermination(DRAIN_TIMEOUT_S):
                raise StreamDrainTimeout(
                    f"stream {name} (id {query.id}) did not drain within "
                    f"{DRAIN_TIMEOUT_S} s"
                )
            return spark.table(name) if sink is None else None
        finally:
            query.stop()
            if sink is None:
                spark.catalog.dropTempView(name)


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of events parquet under ``path``.

    The files carry ``TABLES["events"]`` (ts as TIMESTAMP_NTZ micros), the
    encoding every engine fixture writes. ``ts`` comes out as TIMESTAMP
    holding the same micros, because watermarks reject NTZ event time
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).
    """
    reader = spark.readStream.schema(TABLES["events"])
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _ntz_ts(reader.parquet(path))


def _ntz_ts(df: DataFrame) -> DataFrame:
    return df.withColumn("ts", ntz_to_timestamp(F.col("ts")))


def pin_arrival_order(paths: list[str]) -> None:
    """Make the file stream source see ``paths`` in list order.

    The source orders files by modification time, so the i-th path (every
    entry under it, for a directory) gets an mtime of a fixed epoch + i.
    Under maxFilesPerTrigger=1 each path is then its own micro-batch, in
    order.
    """
    for i, p in enumerate(paths):
        entries = [p]
        if os.path.isdir(p):
            entries = [os.path.join(p, f) for f in os.listdir(p)]
        for entry in entries:
            os.utime(entry, (1_000_000_000 + i, 1_000_000_000 + i))


def probe_events_ts_encoding(path: str):
    """Read the parquet footer of the events table (pyarrow — no Spark
    session involved, and crucially the EXACT file the stream will list,
    not an assumption about what the testdata "should" contain) and return
    ``(encoding, first_micros)`` where encoding is ``"nanos"`` for INT64
    TIMESTAMP(NANOS) and ``"us"`` for timestamp[us]/NTZ, and first_micros
    is row 0's ts in epoch micros — used as a planted sanity check on the
    decoded stream so an encoding/data mismatch fails loudly instead of
    silently compressing time 1000x (the round-3 bug)."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    typ = pf.schema_arrow.field("ts").type
    unit = getattr(typ, "unit", None)
    if unit == "ns":
        enc = "nanos"
    elif unit == "us":
        enc = "us"
    else:
        raise ValueError(f"events.ts has unsupported parquet type {typ!r} at {path}")
    first = pf.read_row_group(0, columns=["ts"]).column("ts")[0]
    import pyarrow as pa

    first_us = pa.compute.cast(first, pa.int64()).as_py()
    if enc == "nanos":
        first_us //= 1000
    return enc, first_us


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the events testdata table.

    The file stream source lists a DIRECTORY; the testdata table may be a
    single parquet file — expose it through a per-sf_dir temp directory of
    symlinks (no data copied). The on-disk ts encoding has shipped both as
    INT64 TIMESTAMP(NANOS) and as timestamp[us] (no timezone): probe the
    actual file's parquet footer and branch, then assert the decoded
    stream's min(ts) matches the footer's row-0 micros so any mismatch
    fails loudly. The nanos branch sets
    ``spark.sql.legacy.parquet.nanosAsLong=true`` on the caller's session
    and leaves it set, like ``sources/registry.py::load_table``.
    """
    src = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(src):
        stream_dir = src
        parts = sorted(
            os.path.join(src, f)
            for f in os.listdir(src)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        if not parts:
            raise FileNotFoundError(
                f"events table directory {src} holds no top-level *.parquet "
                "files to probe (nested layouts are not supported here)"
            )
        probe_target = parts[0]
    else:
        target, stream_dir = fixture_dir("stream", sf_dir)
        os.makedirs(stream_dir, exist_ok=True)
        link = os.path.join(stream_dir, "events.parquet")
        if os.path.islink(link) and os.readlink(link) != target:
            os.remove(link)
        if not os.path.exists(link):
            try:
                os.symlink(target, link)
            except FileExistsError:
                # Concurrent process won the exists-check race; accept its
                # link if it points at the same file, else fail loudly.
                if os.path.realpath(link) != target:
                    raise
        # Probe through the LINK so a stale symlink (pointing at an old
        # sf_dir's data) is caught by the first-batch assertion below.
        probe_target = link

    encoding, first_us = probe_events_ts_encoding(probe_target)
    if encoding == "nanos":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        disk_schema = T.StructType(
            [
                T.StructField("ts", T.LongType()) if f.name == "ts" else f
                for f in TABLES["events"].fields
            ]
        )

        def decode(df: DataFrame) -> DataFrame:
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))

        decoded = decode(spark.readStream.schema(disk_schema).parquet(stream_dir))
    else:
        disk_schema, decode = TABLES["events"], _ntz_ts
        decoded = read_events_stream(spark, stream_dir)

    # Planted-timestamp sanity gate: batch-decode THE FILE THE FOOTER WAS
    # READ FROM (not the whole directory — Spark orders a multi-file scan
    # by size, so directory row 0 need not be the probed file's row 0) and
    # compare row 0 against the footer's micros. Cheap (one row, one file)
    # and catches encoding drift the moment it happens.
    check = decode(spark.read.schema(disk_schema).parquet(probe_target).limit(1))
    got = check.select(F.unix_micros("ts").alias("us")).first()
    if got is None or got["us"] != first_us:
        raise AssertionError(
            f"events stream decode mismatch at {stream_dir}: footer says first "
            f"ts={first_us}us ({encoding}), decoded row gives "
            f"{got['us'] if got else None}us — refusing to stream wrong time"
        )
    return decoded


def late_data_fixture(sf_dir: str) -> str:
    """Build (once per events file) a 3-file stream fixture directory:

      1. ``a_bulk.parquet``   — the events table, byte-copied via pyarrow
         with ts normalized to timestamp[us];
      2. ``b_clock.parquet``  — ONE synthetic event 10 hours after the bulk
         max(ts), which advances the watermark past every bulk window;
      3. ``c_late.parquet``   — ONE synthetic event back inside the bulk
         range, now far below the watermark, which a correct engine MUST
         drop.

    File mtimes are pinned ascending so the file stream source (which
    orders by modification time) processes them as three separate
    micro-batches under maxFilesPerTrigger=1 — watermarks only advance
    BETWEEN micro-batches, so the ordering is what makes the late row
    actually late. The fixture is keyed by the source file's identity
    (path, size, mtime) so regenerated testdata invalidates it.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src, fix_dir = fixture_dir("late", sf_dir)
    paths = [
        os.path.join(fix_dir, "a_bulk.parquet"),
        os.path.join(fix_dir, "b_clock.parquet"),
        os.path.join(fix_dir, "c_late.parquet"),
    ]
    if all(os.path.exists(p) for p in paths):
        return fix_dir
    os.makedirs(fix_dir, exist_ok=True)

    bulk = pq.read_table(src)
    ts_us = pa.timestamp("us")
    idx = bulk.schema.get_field_index("ts")
    bulk = bulk.set_column(idx, "ts", pc.cast(bulk.column("ts"), ts_us))
    pq.write_table(bulk, paths[0])

    max_us = pc.max(pc.cast(bulk.column("ts"), pa.int64())).as_py()
    min_us = pc.min(pc.cast(bulk.column("ts"), pa.int64())).as_py()
    mid_us = (min_us + max_us) // 2
    schema = pa.schema(
        [
            pa.field("event_id", pa.int64()),
            pa.field("ts", ts_us),
            pa.field("user_id", pa.int64()),
            pa.field("event_type", pa.string()),
            pa.field("value", pa.float64()),
            pa.field("props", pa.string()),
        ]
    )

    def one_row(event_id: int, us: int, etype: str) -> pa.Table:
        return pa.table(
            {
                "event_id": pa.array([event_id], pa.int64()),
                "ts": pa.array([us], pa.int64()).cast(ts_us),
                "user_id": pa.array([-1], pa.int64()),
                "event_type": pa.array([etype], pa.string()),
                "value": pa.array([0.0], pa.float64()),
                "props": pa.array(["{}"], pa.string()),
            },
            schema=schema,
        )

    pq.write_table(one_row(-101, max_us + 10 * 3600 * 1_000_000, "clock_advance"), paths[1])
    pq.write_table(one_row(-102, mid_us, "late_planted"), paths[2])
    pin_arrival_order(paths)
    return fix_dir


def two_batch_fixture(sf_dir: str) -> str:
    """Split the events table into TWO parquet files at the 60%-of-time
    point, mtime-pinned ascending, so maxFilesPerTrigger=1 yields two
    micro-batches whose boundary cuts through live sessions — the
    capstone's cross-batch session-merge is then load-bearing, not
    vacuous. Keyed by the source file's identity like late_data_fixture."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src, fix_dir = fixture_dir("2batch", sf_dir)
    paths = [
        os.path.join(fix_dir, "a_early.parquet"),
        os.path.join(fix_dir, "b_late.parquet"),
    ]
    if all(os.path.exists(p) for p in paths):
        return fix_dir
    os.makedirs(fix_dir, exist_ok=True)

    tbl = pq.read_table(src)
    ts_us = pa.timestamp("us")
    idx = tbl.schema.get_field_index("ts")
    tbl = tbl.set_column(idx, "ts", pc.cast(tbl.column("ts"), ts_us))
    as_i64 = pc.cast(tbl.column("ts"), pa.int64())
    lo, hi = pc.min(as_i64).as_py(), pc.max(as_i64).as_py()
    cut = lo + (hi - lo) * 6 // 10
    mask = pc.less(as_i64, pa.scalar(cut))
    pq.write_table(tbl.filter(mask), paths[0])
    pq.write_table(tbl.filter(pc.invert(mask)), paths[1])
    pin_arrival_order(paths)
    return fix_dir
