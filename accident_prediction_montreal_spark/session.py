"""SparkSession factory.

Replaces the reference's ``utils.py:18-44`` session builder (Kryo, RDD
compression, XGBoost classpath) with a Spark 3.x/4.x-idiomatic config:
AQE on, Arrow on, UTC timezone pinned so timestamp semantics match the
DuckDB oracle, shuffle partitions sized to the local core count instead
of the 2.x default of 200.

Generated code stays resident across queries. Spark keeps the Janino
classes it compiles in one JVM-wide LRU cache keyed by the source text,
100 entries by default. One pass of a workload needs more than that
(perfbench ``adhoc`` 143 classes, ``bulk`` 103, bench.py's 22-query
headline 381), and the queries rotate, so at the default nearly every
warm execution compiled its classes again and HotSpot JIT-compiled the
new bytecode again. ``CODEGEN_CACHE_ENTRIES`` holds the largest of
those working sets with room for the cache's per-segment LRU (PERF.md,
"Per-execution fixed costs"). Whole-stage class names also leave out
the codegen stage id: AQE numbers stages in the order it creates them,
which follows the order in which earlier stages finish, so the same
plan could render different source text on the next execution and miss
the cache (``m2_random_undersampler`` recompiled up to 22 classes on
some warm executions and none on others).

On a real cluster the same factory applies — only ``master`` and the
memory knobs change; shuffle partitioning is left to AQE coalescing.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def local_cpus() -> str:
    """The ``local[N]`` core count: ``SPARK_GRAFT_CPUS`` when set, else
    the cores this process may run on."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


#: ``spark.sql.codegen.cache.maxEntries``, a static conf: it sizes the
#: JVM-wide generated-class cache once, when the first session starts.
CODEGEN_CACHE_ENTRIES = 1000


def get_session(
    app_name: str = "accident_prediction_montreal_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults are sized for the test environment (single-JVM ``local[N]``)
    but every setting is cluster-safe: AQE re-plans shuffles at runtime,
    coalesces small partitions and splits skewed ones, so the static
    ``spark.sql.shuffle.partitions`` is only an upper bound.
    """
    cpus = local_cpus()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else len(os.sched_getaffinity(0))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        # ANSI off: x/0 → NULL (matches DuckDB and the SQL oracle), not an error.
        .config("spark.sql.ansi.enabled", "false")
        # Read INT64 TIMESTAMP(NANOS) parquet (events.ts) as long; the
        # loader converts to micros — Spark has no native nanos type.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.rdd.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Default state-store partition count for the finite streaming fixtures
# — shared by the ``state_partitions`` pin and by any batch side that
# pre-partitions itself to match a streaming join (e.g. the incremental
# dedup index, plans/dedup.py::st_incremental_dedup): the counts MUST agree or the cached
# HashPartitioning no longer satisfies the micro-batch join and the
# index re-shuffles every trigger.
STATE_PARTITIONS = 8


@contextmanager
def state_partitions(spark: SparkSession, n: int = STATE_PARTITIONS):
    """Pin ``spark.sql.shuffle.partitions`` while a streaming query is
    planned and drained, then restore the caller's value.

    Stateful streaming operators fix their STATE-STORE partition count
    from this conf at the query's first checkpoint, and every micro-batch
    then pays one state-store commit PER PARTITION PER STATEFUL OPERATOR
    — a fixed cost independent of data volume. For the finite availableNow
    fixtures here (a handful of micro-batches over small keyspaces) that
    fixed cost dominates wall time: st_stream_stream_outer measured 2.9 s
    at 4 partitions, 7.8-10 s at 32, and 31 s at vanilla-session 200 —
    identical results. Production picks this the same way: partitions
    sized to state volume, not to the session's batch-shuffle default.

    The conf is session-scoped, so the pin only surrounds one finite
    drain (``streaming/finite.py::drain``); batch plans built outside it
    are untouched (and AQE coalesces their shuffles at runtime anyway).
    """
    old = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset("spark.sql.shuffle.partitions")
        else:
            spark.conf.set("spark.sql.shuffle.partitions", old)
