"""Month-shard incremental backfill driver.

The reference's generator main loops over calendar months, starts a
fresh SparkSession per shard, writes each month's output to its own
directory, and unions the shards at the end (reference
mains/main_gen_match.py:20-75) — incremental backfill that bounds
memory, survives mid-run failure, and lets a re-run skip finished
months.

Spark-first re-expression: each shard lands under
``out_dir/month_key=YYYY-MM`` so the combined result is ONE partitioned
parquet scan with partition pruning (no driver-side union of N
DataFrames), the per-shard ``_SUCCESS`` marker makes the loop resumable
(finished shards are skipped, the reference's "if exists: continue"),
and the optional ``session_factory`` reproduces the
fresh-session-per-shard isolation when a shard's lineage would otherwise
accumulate (the reference restarts the JVM per month for exactly that
reason).

At 100 TB: shards are independent write jobs (schedule them on separate
clusters if needed); the final consumer prunes to the months it needs
via the ``month_key`` partition column.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def month_keys(events: DataFrame, ts_col: str = "ts") -> list[str]:
    """Distinct 'YYYY-MM' keys present in ``events`` (driver-side list of
    shard ids — small by construction: one entry per calendar month)."""
    rows = (
        events.select(F.date_format(ts_col, "yyyy-MM").alias("mk"))
        .distinct()
        .collect()
    )
    # NULL event times have no shard (date_format -> NULL); callers that
    # need them must handle NULL-ts rows explicitly upstream.
    return sorted(r["mk"] for r in rows if r["mk"] is not None)


def backfill_month_shards(
    spark: SparkSession,
    out_dir: str,
    months: list[str],
    compute_shard: Callable[[SparkSession, str], DataFrame],
    session_factory: Callable[[], SparkSession] | None = None,
    overwrite: bool = False,
    partition_col: str = "month_key",
    merge_schema: bool = False,
) -> DataFrame:
    """Run ``compute_shard(session, month_key)`` for every month whose
    shard directory is not already complete; return the unioned result as
    one partitioned scan.

    ``compute_shard`` must NOT include the ``partition_col`` column (it
    becomes the partition directory), and — in the shared-session mode —
    its shards must be INDEPENDENT: shard N's plan may not read shard
    N-1's written output or rely on per-shard side effects, because the
    writes overlap and a failed shard no longer stops later shards from
    being submitted (a caller needing strict month-by-month sequencing
    gets it via ``session_factory``, which stays sequential by
    contract). Schemas may EVOLVE
    across shards — a long-running backfill adds columns mid-run — when
    ``merge_schema`` is set the combined scan surfaces old shards'
    missing columns as NULL (S2/x9 semantics); without it all shards
    must agree. With
    ``session_factory`` each pending shard gets a fresh session from the
    factory (the reference's per-month restart); the factory owns
    stop/reuse semantics — this loop never stops a session it was
    handed. ``partition_col`` generalizes the shard grain (day keys for
    intra-month backfills, month keys for the reference shape).
    """
    pending: list[tuple[str, str]] = []
    for mk in months:
        shard_dir = os.path.join(out_dir, f"{partition_col}={mk}")
        done = os.path.exists(os.path.join(shard_dir, "_SUCCESS"))
        if done and not overwrite:
            continue
        pending.append((mk, shard_dir))
    if session_factory is not None:
        # Per-shard sessions are the reference's restart-isolation mode —
        # strictly sequential (the factory may stop the previous session).
        for mk, shard_dir in pending:
            compute_shard(session_factory(), mk).write.mode("overwrite").parquet(
                shard_dir
            )
    else:
        # Shard writes are independent jobs on disjoint directories, so
        # only their SUBMISSION order matters for semantics, not their
        # completion order. Plans are still built in month order (callers
        # may count/sequence compute_shard calls); the write ACTIONS are
        # overlapped so N small jobs pay ~1 job's scheduling latency
        # instead of N (each shard here is a sub-second job whose fixed
        # cost — scheduling, file commit — dominates its compute). A
        # failed shard propagates after the in-flight writes finish;
        # shards that completed are _SUCCESS-marked and a re-run skips
        # them — the same resume contract as the sequential loop.
        # Degree of write overlap: enough in-flight jobs to back-fill the
        # tail of each small job with the next one's tasks, bounded by
        # the session's core count so the pool never over-subscribes a
        # small cluster (guide §2.6: 'enough to fill the tail, not so
        # many that they fight for executors'). Scale-adaptive, not a
        # local[32] constant: half the session's own parallelism.
        par = max(2, spark.sparkContext.defaultParallelism // 2)
        if len(pending) <= 1:
            for mk, shard_dir in pending:
                compute_shard(spark, mk).write.mode("overwrite").parquet(shard_dir)
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(min(par, len(pending))) as ex:
                # Plans are built in month order on the driver, but each
                # write ACTION is submitted the moment its plan exists —
                # shard N+1's (driver-side) Catalyst work overlaps shard
                # N's (executor-side) write instead of paying the ~31
                # serial plan builds up front (guide §2.6).
                futs = []
                for mk, d in pending:
                    df = compute_shard(spark, mk)
                    futs.append(
                        ex.submit(
                            lambda df=df, d=d: df.write.mode("overwrite").parquet(d)
                        )
                    )
                for f in futs:
                    f.result()
    # One partitioned read, restricted to the REQUESTED months: out_dir may
    # hold shards from earlier runs with a different month list, and the
    # isin filter prunes those whole directories at the scan (partition_col
    # is the partition column).
    reader = spark.read.option("basePath", out_dir)
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(out_dir).filter(F.col(partition_col).isin(months))


def monthly_event_rollup(
    spark: SparkSession, sf_dir: str, out_dir: str, months: list[str] | None = None
) -> DataFrame:
    """Reference-shaped backfill over the events table: per month shard,
    (event_type, n, value_sum) — decimal-exact sums so shard boundaries
    can't change the result. Returns the combined partitioned scan."""
    from accident_prediction_montreal_spark.sources.registry import load_table

    events = load_table(spark, "events", sf_dir)
    months = months or month_keys(events)

    def compute_shard(s: SparkSession, mk: str) -> DataFrame:
        ev = load_table(s, "events", sf_dir)
        # Range predicate, not date_format(ts) == mk: a bare-column
        # comparison reaches the parquet scan (PushedFilters -> row-group
        # pruning); an expression filter would read every row of every
        # month in every shard job — quadratic total I/O in shard count.
        y, m = int(mk[:4]), int(mk[5:7])
        ny, nm = (y + 1, 1) if m == 12 else (y, m + 1)
        lo = F.lit(f"{y:04d}-{m:02d}-01 00:00:00").cast("timestamp_ntz")
        hi = F.lit(f"{ny:04d}-{nm:02d}-01 00:00:00").cast("timestamp_ntz")
        return (
            ev.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(38,6)"))
                .cast("double")
                .alias("value_sum"),
            )
        )

    return backfill_month_shards(spark, out_dir, months, compute_shard)
