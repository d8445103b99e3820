"""Measure the two registrable-domain forms at full-size-PSL scale
(r12 verdict ask #4): the HOF literal-array scan (O(|PSL| x labels)
string compares per row) vs the per-suffix-length broadcast-join chain
(O(labels) hash probes per row), across PSL sizes from the fixture's 11
rules to a real-snapshot-sized 9k, over distributed synthetic hosts.

Writes BENCH_psl_r13.json and prints one JSON line. There is no
auto-gate: callers choose the form explicitly, and the measured
crossover here is the documentation for that choice (the join form is
flat in |PSL|, so it is the production default for any real list; the
HOF form remains the oracle-mirrored reference at fixture scale).

Usage: python scripts/bench_psl.py [n_hosts]
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path
import time

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from accident_prediction_montreal_spark.functions.url import (  # noqa: E402
    PSL_SNAPSHOT,
    registrable_domain,
    registrable_domain_join,
    synthetic_psl,
)
from accident_prediction_montreal_spark.session import get_session  # noqa: E402


def synthetic_hosts(spark, n: int):
    """Distributed host generator — pure column arithmetic over
    spark.range, no driver-side data. Mix: ~2/3 known synthetic TLDs
    (t0000..), 1/3 unknown; half carry a second-level label that may or
    may not be a registry rule; label depth 2-4."""
    ident = F.col("id")
    tld = F.concat(F.lit("t"), F.lpad((ident % 6000).cast("string"), 4, "0"))
    second = F.element_at(
        F.lit(["co", "or", "ac", "go", "ne", "ed", "zz", "qq"]),
        (ident % 8 + 1).cast("int"),
    )
    dom = F.concat(F.lit("d"), (ident % 10007).cast("string"))
    sub = F.concat(F.lit("s"), (ident % 97).cast("string"))
    host = (
        F.when(ident % 3 == 0, F.concat_ws(".", dom, tld))
        .when(ident % 3 == 1, F.concat_ws(".", dom, second, tld))
        .otherwise(F.concat_ws(".", sub, dom, second, tld))
    )
    return spark.range(n).select(host.alias("host"))


def consume(df) -> tuple[int, int, int]:
    # count(reg) + sum(length(reg)) force the column's computation —
    # a bare .count() would let Catalyst prune the whole expression.
    # sum(xxhash64(reg)) is the order-insensitive value checksum: per-row
    # divergences between the two forms can't cancel in (count, chars)
    # AND a 64-bit hash sum (the hypothesis suite covers exact equality,
    # but only at small host counts).
    row = df.agg(
        F.count("reg").alias("n"),
        F.sum(F.length("reg")).alias("c"),
        F.sum(F.xxhash64("reg")).alias("h"),
    ).collect()[0]
    return row["n"], row["c"], row["h"]


def main() -> None:
    n_hosts = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    spark = get_session("bench-psl")
    hosts = synthetic_hosts(spark, n_hosts).persist()
    hosts.count()  # materialize once; both forms read the same input

    sizes = {
        "fixture_11": list(PSL_SNAPSHOT),
        "s64": synthetic_psl(64),
        "s256": synthetic_psl(256),
        "s1024": synthetic_psl(1024),
        "s9000": synthetic_psl(9000),
    }
    out: dict = {
        "metric": "registrable_domain_forms",
        "n_hosts": n_hosts,
        "unit": "sec",
        "forms": {},
    }
    checks: dict = {}
    for label, psl in sizes.items():
        t0 = time.perf_counter()
        hof_n = consume(
            hosts.withColumn("reg", registrable_domain("host", psl))
        )
        t_hof = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        join_n = consume(registrable_domain_join(hosts, "host", "reg", psl))
        t_join = round(time.perf_counter() - t0, 3)
        # the two forms must agree on count AND total chars of output
        assert hof_n == join_n, f"{label}: {hof_n} != {join_n}"
        checks[label] = list(hof_n)
        out["forms"][label] = {
            "n_rules": len(psl),
            "hof_s": t_hof,
            "join_s": t_join,
            "winner": "hof" if t_hof <= t_join else "join",
        }
        print(f"  {label}: hof {t_hof}s join {t_join}s", file=sys.stderr)
    out["agree_checks"] = checks
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_psl_r14.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
