"""Attribute Spark's "Constructing trivially true equals predicate"
WARN (seen in the r11/r13 driver bench tails) to the query that emits
it (r13 verdict ask #4).

The WARN is emitted by org.apache.spark.sql.Column's `===` at COLUMN
CONSTRUCTION time (spark-sql-api Column.class), so building each
registered query's DataFrame is enough to trigger it — no execution
needed. The JVM shares this process's stderr, so a flushed Python
marker line before each build brackets any JVM log lines that follow.

Usage: python scripts/find_trivial_warn.py [sf_dir] [--exec] 2> /tmp/warn.log
Then:  python scripts/find_trivial_warn.py --scan /tmp/warn.log
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def scan(path: str) -> None:
    current = "<session-init>"
    hits: dict[str, list[str]] = {}
    with open(path, errors="replace") as f:
        for line in f:
            if line.startswith("QUERY_MARKER "):
                current = line.split(None, 1)[1].strip()
            elif "trivially true" in line:
                hits.setdefault(current, []).append(line.strip()[:200])
    if not hits:
        print("no 'trivially true' WARN lines found")
        return
    for q, lines in hits.items():
        print(f"{q}: {len(lines)} hit(s)")
        for ln in lines[:3]:
            print(f"   {ln}")


def main() -> None:
    if len(sys.argv) >= 3 and sys.argv[1] == "--scan":
        scan(sys.argv[2])
        return
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    do_exec = "--exec" in sys.argv

    from accident_prediction_montreal_spark.plans import REGISTRY
    from accident_prediction_montreal_spark.session import get_session

    spark = get_session("find-trivial-warn")
    for name, entry in REGISTRY.items():
        print(f"QUERY_MARKER {name}", file=sys.stderr, flush=True)
        try:
            df = entry.fn(spark, sf_dir)
            if do_exec:
                df.collect()
        except Exception as e:  # noqa: BLE001 — survey sweep, keep going
            print(
                f"QUERY_ERROR {name}: {type(e).__name__}: {e}"[:300],
                file=sys.stderr,
                flush=True,
            )
    print("QUERY_MARKER <done>", file=sys.stderr, flush=True)


if __name__ == "__main__":
    main()
