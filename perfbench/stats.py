"""Small pure functions behind the end-to-end metrics.

Kept free of Spark so the benchmark's own tests can pin them exactly.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

#: How many samples must lie above the reported tail latency.
TAIL_BEYOND = 10


def tail(latencies: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """Latency at the highest percentile that has ``beyond`` samples above it.

    Returns ``(value, percentile, n)``. With ``n`` samples that is the
    ``(n - beyond)``-th smallest one (1-based), at percentile
    ``100 * (n - beyond) / n``: exactly ``beyond`` samples are larger. With
    ``n <= beyond`` no percentile qualifies and the maximum is returned at
    percentile 100.
    """
    xs = sorted(latencies)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= beyond:
        return xs[-1], 100.0, n
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n, n


def pass_best(samples: dict[str, list[float]]) -> float:
    """Sum over queries of each query's fastest execution."""
    return sum(min(v) for v in samples.values() if v)


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles of ``statistics.quantiles``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


Checksum = tuple


@dataclass
class Ledger:
    """``ok_share`` accounting: every attempted execution is one entry.

    An execution is ok only if it completed and its checksum equals the
    query's reference. A missing reference (the reference run failed), an
    exception, a timeout or a different checksum all count as failures.
    """

    references: dict[str, Checksum] = field(default_factory=dict)
    attempted: int = 0
    ok: int = 0
    failures: list[tuple[str, str]] = field(default_factory=list)

    def reference(self, query: str, checksum: Checksum | None, error: str | None = None):
        if checksum is None:
            self.failures.append((query, f"reference: {error}"))
        else:
            self.references[query] = checksum

    def record(self, query: str, checksum: Checksum | None, error: str | None = None) -> bool:
        self.attempted += 1
        if checksum is None:
            self.failures.append((query, error or "no result"))
            return False
        ref = self.references.get(query)
        if ref is None:
            self.failures.append((query, "no reference checksum"))
            return False
        if checksum != ref:
            self.failures.append((query, f"checksum {checksum} != reference {ref}"))
            return False
        self.ok += 1
        return True

    @property
    def failed(self) -> int:
        return self.attempted - self.ok

    @property
    def share(self) -> float:
        return self.ok / self.attempted if self.attempted else 0.0
