"""The one home for every cached and checkpointed engine frame.

Composite operators cache intermediates on purpose (kNN matching, the
IDW join, the MinHash bands, the per-round BFS frames each feed several
consumers) and return a LAZY plan over them, so they cannot free those
intermediates at return time. This module owns the decision instead:
nothing else in the engine calls ``persist``, ``cache``,
``localCheckpoint`` or ``unpersist``. Every cached frame is keyed by a
SITE, and the contract is:

* ``generation(site)`` opens the site's next generation and releases
  the previous generation's persisted frames BEFORE the new ones are
  persisted. (Spark's ``persist`` is a no-op on a plan that is already
  cached; persisting first and releasing second dropped the only cache
  entry the new frame had whenever a second call built the same plan.)
* Every frame one invocation persists belongs to that one generation
  — open it once per invocation and persist through the handle; a
  generation is never released part-way through an invocation.
* ``checkpoint(site, df, eager=...)`` is freed only by ``release(site)``
  or ``release_all()``, never by a later call of the same site. A freed
  persist only makes Spark recompute the frame; a freed checkpoint
  makes a lazy consumer fail ("Checkpoint block … not found"). So a
  checkpoint-backed result stays valid until the caller releases it.
* ``register(site, *handles)`` swaps generations for handles that are
  not DataFrames: anything with ``unpersist()``. Broadcasts enter the
  registry this way, through ``operators/ivf.py::broadcast_unit_rows``,
  the engine's one SparkContext broadcast (one site per caller).

Callers that materialize eagerly can release their sites afterwards;
bench harnesses call ``release_all()`` between timed repetitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_HELD: dict[str, list] = {}
_CHECKPOINTS: dict[str, list[DataFrame]] = {}


class Generation:
    """One invocation's persisted frames for one site."""

    def __init__(self, held: list) -> None:
        self._held = held

    def persist(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self._held.append(df)
        return df


def _unpersist(handles: list) -> None:
    for h in handles:
        try:
            h.unpersist()
        except Exception:  # session already stopped — nothing to free
            pass


def register(site: str, *handles) -> None:
    """Make ``handles`` the site's current generation, unpersisting
    whatever the site held before."""
    _unpersist(_HELD.pop(site, []))
    _HELD[site] = list(handles)


def generation(site: str) -> Generation:
    """Release the site's previous generation and open its next one."""
    register(site)
    return Generation(_HELD[site])


def checkpoint(site: str, df: DataFrame, *, eager: bool) -> DataFrame:
    """``df.localCheckpoint(eager)``, held until the site is released."""
    out = df.localCheckpoint(eager=eager)
    _CHECKPOINTS.setdefault(site, []).append(out)
    return out


def release(site: str) -> None:
    """Free and forget everything the site holds, checkpoints included."""
    _unpersist(_HELD.pop(site, []))
    for df in _CHECKPOINTS.pop(site, []):
        try:
            # The checkpointed RDD's blocks hang off the frame's
            # LogicalRDD leaf; no public API reaches them.
            df._jdf.queryExecution().analyzed().rdd().unpersist(True)
        except Exception:
            pass


def release_all() -> None:
    """Free every tracked site (call alongside
    ``spark.catalog.clearCache()``)."""
    for site in sites():
        release(site)


def sites() -> list[str]:
    return sorted(set(_HELD) | set(_CHECKPOINTS))
