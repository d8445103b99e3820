"""Per-layer attribution for the traced run, from outside the engine.

``Tracer.install`` replaces the public functions of the engine's
``operators``, ``pipeline`` and ``ml`` modules and ``sources.load_table``
with timing wrappers, in their defining module and in every engine module
that imported them by name. Nothing inside the engine changes.

A wrapper times the outermost call into its layer (a call into
``operators.dedup`` made while another ``operators.dedup`` call is open is
not timed twice) and sets the Spark job description to the layer name, so
the event log credits each job to the innermost layer open when it was
submitted.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import time
from collections import defaultdict
from datetime import datetime, timezone

PKG = "accident_prediction_montreal_spark"
#: Sub-packages whose public functions are wrapped, one layer per module.
WRAPPED = ("operators", "pipeline", "ml")
ML_METHODS = ("_fit", "_transform")


def layer_of(module: str) -> str | None:
    """Layer name of an engine module: ``operators.dedup``, ``ml``, ...."""
    parts = module.split(".")
    if len(parts) < 3 or parts[0] != PKG:
        return None
    if parts[1] == "ml":
        return "ml"
    if parts[1] in WRAPPED:
        return f"{parts[1]}.{parts[2]}"
    return None


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.call_s: dict[str, float] = defaultdict(float)
        self._stack: list[str] = []
        self.base_description: str | None = None

    def _wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            outer = layer not in tracer._stack
            tracer._stack.append(layer)
            tracer.sc.setJobDescription(layer)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                if outer:
                    tracer.call_s[layer] += time.perf_counter() - t0
                tracer._stack.pop()
                tracer.sc.setJobDescription(
                    tracer._stack[-1] if tracer._stack else tracer.base_description
                )

        wrapper.__perfbench_original__ = fn
        return wrapper

    def install(self) -> int:
        """Wrap every public engine function of the traced layers."""
        for sub in WRAPPED:
            pkg = importlib.import_module(f"{PKG}.{sub}")
            for info in pkgutil.iter_modules(pkg.__path__, pkg.__name__ + "."):
                importlib.import_module(info.name)
        originals: dict[int, object] = {}
        for name, mod in list(sys.modules.items()):
            layer = layer_of(name)
            if layer is None:
                continue
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_"):
                    continue
                if inspect.isfunction(obj) and obj.__module__ == name:
                    wrapped = self._wrap(obj, layer)
                    originals[id(obj)] = wrapped
                    setattr(mod, attr, wrapped)
                elif layer == "ml" and inspect.isclass(obj) and obj.__module__ == name:
                    for meth in ML_METHODS:
                        if meth in vars(obj):
                            setattr(obj, meth, self._wrap(vars(obj)[meth], "ml"))
        loader = sys.modules[f"{PKG}.sources.registry"]
        load = loader.load_table
        originals[id(load)] = self._wrap(load, "sources")
        loader.load_table = originals[id(load)]
        # Rebind names that other engine modules imported with ``from x import f``.
        for name, mod in list(sys.modules.items()):
            if not name.startswith(PKG):
                continue
            for attr, obj in list(vars(mod).items()):
                if id(obj) in originals and getattr(obj, "__perfbench_original__", None) is None:
                    setattr(mod, attr, originals[id(obj)])
        return len(originals)

    def snapshot(self) -> dict[str, float]:
        return dict(self.call_s)


class StreamCollector:
    """A StreamingQueryListener that keeps each micro-batch's progress."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        collector = self
        self.progress: list[dict] = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                d = p.durationMs or {}
                started = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
                collector.progress.append(
                    {
                        "run_id": str(p.runId),
                        "started": started.replace(tzinfo=timezone.utc).timestamp(),
                        "batch_ms": p.batchDuration,
                        "commit_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
                        "state_rows": sum(o.numRowsTotal for o in p.stateOperators),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()

    def totals(self, start: float, end: float) -> dict[str, float]:
        """Batches, batch and commit seconds, and final state rows of the
        micro-batches that started in ``[start, end]`` (epoch seconds)."""
        rows = [p for p in self.progress if start <= p["started"] <= end]
        last_state: dict[str, int] = {}
        for p in rows:
            last_state[p["run_id"]] = p["state_rows"]
        return {
            "batches": len(rows),
            "batch_s": sum(p["batch_ms"] for p in rows) / 1000.0,
            "commit_s": sum(p["commit_ms"] for p in rows) / 1000.0,
            "state_rows": sum(last_state.values()),
        }
