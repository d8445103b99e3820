"""Per-layer metrics of a traced run.

In a traced run each timed pass traces every other query (alternating
between passes), so across two passes every query has traced and untraced
executions. A per-layer metric is, for each query, the median over its
traced executions, summed over the workload's queries: one pass's worth.

Jobs are credited to an execution by submission time: jobs submitted while
``fn()`` ran are plan-build jobs, jobs submitted during the final action
are action jobs. Within ``fn()``, the job description names the innermost
wrapped layer.

The ``pipeline`` layer is reached only by the workload's trace-only
queries, executed once each after the timed passes; only their
``pipeline.*`` values are kept, so every other metric stays one pass of
the workload's own queries.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

from perfbench import eventlog

#: Operator modules the workloads call; each gets ``.call_s`` and ``.jobs``.
OPERATOR_MODULES = (
    "cdc", "dedup", "metrics", "sessionize", "similarity", "spatial", "text", "windows",
)
#: Pipeline modules the trace-only queries call.
PIPELINE_MODULES = ("dataset", "matching", "road_features", "weather")
MB = 1e6


def _metric_names() -> list[tuple[str, str]]:
    names = [
        ("session.start_s", "s"),
        ("sources.load_s", "s"),
        ("plans.build_s", "s"),
        ("plans.build_jobs", "count"),
        ("spark.action_s", "s"),
        ("spark.jobs", "count"),
        ("spark.stages", "count"),
        ("spark.tasks", "count"),
        ("spark.sched_wait_s", "s"),
        ("spark.task_run_s", "s"),
        ("spark.task_cpu_s", "s"),
        ("spark.gc_s", "s"),
        ("spark.shuffle_write_mb", "MB"),
        ("spark.shuffle_read_mb", "MB"),
        ("spark.spill_mb", "MB"),
        ("spark.output_mb", "MB"),
        ("proc.driver_py_cpu_s", "s"),
        ("proc.jvm_cpu_s", "s"),
        ("proc.pyworker_cpu_s", "s"),
    ]
    for m in OPERATOR_MODULES:
        names += [(f"operators.{m}.call_s", "s"), (f"operators.{m}.jobs", "count")]
    for m in PIPELINE_MODULES:
        names += [(f"pipeline.{m}.call_s", "s"), (f"pipeline.{m}.jobs", "count")]
    names += [
        ("ml.fit_s", "s"),
        ("ml.jobs", "count"),
        ("streaming.batches", "count"),
        ("streaming.batch_s", "s"),
        ("streaming.commit_s", "s"),
        ("streaming.state_rows", "count"),
        ("cachereg.leak_mb", "MB"),
        ("trace.pass_best_s", "s"),
        ("trace.overhead_s", "s"),
    ]
    return names


METRICS = _metric_names()


def execution_metrics(r: dict, jobs: dict, streams) -> dict[str, float]:
    """Per-layer values of one traced execution."""
    out: dict[str, float] = defaultdict(float)
    t0, t1, t2 = r["t0"] * 1000 - 1, r.get("t1", r["t2"]) * 1000, r["t2"] * 1000 + 1
    build = eventlog.in_window(jobs, t0, t1)
    action = eventlog.in_window(jobs, t1, t2)
    out["plans.build_s"] = r.get("build_s", 0.0)
    out["plans.build_jobs"] = len(build)
    out["spark.action_s"] = r.get("action_s", 0.0)
    out["spark.jobs"] = len(action)
    out["spark.stages"] = sum(len(j.ran_stages) for j in action)
    out["spark.tasks"] = sum(j.tasks for j in action)
    out["spark.sched_wait_s"] = sum(j.sched_wait_ms for j in action) / 1000
    out["spark.task_run_s"] = sum(j.run_ms for j in action) / 1000
    out["spark.task_cpu_s"] = sum(j.cpu_ns for j in action) / 1e9
    out["spark.gc_s"] = sum(j.gc_ms for j in action) / 1000
    out["spark.shuffle_write_mb"] = sum(j.shuffle_write_b for j in action) / MB
    out["spark.shuffle_read_mb"] = sum(j.shuffle_read_b for j in action) / MB
    out["spark.spill_mb"] = sum(j.spill_b for j in action) / MB
    # Task input bytes are not reported: Spark 4's vectorized parquet scan
    # leaves them near zero (0.09 MB per pass over a 600k-row lineitem).
    out["spark.output_mb"] = sum(j.output_b for j in build + action) / MB
    for layer, secs in r.get("layer_s", {}).items():
        if layer == "sources":
            out["sources.load_s"] += secs
        elif layer == "ml":
            out["ml.fit_s"] += secs
        else:
            out[f"{layer}.call_s"] += secs
    for j in build:
        if j.description == "ml":
            out["ml.jobs"] += 1
        elif j.description and j.description.startswith(("operators.", "pipeline.")):
            out[f"{j.description}.jobs"] += 1
    for k, v in (r.get("cpu") or {}).items():
        out[f"proc.{k}_cpu_s"] = v
    if streams is not None:
        for k, v in streams.totals(r["t0"], r["t2"]).items():
            out[f"streaming.{k}"] = v
    return out


def query_profile(rows: list[dict]) -> dict[str, float]:
    """Where one query's time goes: the share of its latency spent in
    ``fn()``, and its action's stages and tasks (medians over executions)."""

    def med(key):
        return statistics.median(row.get(key, 0.0) for row in rows)

    build, action, stages = med("plans.build_s"), med("spark.action_s"), med("spark.stages")
    return {
        "fn_share": round(build / (build + action), 3) if build + action else 0.0,
        "action_stages": stages,
        "tasks_per_stage": round(med("spark.tasks") / stages, 2) if stages else 0.0,
        "task_run_per_action_s": round(med("spark.task_run_s") / action, 2) if action else 0.0,
    }


def per_layer(run_dir: str, executions: list[dict], leak: list[float],
              session_s: float, streams) -> tuple[dict, dict]:
    jobs = eventlog.parse(eventlog.read_events(eventlog.log_files(os.path.join(run_dir, "eventlog"))))
    return per_layer_from_jobs(jobs, executions, leak, session_s, streams)


def per_layer_from_jobs(jobs: dict, executions: list[dict], leak: list[float],
                        session_s: float, streams) -> tuple[dict, dict]:
    by_query: dict[str, list[dict]] = defaultdict(list)
    best = {True: {}, False: {}}
    totals: dict[str, float] = defaultdict(float)
    for r in executions:
        if "latency_s" not in r:
            continue
        if r.get("extra"):
            for k, v in execution_metrics(r, jobs, streams).items():
                if k.startswith("pipeline."):
                    totals[k] += v
            continue
        traced = r["traced"]
        q = r["query"]
        best[traced][q] = min(best[traced].get(q, float("inf")), r["latency_s"])
        if traced:
            by_query[q].append(execution_metrics(r, jobs, streams))
    for q, rows in by_query.items():
        keys = set().union(*rows)
        for k in keys:
            totals[k] += statistics.median(row.get(k, 0.0) for row in rows)
    totals["session.start_s"] = session_s
    totals["cachereg.leak_mb"] = statistics.median(leak) if leak else 0.0
    both = set(best[True]) & set(best[False])
    totals["trace.pass_best_s"] = sum(best[True].values())
    totals["trace.overhead_s"] = sum(best[True][q] - best[False][q] for q in both)
    metrics = {name: (float(totals.get(name, 0.0)), unit) for name, unit in METRICS}
    extra = {
        "per_query": {q: query_profile(rows) for q, rows in sorted(by_query.items())},
        "unlisted_layers": sorted(k for k in totals if k not in dict(METRICS)),
        "traced_queries": sorted(by_query),
        "event_log_jobs": len(jobs),
    }
    return metrics, extra
