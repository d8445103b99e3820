"""Tests of the benchmark's own pure parts: the percentile rule, ok_share
accounting, the event-log parser, the input generator and the pass order.

Run with: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from perfbench import eventlog, gen, stats, traced  # noqa: E402
from perfbench.workloads import WORKLOADS, pass_order  # noqa: E402

TINY_LOG = os.path.join(HERE, "data", "tiny_eventlog.jsonl")


# ---- percentile rule ----------------------------------------------------
def test_tail_leaves_exactly_ten_samples_above():
    xs = [float(i) for i in range(1, 101)]  # 1..100, shuffled order must not matter
    value, pct, n = stats.tail(list(reversed(xs)))
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(x > value for x in xs) == 10


def test_tail_small_samples():
    value, pct, n = stats.tail([3.0, 1.0, 2.0] + [0.5] * 9)  # 12 samples
    assert n == 12 and pct == pytest.approx(100 * 2 / 12)
    assert value == 0.5  # the 2nd smallest; ten samples lie above it
    assert stats.tail([2.0, 5.0, 1.0]) == (5.0, 100.0, 3)  # too few: the maximum
    with pytest.raises(ValueError):
        stats.tail([])


def test_pass_best_and_spread():
    assert stats.pass_best({"a": [3.0, 1.0], "b": [2.0], "c": []}) == 3.0
    assert stats.quartile_spread([10.0] * 10) == 0.0
    assert stats.quartile_spread([9.0, 10.0, 10.0, 11.0]) == pytest.approx(
        (10.75 - 9.25) / 10.0
    )


# ---- ok_share accounting ------------------------------------------------
def test_planted_checksum_mismatch_counts_as_failure():
    ledger = stats.Ledger()
    ledger.reference("q1", (5, 11, "42"))
    ledger.reference("q2", (7, -3, "-9"))
    assert ledger.record("q1", (5, 11, "42"))
    assert ledger.record("q2", (7, -3, "-9"))
    assert not ledger.record("q1", (5, 11, "43"))  # planted mismatch in hsum
    assert (ledger.attempted, ledger.ok, ledger.failed) == (3, 2, 1)
    assert ledger.share == pytest.approx(2 / 3)
    assert ledger.failures[0][0] == "q1" and "!= reference" in ledger.failures[0][1]


def test_errors_timeouts_and_missing_references_fail():
    ledger = stats.Ledger()
    ledger.reference("ok", (1, 1, "1"))
    ledger.reference("broken", None, "ValueError: boom")
    assert not ledger.record("ok", None, "timeout after 45 s")
    assert not ledger.record("broken", (1, 1, "1"))
    assert ledger.ok == 0 and ledger.failed == 2 and ledger.share == 0.0
    assert [q for q, _ in ledger.failures] == ["broken", "ok", "broken"]


# ---- event log ----------------------------------------------------------
def test_tiny_event_log():
    jobs = eventlog.parse(eventlog.read_events([TINY_LOG]))
    assert sorted(jobs) == [0, 1, 2]
    build, act, act2 = jobs[0], jobs[1], jobs[2]
    assert build.group == "a7_target_encode" and build.description == "a7_target_encode"
    assert act.description == act2.description == "perfbench.action"
    assert (build.tasks, build.run_ms, build.gc_ms) == (1, 500, 28)
    assert build.sched_wait_ms == 1792253323937 - 1792253323356
    assert (act.shuffle_write_b, act.tasks) == (394, 1)
    # Job 2 lists stage 2, which job 1 already computed: it is skipped.
    assert act2.stages == {2, 3} and act2.ran_stages == {3}
    assert (act2.shuffle_read_b, act2.shuffle_write_b, act2.cpu_ns) == (394, 187, 89578511)


def test_window_attribution_splits_build_and_action():
    jobs = eventlog.parse(eventlog.read_events([TINY_LOG]))
    r = {
        "query": "a7_target_encode", "traced": True,
        "t0": 1792253323.000, "t1": 1792253328.900, "t2": 1792253330.200,
        "build_s": 5.9, "action_s": 1.3, "latency_s": 7.2,
        "layer_s": {"operators.encoding": 0.25, "sources": 0.5, "ml": 0.0},
        "cpu": {"driver_py": 1.0, "jvm": 4.0, "pyworker": 0.0},
    }
    m = traced.execution_metrics(r, jobs, streams=None)
    assert m["plans.build_jobs"] == 1
    assert (m["spark.jobs"], m["spark.stages"], m["spark.tasks"]) == (2, 2, 2)
    assert m["spark.shuffle_read_mb"] == pytest.approx(394 / 1e6)
    assert m["operators.encoding.call_s"] == 0.25 and m["sources.load_s"] == 0.5
    assert m["proc.jvm_cpu_s"] == 4.0
    assert eventlog.in_window(jobs, 0, 1) == []


def test_every_declared_layer_metric_is_named_once():
    names = [n for n, _ in traced.METRICS]
    assert len(names) == len(set(names))
    assert {"spark.jobs", "plans.build_jobs", "streaming.batches", "cachereg.leak_mb"} <= set(names)


def test_benchmark_json_matches_the_code():
    import json

    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"]: w["why"] for w in bench["workloads"]} == {
        w.name: w.why for w in WORKLOADS.values()
    }
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == traced.METRICS


def test_trace_only_executions_feed_only_the_pipeline_layer():
    jobs = eventlog.parse(eventlog.read_events([TINY_LOG]))
    extra = {
        "query": "apm", "traced": True, "extra": True,
        "t0": 1792253323.000, "t1": 1792253328.900, "t2": 1792253330.200,
        "build_s": 5.9, "action_s": 1.3, "latency_s": 7.2,
        "layer_s": {"pipeline.matching": 0.75, "operators.spatial": 0.5},
    }
    metrics, _ = traced.per_layer_from_jobs(jobs, [extra], [], 1.0, None)
    assert metrics["pipeline.matching.call_s"][0] == 0.75
    assert metrics["operators.spatial.call_s"][0] == 0.0
    assert metrics["plans.build_s"][0] == 0.0 and metrics["trace.pass_best_s"][0] == 0.0


# ---- inputs and order ---------------------------------------------------
def test_generator_is_seeded_and_matches_the_registry_schemas():
    from accident_prediction_montreal_spark.sources.registry import TABLES

    a, b, c = gen.tables(0.0005, 7), gen.tables(0.0005, 7), gen.tables(0.0005, 8)
    assert set(a) == set(TABLES)
    for name, table in a.items():
        assert table.column_names == TABLES[name].fieldNames(), name
        assert table.equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])
    docs = a["documents"].to_pydict()
    assert docs["n_chars"] == [len(t) for t in docs["text"]]


def test_pass_order_is_a_seeded_permutation():
    wl = WORKLOADS["adhoc"]
    first = pass_order(wl, 3, 1)
    assert sorted(first) == sorted(wl.queries)
    assert first == pass_order(wl, 3, 1)
    assert any(pass_order(wl, 3, p) != first for p in range(2, 6))
