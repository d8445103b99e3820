"""Closed-loop benchmark of the query engine, end to end and per layer.

    python3 perfbench/run.py --workload adhoc --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload bulk --seed 1 --verify

One client process drives ``local[nproc]``. Every operation calls
``REGISTRY[name].fn(spark, sf_dir)`` and then runs one action that hashes
every output column (``operators.checksum.multiset_checksum``). Set-up
generates the seeded input tables, starts the session, runs one cold
reference pass that records each query's checksum and then one untimed
warm-up pass whose checksums are checked like timed ones. Then come the
timed passes: as many as ``--seconds`` holds at the nominal pass time (at least
two), a fixed count for a given ``--seconds``. Every timed execution must
reproduce its reference checksum.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on the
event log and the layer wrappers, runs the workload's trace-only queries
after the timed passes and prints the per-layer metrics.
``--verify`` checks each query's first result against its DuckDB oracle
instead of timing anything. The last stdout line is one JSON object; the
line before it carries the host fingerprint and the run's details, which
are also written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import queue
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench_out")
ENGINE = "accident_prediction_montreal_spark"
ACTION = "perfbench.action"
MIN_PASSES = 2
#: Wall time of one warm pass of either workload on the reference host
#: (4 vCPU). It turns ``--seconds`` into a fixed pass count, so every run
#: takes the same samples at the same warm-up stage.
PASS_S = 5.0
#: Untimed passes after the reference pass. The JVM's JIT is still
#: compiling through the first passes; its threads' CPU time goes into
#: ``pass_cpu_s``, whose spread over six to ten runs was 14-29 % without
#: this pass and about 10 % with it in quiet windows.
WARMUP_PASSES = 1
REFERENCE_TIMEOUT_S = 90.0
OP_TIMEOUT_S = 45.0
RUN_DEADLINE_S = 170.0
MB = 1e6
CLEANER_WAIT_S = 0.3


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--verify", action="store_true")
    return ap.parse_args(argv)


def prepare_env(run_dir: str) -> None:
    """Keep every file the run writes inside ``run_dir``; give the Python
    workers the engine package on their import path."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(run_dir: str, trace: bool):
    from accident_prediction_montreal_spark.session import get_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_session("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every child process to exit."""
    from pyspark import SparkContext

    from perfbench import procs

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Exception:
        traceback.print_exc()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    while procs.descendants_alive() and time.time() < deadline:
        time.sleep(0.2)
    for pid in procs.descendants_alive():
        try:
            os.kill(pid, 9)
        except OSError:
            pass


class Executor:
    """Runs one operation at a time on a worker thread, under a timeout.

    A timed-out operation has its job group cancelled and any running
    stream stopped; it counts as a failed execution and, if its thread is
    still stuck, a fresh worker takes over.
    """

    def __init__(self, spark, sf_dir: str, trace: bool):
        from accident_prediction_montreal_spark.operators.checksum import multiset_checksum
        from accident_prediction_montreal_spark.plans import REGISTRY

        self.spark = spark
        self.sc = spark.sparkContext
        self.sf_dir = sf_dir
        self.trace = trace
        self.registry = REGISTRY
        # The benchmark's own action is never traced as an engine layer.
        self.checksum = getattr(multiset_checksum, "__perfbench_original__", multiset_checksum)
        self._start_worker()

    def _start_worker(self):
        self._jobs: queue.Queue = queue.Queue()
        threading.Thread(target=self._loop, args=(self._jobs,), daemon=True).start()

    def _loop(self, jobs: queue.Queue):
        while True:
            name, box = jobs.get()
            box.put(self._op(name))

    def _op(self, name: str) -> dict:
        out = {"query": name, "t0": time.time()}
        try:
            self.sc.setJobGroup(name, name, interruptOnCancel=True)
            t0 = time.perf_counter()
            df = self.registry[name].fn(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            out["t1"] = time.time()
            if self.trace:
                self.sc.setJobDescription(ACTION)
            row = self.checksum(df, df.columns).collect()[0]
            t2 = time.perf_counter()
            out.update(
                build_s=t1 - t0,
                action_s=t2 - t1,
                latency_s=t2 - t0,
                checksum=(row["cnt"], row["hxor"], str(row["hsum"])),
            )
        except Exception as exc:
            out["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        out["t2"] = time.time()
        return out

    def execute(self, name: str, timeout: float) -> dict:
        box: queue.Queue = queue.Queue()
        self._jobs.put((name, box))
        try:
            return box.get(timeout=timeout)
        except queue.Empty:
            pass
        self.sc.cancelJobGroup(name)
        for stream in self.spark.streams.active:
            try:
                stream.stop()
            except Exception:
                pass
        try:
            box.get(timeout=10)
        except queue.Empty:
            self._start_worker()
        return {"query": name, "error": f"timeout after {timeout:.0f} s",
                "t0": time.time() - timeout, "t2": time.time()}


def release(spark) -> None:
    from accident_prediction_montreal_spark import cachereg

    cachereg.release_all()
    spark.catalog.clearCache()


def held_mb(spark) -> dict[str, float]:
    """Memory the driver holds after a pass, by part: the JVM heap live
    after a full GC (each heap pool's usage as the collector left it), the
    JVM's non-heap pools and NIO buffers, and the Python driver's RSS.

    The tree's RSS would mostly show how far the JVM heap has grown, which
    follows GC timing rather than the program's memory use. Python workers
    are left out: how many idle ones are alive at the end of a pass
    follows task scheduling.
    """
    from perfbench import procs

    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    mem = mf.getMemoryMXBean()
    # Python's collector drops the proxies that pin finished queries' plans
    # (and their broadcast relations) in the JVM. The first JVM GC hands
    # unreachable broadcasts and shuffles to Spark's ContextCleaner, which
    # frees their blocks on its own thread; the second collects the rest.
    gc.collect()
    mem.gc()
    time.sleep(CLEANER_WAIT_S)
    mem.gc()
    heap = 0
    for pool in mf.getMemoryPoolMXBeans():
        after_gc = pool.getCollectionUsage()
        if after_gc is not None and pool.getType().name() == "HEAP":
            heap += after_gc.getUsed()
    buffers = jvm.java.lang.Class.forName("java.lang.management.BufferPoolMXBean")
    return {
        "heap": heap / MB,
        "non_heap": mem.getNonHeapMemoryUsage().getUsed() / MB,
        "buffers": sum(pool.getMemoryUsed() for pool in mf.getPlatformMXBeans(buffers)) / MB,
        "driver_py": procs.driver_rss_mb(),
    }


def storage_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def verify(spark, sf_dir: str, queries) -> tuple[dict, int]:
    """First result of every query against its DuckDB oracle, compared the
    way scripts/check_oracle.py compares them."""
    import duckdb

    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import check_oracle
    from accident_prediction_montreal_spark.plans import REGISTRY
    from accident_prediction_montreal_spark.sources.registry import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    report = {"passed": [], "failed": {}, "no_oracle": []}
    for name in queries:
        spec = REGISTRY[name]
        try:
            df = spec.fn(spark, sf_dir)
            srows, scols = df.collect(), df.columns
        except Exception as exc:
            report["failed"][name] = f"spark: {exc}"[:300]
            continue
        if spec.oracle is None:
            report["no_oracle"].append(name)
            continue
        rel = con.sql(spec.oracle)
        bad = [f"{c}:{t}" for c, t in zip(rel.columns, map(str, rel.types))
               if not check_oracle._type_ok(t)]
        ocols, orows = rel.columns, rel.fetchall()
        if bad:
            problem = f"unsafe oracle types {bad}"
        elif sorted(scols) != sorted(ocols):
            problem = f"columns {sorted(scols)} != {sorted(ocols)}"
        elif check_oracle.row_set(scols, [[r[c] for c in scols] for r in srows]) != \
                check_oracle.row_set(ocols, orows):
            problem = f"values differ ({len(srows)} vs {len(orows)} rows)"
        else:
            report["passed"].append(name)
            print(f"ok   {name}: {len(srows)} rows match", flush=True)
            continue
        report["failed"][name] = problem
        print(f"FAIL {name}: {problem}", flush=True)
    return report, (1 if report["failed"] else 0)


def trace_only(ex: Executor, tracer, ledger, queries) -> list[dict]:
    """Run each trace-only query twice after the timed passes: a reference
    execution, then one traced execution checked against it."""
    out = []
    for name in queries:
        r = ex.execute(name, REFERENCE_TIMEOUT_S)
        ledger.reference(name, r.get("checksum"), r.get("error"))
        tracer.enabled = True
        tracer.base_description = name
        before = tracer.snapshot()
        r = ex.execute(name, REFERENCE_TIMEOUT_S)
        tracer.enabled = False
        r.update(traced=True, extra=True,
                 layer_s={k: v - before.get(k, 0.0) for k, v in tracer.snapshot().items()})
        ledger.record(name, r.get("checksum"), r.get("error"))
        out.append(r)
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"perfbench: engine package {ENGINE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import gen, procs, stats
    from perfbench.workloads import WORKLOADS, pass_order

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    tag = f"{wl.name}-seed{args.seed}-trace{args.trace}{'-verify' if args.verify else ''}"
    run_dir = os.path.join(OUT, f"{tag}-{os.getpid()}")
    prepare_env(run_dir)
    threading.Thread(target=_watchdog, daemon=True).start()
    ticks0 = procs.cpu_times()

    # ---- set-up: inputs, session, cold reference pass, warm-up ----------
    t = time.perf_counter()
    sf_dir = os.path.join(run_dir, "data")
    input_mb = gen.write(sf_dir, wl.sf, args.seed) / MB
    gen_s = time.perf_counter() - t
    t = time.perf_counter()
    spark = start_session(run_dir, trace=bool(args.trace))
    session_s = time.perf_counter() - t
    host = procs.fingerprint(spark)

    if args.verify:
        report, code = verify(spark, sf_dir, wl.queries + wl.trace_only)
        stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        print(json.dumps({"verify": report, "workload": wl.name, "seed": args.seed}))
        return code

    tracer = streams = None
    if args.trace:
        from perfbench import layers

        tracer = layers.Tracer(spark.sparkContext)
        tracer.install()
        streams = layers.StreamCollector()
        spark.streams.addListener(streams.listener)
    ex = Executor(spark, sf_dir, trace=bool(args.trace))
    ledger = stats.Ledger()
    reference_s = {}
    for name in pass_order(wl, args.seed, 0):
        r = ex.execute(name, REFERENCE_TIMEOUT_S)
        ledger.reference(name, r.get("checksum"), r.get("error"))
        reference_s[name] = r["t2"] - r["t0"]
    release(spark)
    for n_pass in range(-WARMUP_PASSES, 0):
        for name in pass_order(wl, args.seed, n_pass):
            r = ex.execute(name, REFERENCE_TIMEOUT_S)
            ledger.record(name, r.get("checksum"), r.get("error"))
        release(spark)
    setup_s = time.perf_counter() - t_start

    # ---- timed passes ---------------------------------------------------
    samples: dict[str, list[float]] = {q: [] for q in wl.queries}
    latencies: list[float] = []
    pass_cpu: list[float] = []
    leak: list[float] = []
    held: list[dict[str, float]] = []
    executions: list[dict] = []
    t_meas = time.perf_counter()
    n_passes = max(MIN_PASSES, round(args.seconds / PASS_S))
    for n_pass in range(1, n_passes + 1):
        cpu0 = procs.cpu_by_class()
        for name in pass_order(wl, args.seed, n_pass):
            # Each query alternates between traced and untraced passes.
            traced = bool(args.trace) and (wl.queries.index(name) + n_pass) % 2 == 0
            if tracer:
                tracer.enabled = traced
                tracer.base_description = name
                before = (tracer.snapshot(), procs.cpu_by_class())
            r = ex.execute(name, OP_TIMEOUT_S)
            if tracer:
                tracer.enabled = False
                r["traced"] = traced
                after = (tracer.snapshot(), procs.cpu_by_class())
                r["layer_s"] = {k: v - before[0].get(k, 0.0) for k, v in after[0].items()}
                r["cpu"] = {k: after[1][k] - before[1][k] for k in after[1]}
            r["pass"] = n_pass
            executions.append(r)
            if ledger.record(name, r.get("checksum"), r.get("error")):
                samples[name].append(r["latency_s"])
                latencies.append(r["latency_s"])
        release(spark)
        cpu1 = procs.cpu_by_class()
        pass_cpu.append(sum(cpu1.values()) - sum(cpu0.values()))
        if args.trace:
            leak.append(storage_mb(spark))
        held.append(held_mb(spark))
    measured_s = time.perf_counter() - t_meas
    rss = procs.peak_rss_mb()
    if tracer:
        executions += trace_only(ex, tracer, ledger, wl.trace_only)
    steal = procs.steal_share(ticks0, procs.cpu_times())

    value, pct, n = stats.tail(latencies) if latencies else (0.0, 0.0, 0)
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "pass_best_s": (stats.pass_best(samples), "s"),
        "query_p50_s": (median(latencies), "s"),
        "query_tail_s": (value, "s"),
        "pass_cpu_s": (median(pass_cpu), "s"),
        # The smallest reading: a pass that ends with ``a6_idw_radius`` reads
        # about 65 MB more (a 64 MB on-heap page stays live until the next
        # query runs), so the largest one followed the seed's query order.
        "pass_mem_mb": (min(sum(h.values()) for h in held), "MB"),
        "ok_share": (ledger.share, "share"),
    }
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "host": host,
        "steal_share": steal,
        "sf": wl.sf,
        "input_mb": input_mb,
        "gen_s": gen_s,
        "session_s": session_s,
        "passes": n_passes,
        "measured_s": measured_s,
        "pass_cpu_s": pass_cpu,
        "held_mb": held,
        "peak_rss_mb": rss,
        "query_tail": {"percentile": pct, "samples": n},
        "reference_s": reference_s,
        "best_s": {q: min(v) if v else None for q, v in samples.items()},
        "latency_s": samples,
        "failures": ledger.failures,
        "end_to_end": {k: v for k, (v, _) in end_to_end.items()},
    }
    if args.trace:
        time.sleep(1.0)  # let the listener bus deliver the last progress events
    stop_session(spark)
    if args.trace:
        from perfbench import traced

        layer_metrics, extra = traced.per_layer(
            run_dir, executions, leak, session_s, streams
        )
        detail["per_layer"] = {k: v for k, (v, _) in layer_metrics.items()}
        detail.update(extra)
        metrics = layer_metrics
    else:
        metrics = end_to_end
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print(json.dumps({"detail": detail}, default=str))
    print(
        json.dumps(
            {
                "correct": ledger.failed == 0 and not ledger.failures,
                "attempted": ledger.attempted,
                "failed": ledger.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


def _watchdog():
    """End the whole process tree if a run overstays its budget."""
    time.sleep(RUN_DEADLINE_S)
    from perfbench import procs

    print(f"perfbench: run exceeded {RUN_DEADLINE_S:.0f} s, aborting", file=sys.stderr, flush=True)
    for pid in procs.descendants_alive():
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    os._exit(3)


if __name__ == "__main__":
    try:
        code = main()
    except Exception:
        traceback.print_exc()
        code = 1
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(code)
