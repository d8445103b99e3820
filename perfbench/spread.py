"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload bulk --seeds 1-10 [--trace 1]

Runs are sequential. For every metric it prints the median of the runs and
the quartile spread, (Q3 - Q1) / median with the quartiles of
``statistics.quantiles(values, n=4)``, and it reports each run's wall time.
The full record goes to ``.perfbench_out/spread-<workload>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.stats import quartile_spread  # noqa: E402


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    if args.seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            args.seconds = json.load(f)["run_seconds"]
    runs = []
    for seed in seeds(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True,
        )
        wall = time.time() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        detail = json.loads(lines[-2])["detail"] if len(lines) > 1 else {}
        runs.append({"seed": seed, "wall_s": wall, "result": result,
                     "steal_share": detail.get("steal_share")})
        vals = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(f"seed {seed} wall {wall:.1f}s correct={result['correct']} {vals}", flush=True)
    names = list(runs[0]["result"]["metrics"])
    summary = {}
    for name in names:
        values = [r["result"]["metrics"][name]["value"] for r in runs]
        med = statistics.median(values)
        spread = quartile_spread(values) if len(values) > 1 and med else 0.0
        summary[name] = {"median": med, "spread": spread}
        print(f"{name:28s} median {med:12.4f}  spread {spread:7.2%}")
    walls = [r["wall_s"] for r in runs]
    print(f"wall per run: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    out = os.path.join(ROOT, ".perfbench_out", f"spread-{args.workload}-trace{args.trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump({"args": vars(args), "summary": summary, "runs": runs}, f, indent=1)
    return 0 if all(r["result"]["correct"] for r in runs) else 1


if __name__ == "__main__":
    raise SystemExit(main())
