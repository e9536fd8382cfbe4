"""Run the benchmark once per seed and report each metric's spread.

    python3 perfbench/steadiness.py --workload etl_bulk --seeds 1-10 --seconds 15

For every metric: median, first and third quartile (``statistics.quantiles``
with n=4) and the spread (q3 - q1) / median, next to the metric's bound
in BENCHMARK.json. ``--log`` appends each run's result line (JSON lines).
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(results: list[dict], spec: dict) -> list[tuple]:
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    rows = []
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        rows.append((name, med, q1, q3, (q3 - q1) / med if med else 0.0, bounds.get(name)))
    return rows


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int, default=None, help="default: run_seconds of BENCHMARK.json")
    p.add_argument("--log", default=None, help="append each result line here (JSON lines)")
    args = p.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    results = []
    for seed in seeds(args.seeds):
        cmd = [*spec["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(args.seconds or spec["run_seconds"]), "--trace", "0"]
        t0 = time.time()
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        wall = time.time() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        results.append(res)
        print(f"seed {seed}: {wall:.1f} s, correct={res['correct']}", file=sys.stderr)
        if args.log:
            with open(args.log, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed, "wall_s": wall, "result": res}) + "\n")
    print(f"{args.workload}: {len(results)} runs")
    print(f"{'metric':36} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6}")
    for name, med, q1, q3, spread, bound in summarize(results, spec):
        flag = "" if bound is None or spread <= bound / 3 else "  > bound/3"
        print(f"{name:36} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:7.3f} {bound if bound is not None else '':>6}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
