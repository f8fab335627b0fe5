"""Repeat one workload over several seeds and print, per metric, the
median and the quartile spread (Q3 - Q1) / median, next to the bound
BENCHMARK.json fixes for it.

    python3 perfbench/steadiness.py --workload api_reads --runs 10
    python3 perfbench/steadiness.py --workload api_reads --runs 3 --trace-overhead

Run from the repository root. ``--trace-overhead`` also makes one traced
run per seed and reports how much tracing adds to the median op: the
traced runs' ``trace.op_p50_ms`` against the untraced ``op_p50_ms``.
Each run's result line is appended to ``--log`` (JSON lines) so a set
can be compared with a later one.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def one_run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict, float]:
    t = time.perf_counter()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run failed: {workload} seed {seed} exit {p.returncode}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2]), wall


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace-overhead", action="store_true")
    ap.add_argument("--log", default=os.path.join(".bench_work", "steadiness.jsonl"))
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    os.makedirs(os.path.dirname(args.log), exist_ok=True)

    results, traced, walls = [], [], []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        res, context, wall = one_run(args.workload, seed, spec["run_seconds"], 0)
        results.append(res)
        walls.append(wall)
        with open(args.log, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": seed, "wall_s": wall,
                                "context": context, "result": res}) + "\n")
        if not res["correct"]:
            print(f"seed {seed}: incorrect ({res['failed']}/{res['attempted']} failed)")
        if args.trace_overhead:
            traced.append(one_run(args.workload, seed, spec["run_seconds"], 1)[0])

    print(f"{args.workload}: {len(results)} runs, wall median {statistics.median(walls):.1f} s,"
          f" max {max(walls):.1f} s")
    print(f"{'metric':28s} {'median':>12s} {'spread':>8s} {'bound':>6s}")
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        med, spr = spread(vals)
        flag = "" if spr < m["bound"] / 3 else ("  > bound/3" if spr <= m["bound"] else "  > BOUND")
        print(f"{m['name']:28s} {med:12.4g} {spr:8.3f} {m['bound']:6.2f}{flag}")
    if traced:
        untraced = statistics.median(r["metrics"]["op_p50_ms"]["value"] for r in results)
        with_trace = statistics.median(r["metrics"]["trace.op_p50_ms"]["value"] for r in traced)
        print(f"tracing overhead: op_p50_ms {with_trace:.1f} traced vs {untraced:.1f} untraced"
              f" ({(with_trace - untraced) / untraced * 100:+.1f}%)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
