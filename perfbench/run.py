"""Repository benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload api_reads --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the workload's inputs from the
seed, warms up, measures a closed loop with one client for ``--seconds``
seconds, checks every op's output, and prints one JSON line as the last
line of stdout: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` they are its per-layer metrics and
the spans are written to ``.bench_work/``. The line before it holds the
run's context (versions, deployment, tail percentile, sample count).
"""

import harness  # noqa: I001  (first: it stamps the process start time)

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

WORKLOADS = ("api_reads", "nightly_ingest", "batch_analytics")


class Context:
    def __init__(self, spark, seed, seconds, tracer, work):
        self.spark, self.seed, self.seconds = spark, seed, seconds
        self.tracer, self.work = tracer, work
        self.window = None

    def loop(self) -> harness.ClosedLoop:
        harness.settle(self.spark)
        self.window = harness.ClosedLoop(self.seconds)
        return self.window


def source_digest(root: str) -> str:
    h = hashlib.sha256()
    pkg = os.path.join(root, "aquacache_spark")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def commit(root: str):
    try:
        return subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "aquacache_spark", "__init__.py")):
        print("perfbench: run from the repository root; aquacache_spark/ is missing",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)

    os.environ["TZ"] = "UTC"
    time.tzset()
    bench_dir = os.path.join(root, ".bench_work")
    work = harness.fresh_dir(os.path.join(bench_dir, f"{args.workload}-{os.getpid()}"))
    deployment = harness.pin_deployment(work)
    sys.path.insert(1, root)  # after this directory: workload modules first

    import importlib

    module = importlib.import_module(args.workload)
    tracer = harness.Tracer(bool(args.trace))
    spark, versions, peak_mb = None, {}, 0.0
    try:
        from aquacache_spark.session import get_spark

        with tracer.span("session.get_spark"):
            t = time.perf_counter()
            spark = get_spark(f"perfbench-{args.workload}")
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t
        versions = {"spark": spark.version,
                    "java": spark.sparkContext._jvm.System.getProperty("java.version"),
                    "python": platform.python_version()}
        ctx = Context(spark, args.seed, args.seconds, tracer, work)
        out = module.run(ctx)
        peak_mb = harness.tree_peak_rss_mb(os.getpid())
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    loop = ctx.window
    lat = loop.latencies_ms
    window_s = loop.elapsed()
    tail_name, tail_ms = harness.tail(lat) if lat else ("p50", 0.0)
    if args.trace:
        spans_per_op = len(tracer.op_spans()) / max(loop.attempted, 1)
        span_cost = harness.Tracer.span_cost_s()
        values = {
            "session.get_spark_s": session_s,
            **{f"selftime.{k}_ms_per_op": v * 1e3 / max(loop.attempted, 1)
               for k, v in tracer.self_times().items()},
            "trace.op_p50_ms": harness.median(lat),
            "trace.spans_per_op": spans_per_op,
            "trace.overhead_ms_per_op": spans_per_op * span_cost * 1e3,
            **out["layers"],
        }
        wanted = spec["per_layer"]
        unknown = sorted(set(values) - {m["name"] for m in wanted})
        if unknown:
            print(f"perfbench: metrics not in BENCHMARK.json: {unknown}", file=sys.stderr)
        tracer.dump(os.path.join(bench_dir, f"trace-{args.workload}-{args.seed}.json"))
    else:
        completed = loop.attempted - loop.failed
        values = {
            "setup_s": loop.setup_s,
            "op_p50_ms": harness.median(lat),
            "op_tail_ms": tail_ms,
            "ops_per_s": completed / window_s,
            "rows_per_s": out["rows"] / window_s,
            "store_bytes_per_user_byte": out["store_bytes_per_user_byte"],
            "peak_rss_mb": peak_mb,
        }
        wanted = spec["end_to_end"]
    # a layer this workload does not call reads 0
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}

    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "samples": len(lat), "tail_percentile": tail_name,
        "failed_ratio": loop.failed / max(loop.attempted, 1), "window_s": window_s,
        "commit": commit(root), "source_digest": source_digest(root),
        "inputs": out["inputs"], "deployment": deployment, **versions,
    }))
    print(json.dumps({
        "correct": loop.failed == 0 and loop.attempted > 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
