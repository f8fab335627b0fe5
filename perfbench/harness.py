"""Shared benchmark machinery: deployment pinning, timing, percentiles,
tracing spans, Spark job/stage counters read from outside, process RSS
and on-disk byte counts.

Nothing here reaches into the package under test except through its
public entry points (``aquacache_spark.session.get_spark``) and Spark's
own status APIs.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import time
from collections import defaultdict

PROCESS_T0 = time.perf_counter()

# a fixed, pre-touched 2g heap: the data is small, and a heap that is
# resident from the start keeps peak RSS from depending on when the
# collector first touches each region
DRIVER_MEM = "2g"


def pin_deployment(work: str) -> dict:
    """Pin the Spark deployment before pyspark is imported: cores =
    nproc, a driver heap well below physical RAM, and every scratch
    directory inside this run's work dir. Other session settings stay
    as ``aquacache_spark.session.configure`` sets them."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_GRAFT_DRIVER_XOPTS": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    return env


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# -- statistics --------------------------------------------------------

def quantile(values, p: float) -> float:
    """Linear-interpolated quantile of a non-empty sample."""
    xs = sorted(values)
    pos = p * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return quantile(values, 0.5) if values else 0.0


TAIL_GRID = (0.999, 0.99, 0.95, 0.9, 0.75, 0.5)


def tail(values) -> tuple[str, float]:
    """Highest percentile of TAIL_GRID with at least ten samples beyond
    it; with fewer than twenty samples that is the median."""
    p = next(p for p in TAIL_GRID if (1 - p) * len(values) >= 10 or p == 0.5)
    return f"p{p * 100:g}", quantile(values, p)


# -- closed loop -------------------------------------------------------

class ClosedLoop:
    """One client's timed window. Created at the first timed op, so
    ``setup_s`` is process start to that point. Work done inside
    ``off_clock`` (correctness checks, counter reads) does not count
    toward the window."""

    def __init__(self, seconds: float):
        self.seconds = seconds
        self.setup_s = time.perf_counter() - PROCESS_T0
        self.t0 = time.perf_counter()
        self.excluded = 0.0
        self.latencies_ms: list[float] = []
        self.attempted = 0
        self.failed = 0

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0 - self.excluded

    def more(self) -> bool:
        return self.elapsed() < self.seconds

    @contextlib.contextmanager
    def off_clock(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.excluded += time.perf_counter() - t

    def record(self, latency_ms: float, ok: bool) -> None:
        self.attempted += 1
        if ok:
            self.latencies_ms.append(latency_ms)
        else:
            self.failed += 1


SETTLE_MAX_S = 10.0
SETTLE_QUIET_MS = 20.0


def settle(spark) -> None:
    """Let the warm-up's lazy work finish before the window opens: wait
    until the JVM's JIT compilers have drained their queue (total
    compilation time grows by under SETTLE_QUIET_MS in half a second, or
    SETTLE_MAX_S passed), then collect garbage in both processes, so the
    window does not pay for compilations and heap left over from
    set-up."""
    import gc

    jvm = spark.sparkContext._jvm
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    deadline = time.perf_counter() + SETTLE_MAX_S
    last = jit.getTotalCompilationTime()
    while time.perf_counter() < deadline:
        time.sleep(0.5)
        now = jit.getTotalCompilationTime()
        if now - last < SETTLE_QUIET_MS:
            break
        last = now
    jvm.System.gc()
    gc.collect()


# -- tracing -----------------------------------------------------------

class Tracer:
    """In-memory spans recorded around calls into each layer's public
    functions. Disabled, ``span`` returns a shared no-op context."""

    _NULL = contextlib.nullcontext()

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    def span(self, name: str):
        return self._span(name) if self.enabled else self._NULL

    @contextlib.contextmanager
    def _span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "op": self.op_id, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def op_spans(self) -> list[dict]:
        return [s for s in self.spans if s["op"] is not None and s["end"] is not None]

    def self_times(self) -> dict[str, float]:
        """Seconds per layer (the span-name prefix before the first
        dot) inside timed ops, not covered by child spans."""
        spans = self.op_spans()
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s["name"].split(".", 1)[0]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    @staticmethod
    def span_cost_s() -> float:
        """Measured cost of recording one span on this machine."""
        probe = Tracer(True)
        n = 2000
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("probe"):
                pass
        return (time.perf_counter() - t0) / n

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# -- Spark counters ----------------------------------------------------

def _opt_ms(opt):
    return opt.get().getTime() if opt.isDefined() else None


class SparkCounters:
    """Per-op engine counters read from outside: each op runs in its
    own job group; afterwards the status tracker names its jobs and
    stages, and the status store gives each stage's last attempt.
    Read right after each op: the store keeps a bounded stage count."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self._n = 0

    def group(self, tag: str) -> str:
        self._n += 1
        gid = f"{tag}-{self._n}"
        self.sc.setJobGroup(gid, gid)
        return gid

    def read(self, gid: str) -> dict:
        out = {"jobs": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0, "failed_tasks": 0,
               "sched_wait_ms": []}
        from py4j.protocol import Py4JJavaError

        for jid in self.tracker.getJobIdsForGroup(gid):
            out["jobs"] += 1
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted from the bounded store
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                out["tasks"] += sd.numTasks()
                out["run_s"] += sd.executorRunTime() / 1e3
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (sd.memoryBytesSpilled()
                                    + sd.diskBytesSpilled()) / 2**20
                out["failed_tasks"] += sd.numFailedTasks()
                sub, first = (_opt_ms(sd.submissionTime()),
                              _opt_ms(sd.firstTaskLaunchedTime()))
                if sub is not None and first is not None:
                    out["sched_wait_ms"].append(first - sub)
        return out

    def persisted_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def release_persisted(spark) -> None:
    """Drop blocks an op left persisted, so ops do not accumulate
    storage (the same hygiene bench.py applies between queries)."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist()


def scan_rows(df) -> int:
    """Rows emitted by the file-scan nodes of ``df``'s executed plan
    (numOutputRows), through AQE wrappers and query stages."""
    total = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "FileSourceScanExec":
            m = node.metrics().get("numOutputRows")
            if m.isDefined():
                total += m.get().value()
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return total


class EngineLog:
    """Accumulates per-op Spark counters for the traced run."""

    def __init__(self):
        self.ops: list[dict] = []

    def add(self, c: dict, leftover_mb: float) -> None:
        self.ops.append({**c, "leftover_mb": leftover_mb})

    def metrics(self) -> dict:
        n = max(len(self.ops), 1)
        waits = [w for o in self.ops for w in o["sched_wait_ms"]]
        return {
            "spark.executor_run_s": sum(o["run_s"] for o in self.ops) / n,
            "spark.executor_cpu_s": sum(o["cpu_s"] for o in self.ops) / n,
            "spark.shuffle_write_mb":
                sum(o["shuffle_write_mb"] for o in self.ops) / n,
            "spark.spill_mb": sum(o["spill_mb"] for o in self.ops) / n,
            "spark.failed_tasks": sum(o["failed_tasks"] for o in self.ops) / n,
            "spark.sched_wait_ms": median(waits),
            "spark.leftover_persisted_mb":
                sum(o["leftover_mb"] for o in self.ops) / n,
        }


# -- process memory ----------------------------------------------------

def _status_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def tree_peak_rss_mb(root: int) -> float:
    """Sum of the kernel's peak-RSS marks (VmHWM) over ``root`` and its
    live descendants (Spark JVM, Python workers), from /proc. Read
    before the session stops, while the workers are alive. Per-process
    marks need no sampler, and a child spawned with a shared address
    space (the JVM's posix_spawn) is gone by then and not counted
    twice."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(d))
    total, stack = 0, [root]
    while stack:
        p = stack.pop()
        try:
            total += _status_kb(p, "VmHWM")
        except OSError:  # exited meanwhile
            pass
        stack.extend(children.get(p, ()))
    return total / 1024


# -- disk --------------------------------------------------------------

def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def live_store_bytes(path: str) -> int:
    """Data bytes the store's current manifest references (its live
    snapshot), read from the manifest file itself."""
    with open(os.path.join(path, "_MANIFEST.json")) as f:
        m = json.load(f)
    return sum(dir_bytes(os.path.join(path, f"v{v}", f"bucket={b}"))
               for b, v in m["buckets"].items())


def manifest(path: str) -> dict:
    with open(os.path.join(path, "_MANIFEST.json")) as f:
        return json.load(f)


# -- shutdown ----------------------------------------------------------

def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it."""
    import subprocess

    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Py4JError:
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits on stdin EOF
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
