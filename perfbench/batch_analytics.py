"""batch_analytics: one client running registry queries from all six
``queries`` modules in a closed loop, in passes of seeded order.

Inputs are the TPC-H-style tables the queries read (``events``,
``orders``, ``documents``, ``embeddings``), generated here from the seed
with the shapes of the sf0.1 test data at scale ``SF``. A query op runs
from the registry call to completion of a ``noop`` sink.

Set-up runs every query once, collects its rows and compares them with
its DuckDB oracle from ``ORACLES``; that pass also warms the JVM. A
query whose check failed counts every one of its timed ops as failed.
"""

from __future__ import annotations

import os
import random
import sys
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from harness import EngineLog, SparkCounters, dir_bytes, median, release_persisted

SF = 0.01
QUERIES = (
    "corrections_chain",         # core
    "doy_historic_stats",        # core
    "rating_curve_discharge",    # hydrology
    "minhash_lsh_pairs",         # dedup
    "embedding_cosine_topk",     # ann
    "warc_crawl_corpus",         # web
    "jpeg_decode_features",      # multimodal
)
MODULES = ("core", "hydrology", "dedup", "ann", "web", "multimodal")
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()


# -- inputs ------------------------------------------------------------

def generate(data: str, seed: int, sf: float = SF) -> dict:
    """Write the four input tables; return their row counts and their
    in-memory Arrow bytes."""
    rng = np.random.default_rng(seed)
    os.makedirs(data, exist_ok=True)

    n = int(1_000_000 * sf)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    events = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(int(15_000 * sf), 10), n), pa.int64()),
        "event_type": pa.array(rng.choice(["click", "error", "purchase", "signup", "view"], n)),
        "value": pa.array(np.round(rng.exponential(50, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })

    n = int(1_500_000 * sf)
    days = rng.integers(0, 2404, n)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, int(150_000 * sf), n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n), 2)),
        "o_orderdate": pa.array(np.datetime64("1995-01-01", "us")
                                + (days * 86400 * 10**6).astype("timedelta64[us]"),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)),
    })

    n = int(50_000 * sf)
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))) for _ in range(n)]
    for i in rng.choice(n, n // 20, replace=False):  # near duplicates
        texts[i] = texts[(i + int(rng.integers(1, n))) % n] + " dup"
    documents = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "de", "es", "fr", "zh"], n,
                                    p=[0.41, 0.14, 0.15, 0.15, 0.15])),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    n = int(20_000 * sf)
    vec = rng.normal(size=(n, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })

    tables = {"events": events, "orders": orders, "documents": documents,
              "embeddings": embeddings}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(data, f"{name}.parquet"))
    return {**{name: t.num_rows for name, t in tables.items()},
            "user_bytes": sum(t.nbytes for t in tables.values())}


# -- correctness -------------------------------------------------------

def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif s.dtype == object:
            first = s.dropna().iloc[0] if s.notna().any() else None
            if isinstance(first, (pd.Timestamp,)) or hasattr(first, "isoformat"):
                df[c] = pd.to_datetime(s).astype("datetime64[us]")
            else:
                df[c] = s.astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    a, b = _normalize(got), _normalize(want)
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]) or pd.api.types.is_float_dtype(b[c]):
            x = pd.to_numeric(a[c], errors="coerce").to_numpy(float)
            y = pd.to_numeric(b[c], errors="coerce").to_numpy(float)
            if not np.array_equal(x, y, equal_nan=True):
                return False
        elif not a[c].equals(b[c]):
            return False
    return True


def oracle_con(data: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 2")
    for name in ("events", "orders", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{data}/{name}.parquet'")
    return con


# -- the run -----------------------------------------------------------

def check_all(spark, data: str) -> tuple[dict, dict]:
    """Run every query once, collect it and compare with its oracle;
    returns (matches, rows) per query name."""
    from aquacache_spark import queries as Q

    rows_of, good = {}, {}
    con = oracle_con(data)
    for name in QUERIES:
        try:
            got = Q.QUERIES[name](spark, data).toPandas()
            want = con.execute(Q.ORACLES[name]).fetchdf()
            good[name] = frames_match(got, want)
            rows_of[name] = len(got)
        except Exception:  # a failing query fails its ops, not the run
            traceback.print_exc()
            good[name], rows_of[name] = False, 0
        if not good[name]:
            print(f"batch_analytics: {name} does not match its oracle", file=sys.stderr)
        release_persisted(spark)
    con.close()
    return good, rows_of


def query_metrics(per_query: dict, build_s: list, exec_s: list, build_jobs: list) -> dict:
    from aquacache_spark import queries as Q

    by_module: dict[str, list[float]] = {m: [] for m in MODULES}
    for name, ts in per_query.items():
        by_module[Q.QUERIES[name].__module__.rsplit(".", 1)[1]].extend(ts)
    return {
        "queries.build_s": median(build_s),
        "queries.build_jobs_per_query": sum(build_jobs) / max(len(build_jobs), 1),
        "queries.exec_s": median(exec_s),
        **{f"queries.{m}.s": median(v) for m, v in by_module.items()},
        **{f"queries.{n}.s": median(v) for n, v in per_query.items()},
    }


def query_probes(spark, work: str, seed: int, tracer) -> dict:
    """The query layer's per-layer metrics outside this workload: build
    the inputs and run one pass, each query timed from the registry
    call (in its own job group) to its collected rows, which are then
    compared with the query's oracle. The pass is the first run of each
    query in the process, so its times include first-use compilation."""
    from aquacache_spark import queries as Q

    data = os.path.join(work, "query-data")
    generate(data, seed)
    con = oracle_con(data)
    counters = SparkCounters(spark)
    per_query: dict[str, list[float]] = {n: [] for n in QUERIES}
    build_s, exec_s, build_jobs, wrong = [], [], [], []
    for name in QUERIES:
        gid = counters.group("probe-build")
        with tracer.span(f"queries.{name}"):
            t0 = time.perf_counter()
            df = Q.QUERIES[name](spark, data)
            t1 = time.perf_counter()
            got = df.toPandas()
            t2 = time.perf_counter()
        build_jobs.append(counters.read(gid)["jobs"])
        per_query[name].append(t2 - t0)
        build_s.append(t1 - t0)
        exec_s.append(t2 - t1)
        if not frames_match(got, con.execute(Q.ORACLES[name]).fetchdf()):
            wrong.append(name)
        release_persisted(spark)
    con.close()
    if wrong:
        raise RuntimeError(f"queries failing their oracle: {wrong}")
    return query_metrics(per_query, build_s, exec_s, build_jobs)


def run(ctx) -> dict:
    from aquacache_spark import queries as Q

    spark, tracer = ctx.spark, ctx.tracer
    data = os.path.join(ctx.work, "data")
    with tracer.span("setup.materialize"):
        t = time.perf_counter()
        inputs = generate(data, ctx.seed)
        materialize_s = time.perf_counter() - t

    with tracer.span("setup.warmup"):
        t = time.perf_counter()
        good, rows_of = check_all(spark, data)
        warmup_s = time.perf_counter() - t

    counters = SparkCounters(spark) if tracer.enabled else None
    engine = EngineLog()
    order = random.Random(ctx.seed)
    loop = ctx.loop()
    per_query: dict[str, list[float]] = {n: [] for n in QUERIES}
    build_s, exec_s, build_jobs = [], [], []
    rows = 0
    while loop.more():
        names = list(QUERIES)
        order.shuffle(names)
        for name in names:
            bg = counters.group("build") if counters else None
            tracer.op_id = loop.attempted
            with tracer.span("op"):
                t0 = time.perf_counter()
                try:
                    with tracer.span(f"queries.{name}"):
                        df = Q.QUERIES[name](spark, data)
                    t1 = time.perf_counter()
                    xg = counters.group("exec") if counters else None
                    with tracer.span("action.noop_sink"):
                        df.write.format("noop").mode("overwrite").save()
                    err = None
                except Exception as e:
                    err = e
                t2 = time.perf_counter()
            tracer.op_id = None
            with loop.off_clock():
                ok = err is None and good[name]
                if err is not None:
                    print(f"batch_analytics: {name} raised", file=sys.stderr)
                    traceback.print_exception(err, file=sys.stderr)
                loop.record((t2 - t0) * 1e3, ok)
                if ok:
                    rows += rows_of[name]
                    per_query[name].append(t2 - t0)
                    build_s.append(t1 - t0)
                    exec_s.append(t2 - t1)
                if counters and ok:
                    b, x = counters.read(bg), counters.read(xg)
                    build_jobs.append(b["jobs"])
                    engine.add({k: b[k] + x[k] for k in b}, counters.persisted_mb())
                release_persisted(spark)

    out = {
        "rows": rows,
        "store_bytes_per_user_byte": dir_bytes(data) / inputs["user_bytes"],
        "inputs": inputs,
        "layers": {},
    }
    if tracer.enabled:
        out["layers"] = {
            "setup.materialize_s": materialize_s,
            "setup.warmup_s": warmup_s,
            **query_metrics(per_query, build_s, exec_s, build_jobs),
            **engine.metrics(),
        }
    return out
