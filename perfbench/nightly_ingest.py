"""nightly_ingest: one writer running the nightly update cycle in a
closed loop against a ``ParquetMergeStore``.

The store starts as a seeded multi-series 15-minute history plus a daily
store rolled up from it. Each cycle, in order:

1. ``merge`` one new day for a seeded subset of series, plus seeded late
   revisions to earlier days;
2. ``changes`` -> ``changed_ranges_from_cdf``;
3. ``incremental_daily_refresh`` with ``daily_rollup``;
4. merge the changed daily rows into the daily store;
5. ``trim_daily_tail``;
6. ``maybe_optimize``.

After each cycle, off the clock, a fresh ``ParquetMergeStore`` instance
reads the committed rows; they must equal the benchmark's own model of
the store, and the daily store must equal daily means recomputed from
that model in pandas.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow as pa

import batch_analytics
from harness import (EngineLog, SparkCounters, dir_bytes, live_store_bytes,
                     manifest, median, release_persisted)

N_SERIES = 32
HISTORY_DAYS = 14
DAY0 = pd.Timestamp("2024-03-01")
STEP = pd.Timedelta(minutes=15)
NEW_DAY_SHARE = 0.5      # share of series that report each new day
REVISED_SHARE = 0.1      # share of series revising an earlier day
REVISED_POINTS = 0.25    # share of that day's points revised
DAILY_COLS = ["timeseries_id", "date", "value", "min", "max", "mean", "count"]


class History:
    """Seeded series shapes and the writer's own model of the store."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.base = self.rng.uniform(1, 300, N_SERIES)
        self.amp = self.rng.uniform(0.1, 20, N_SERIES)
        self.phase = self.rng.uniform(0, 6.28, N_SERIES)
        self.day = 0
        parts = [self.day_rows(d, np.arange(1, N_SERIES + 1))
                 for d in range(-HISTORY_DAYS, 0)]
        self.model = pd.concat(parts, ignore_index=True).set_index(
            ["timeseries_id", "datetime"]).sort_index()

    def day_rows(self, day: int, tsids: np.ndarray) -> pd.DataFrame:
        t = (DAY0 + pd.Timedelta(days=day)).to_datetime64() + STEP.to_timedelta64() * np.arange(96)
        ts = np.repeat(tsids, 96).astype(np.int32)
        dt = np.tile(t, len(tsids))
        i = ts - 1
        hours = (dt - DAY0.to_datetime64()) / np.timedelta64(1, "h")
        v = (self.base[i] + self.amp[i] * np.sin(hours / 24 * 6.283 + self.phase[i])
             + self.rng.normal(0, 0.05, len(ts)))
        return pd.DataFrame({"timeseries_id": ts, "datetime": dt,
                             "value": np.round(v, 3), "imputed": False})

    def next_updates(self) -> pd.DataFrame:
        """One new day for a seeded subset plus late revisions."""
        tsids = np.arange(1, N_SERIES + 1)
        new = self.rng.choice(tsids, int(N_SERIES * NEW_DAY_SHARE), replace=False)
        parts = [self.day_rows(self.day, np.sort(new))]
        for tsid in self.rng.choice(tsids, max(1, int(N_SERIES * REVISED_SHARE)),
                                    replace=False):
            back = int(self.rng.integers(1, 8))
            old = self.day_rows(self.day - back, np.array([tsid]))
            old = old.sample(frac=REVISED_POINTS, random_state=self.rng.integers(2**31))
            old["value"] = np.round(old["value"] + self.rng.normal(0, 1, len(old)), 3)
            parts.append(old)
        self.day += 1
        upd = pd.concat(parts, ignore_index=True).drop_duplicates(
            ["timeseries_id", "datetime"], keep="last")
        return upd.sort_values(["timeseries_id", "datetime"]).reset_index(drop=True)

    def apply(self, upd: pd.DataFrame) -> None:
        u = upd.set_index(["timeseries_id", "datetime"])
        self.model = pd.concat([self.model[~self.model.index.isin(u.index)], u]).sort_index()

    def expected_daily(self) -> pd.DataFrame:
        m = self.model.reset_index()
        m["date"] = m.datetime.dt.normalize()
        micro = np.floor(m.value.to_numpy() * 1e6 + 0.5).astype(np.int64)
        m["micro"] = micro
        g = m.groupby(["timeseries_id", "date"])
        out = g.agg(min=("value", "min"), max=("value", "max"), count=("value", "size"),
                    micro=("micro", "sum")).reset_index()
        out["mean"] = out.micro / 1e6 / out["count"]
        out["value"] = out["mean"]
        return out[DAILY_COLS]


def _daily_rollup(df):
    from aquacache_spark.operators.daily import daily_rollup

    return daily_rollup(df, keys=["timeseries_id"], agg_type="mean")


def _frame(spark, pdf: pd.DataFrame):
    """Update rows as a local relation (Arrow, no Python-RDD scan)."""
    from aquacache_spark.session import local_df

    return local_df(spark, pdf, "timeseries_id int, datetime timestamp, "
                                "value double, imputed boolean")


def materialize(spark, work: str, hist: History):
    from aquacache_spark.sources.store import ParquetMergeStore

    mstore = ParquetMergeStore(spark, os.path.join(work, "measurements"),
                               ["timeseries_id", "datetime"])
    dstore = ParquetMergeStore(spark, os.path.join(work, "daily"),
                               ["timeseries_id", "date"])
    base = _frame(spark, hist.model.reset_index())
    mstore.overwrite(base)
    dstore.overwrite(_daily_rollup(mstore.read()).select(*DAILY_COLS))
    return mstore, dstore


class Cycle:
    """One nightly cycle; returns what it observed (step times, buckets
    and bytes written, daily rows recomputed and changed)."""

    def __init__(self, spark, mstore, dstore, tracer):
        self.spark, self.mstore, self.dstore, self.tracer = spark, mstore, dstore, tracer

    def __call__(self, upd: pd.DataFrame) -> dict:
        from aquacache_spark.session import local_df
        from aquacache_spark.streaming.incremental import (changed_ranges_from_cdf,
                                                           incremental_daily_refresh,
                                                           trim_daily_tail)

        spark, tr, st = self.spark, self.tracer, {}
        before = manifest(self.mstore.path)
        with tr.span("store.merge"):
            t = time.perf_counter()
            self.mstore.merge(_frame(spark, upd))
            st["merge_s"] = time.perf_counter() - t
        after = manifest(self.mstore.path)
        st["buckets_rewritten"] = sum(
            1 for b, v in after["data"].items() if before["data"].get(b) != v)
        st["write_bytes"] = dir_bytes(os.path.join(self.mstore.path, f"v{after['version']}"))
        with tr.span("store.changes"):
            t = time.perf_counter()
            cdf = self.mstore.changes(before["version"])
            ranges = changed_ranges_from_cdf(cdf).collect()
            st["changes_s"] = time.perf_counter() - t
        with tr.span("incremental.refresh"):
            t = time.perf_counter()
            plan = incremental_daily_refresh(
                self.mstore.read(),
                local_df(spark, [tuple(r) for r in ranges],
                         "timeseries_id int, min_dt timestamp, max_dt timestamp"),
                self.dstore.read(), _daily_rollup)
            fresh = plan.collect()
            st["refresh_s"] = time.perf_counter() - t
        changed = [r for r in fresh if r["merge_action"] != "unchanged"]
        st["days_recomputed"], st["days_changed"] = len(fresh), len(changed)
        if changed:
            with tr.span("store.merge_daily"):
                rows = pd.DataFrame([[r[c] for c in DAILY_COLS] for r in changed],
                                    columns=DAILY_COLS)
                self.dstore.merge(local_df(
                    spark, rows, "timeseries_id int, date date, value double, "
                                 "min double, max double, mean double, count bigint"))
        with tr.span("incremental.trim"):
            t = time.perf_counter()
            st["trimmed"] = trim_daily_tail(self.dstore.read(), self.mstore.read()).count()
            st["trim_s"] = time.perf_counter() - t
        with tr.span("store.maybe_optimize"):
            t = time.perf_counter()
            self.mstore.maybe_optimize()
            self.dstore.maybe_optimize()
            st["optimize_s"] = time.perf_counter() - t
        return st


def check(spark, mstore, dstore, hist: History) -> bool:
    """A fresh store instance must read back the model, and the daily
    store must hold the daily means recomputed from it."""
    from aquacache_spark.sources.store import ParquetMergeStore

    got = ParquetMergeStore(spark, mstore.path, ["timeseries_id", "datetime"]).read()
    got = got.select("timeseries_id", "datetime", "value").toPandas()
    got["datetime"] = got.datetime.astype("datetime64[ns]")
    got = got.set_index(["timeseries_id", "datetime"]).sort_index()
    want = hist.model[["value"]]
    if not (len(got) == len(want) and got.index.equals(want.index)
            and np.array_equal(got.value.to_numpy(), want.value.to_numpy())):
        return False
    daily = ParquetMergeStore(spark, dstore.path, ["timeseries_id", "date"]).read()
    daily = daily.select(*DAILY_COLS).toPandas()
    daily["date"] = pd.to_datetime(daily.date)
    daily = daily.sort_values(["timeseries_id", "date"]).reset_index(drop=True)
    exp = hist.expected_daily().sort_values(["timeseries_id", "date"]).reset_index(drop=True)
    if len(daily) != len(exp) or not (daily.timeseries_id.to_numpy()
                                      == exp.timeseries_id.to_numpy()).all():
        return False
    if not (daily.date.to_numpy() == exp.date.to_numpy()).all():
        return False
    return all(np.allclose(daily[c].to_numpy(float), exp[c].to_numpy(float),
                           rtol=1e-12, atol=1e-9) for c in DAILY_COLS[2:])


def run(ctx) -> dict:
    spark, tracer = ctx.spark, ctx.tracer
    with tracer.span("setup.materialize"):
        t = time.perf_counter()
        hist = History(ctx.seed)
        mstore, dstore = materialize(spark, ctx.work, hist)
        materialize_s = time.perf_counter() - t
    cycle = Cycle(spark, mstore, dstore, tracer)

    with tracer.span("setup.warmup"):
        t = time.perf_counter()
        # unchecked: a wrong warm-up cycle fails the first timed check
        upd = hist.next_updates()
        cycle(upd)
        hist.apply(upd)
        release_persisted(spark)
        warmup_s = time.perf_counter() - t

    counters = SparkCounters(spark) if tracer.enabled else None
    engine = EngineLog()
    loop = ctx.loop()
    stats, rows, user_bytes = [], 0, 0
    while loop.more():
        upd = hist.next_updates()
        gid = counters.group("cycle") if counters else None
        tracer.op_id = loop.attempted
        with tracer.span("op"):
            t0 = time.perf_counter()
            try:
                st = cycle(upd)
                err = None
            except Exception as e:
                err = e
            lat = (time.perf_counter() - t0) * 1e3
        tracer.op_id = None
        with loop.off_clock():
            hist.apply(upd)
            ok = err is None and check(spark, mstore, dstore, hist)
            if err is not None:
                traceback.print_exception(err, file=sys.stderr)
            if not ok:
                print(f"nightly_ingest: cycle {hist.day} failed", file=sys.stderr)
            loop.record(lat, ok)
            if ok:
                ub = pa.Table.from_pandas(upd, preserve_index=False).nbytes
                st["user_bytes"] = ub
                stats.append(st)
                rows += len(upd)
                user_bytes += ub
            if counters:
                engine.add(counters.read(gid), counters.persisted_mb())
            release_persisted(spark)

    model_bytes = pa.Table.from_pandas(hist.model.reset_index(), preserve_index=False).nbytes
    daily_bytes = pa.Table.from_pandas(hist.expected_daily(), preserve_index=False).nbytes
    out = {
        "rows": rows,
        "store_bytes_per_user_byte":
            (live_store_bytes(mstore.path) + live_store_bytes(dstore.path))
            / (model_bytes + daily_bytes),
        "inputs": {"series": N_SERIES, "history_rows": N_SERIES * HISTORY_DAYS * 96,
                   "rows_per_cycle": rows / max(len(stats), 1),
                   "user_bytes": model_bytes + daily_bytes},
        "layers": {},
    }
    if tracer.enabled:
        def med(k):
            return median([s[k] for s in stats])

        lay = {
            "setup.materialize_s": materialize_s,
            "setup.warmup_s": warmup_s,
            "store.merge_s": med("merge_s"),
            "store.changes_s": med("changes_s"),
            "store.maybe_optimize_s": med("optimize_s"),
            "store.buckets_rewritten_per_merge": med("buckets_rewritten"),
            "store.write_bytes_per_user_byte":
                sum(s["write_bytes"] for s in stats) / max(user_bytes, 1),
            "store.fragments": len(set(manifest(mstore.path)["buckets"].values())),
            "incremental.refresh_s": med("refresh_s"),
            "incremental.trim_s": med("trim_s"),
            "incremental.days_recomputed_per_day_changed":
                sum(s["days_recomputed"] for s in stats)
                / max(sum(s["days_changed"] for s in stats), 1),
            **engine.metrics(),
        }
        with loop.off_clock():
            lay["operators.daily.daily_rollup_ms"] = daily_rollup_probe(spark, hist, tracer)
            # the registry-query layer has no workload of its own in
            # BENCHMARK.json; its per-layer numbers ride on this run
            lay.update(batch_analytics.query_probes(spark, ctx.work, ctx.seed, tracer))
        out["layers"] = lay
    return out


def daily_rollup_probe(spark, hist: History, tracer) -> float:
    """``daily_rollup`` forced on a pre-materialized day of updates."""
    df = _frame(spark, hist.next_updates()).cache()
    df.count()
    times = []
    with tracer.span("operators.daily.daily_rollup"):
        for _ in range(3):
            t = time.perf_counter()
            _daily_rollup(df).write.format("noop").mode("overwrite").save()
            times.append((time.perf_counter() - t) * 1e3)
    release_persisted(spark)
    return median(times)
