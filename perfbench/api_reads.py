"""api_reads: one client calling the table-valued read API in a closed
loop over a store that is only read.

Set-up writes the fixture series (``aquacache_spark.fixtures``) over a
two-year span plus a seeded population of extra hourly series to a
``ParquetMergeStore``; the version log goes to a second store. The API
receives a ``FixtureStore`` whose measurement frames are reads of those
stores (catalog and grades are small local relations).

Requests come in rounds of sixteen: two of each kind, with the
resampled kind twice per statistic, each with its own window length
(day, week or month), in seeded order; the seed picks series and
anchors. Warm-up is one half-size round. Each read
is forced with ``collect()`` and checked, off the clock, against an
independent pandas computation over the same parquet files.
"""

from __future__ import annotations

import os
import random
import sys
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow.dataset as pads

from aquacache_spark.fixtures import AUDIT_FIX
from harness import (EngineLog, SparkCounters, live_store_bytes,
                     manifest, median, release_persisted, scan_rows)

START = "2021-06-01 00:00:00"
END = "2023-06-01 00:00:00"
N_EXTRA = 4
# request kind -> window length in days. Selective reads (the daily kinds
# still compute over the full history). Every round issues the same
# (kind, window, statistic, bin) requests and returns the same number of
# rows, so a run of any number of rounds carries one mix.
KINDS = {"corrected_raw": 7, "corrected_fold": 1, "compound_priority": 30,
         "compound_expr": 7, "resampled_stat": 30, "daily_doy": 30,
         "daily_as_of": 7}
RESAMPLE = (("mean", 21600), ("median", 21600))
# a timed round issues the set twice: the resampled requests and the
# compound expression then form a cluster of six similar-cost requests
# in the middle of the sixteen, so the round's median is not one request
ROUND_REPEATS = 2


# -- inputs ------------------------------------------------------------

def _extra_params(seed: int) -> list[tuple]:
    rng = random.Random(seed)
    return [(101 + i, round(rng.uniform(5, 200), 1), round(rng.uniform(0.5, 30), 2),
             rng.choice((43200, 86400, 604800)), round(rng.uniform(0, 6.28), 3))
            for i in range(N_EXTRA)]


def materialize(spark, work: str, seed: int):
    from pyspark.sql import functions as F

    from aquacache_spark import fixtures
    from aquacache_spark.sources.store import ParquetMergeStore

    fx = fixtures.build_store(spark, START, END)
    t0 = int(pd.Timestamp(START).timestamp())
    n = (int(pd.Timestamp(END).timestamp()) - t0) // 3600 + 1
    extras = []
    for tsid, base, amp, period, phase in _extra_params(seed):
        epoch = (F.lit(t0) + F.col("id") * 3600).cast("double")
        extras.append(spark.range(0, n).select(
            F.lit(tsid).alias("timeseries_id"),
            F.timestamp_seconds(F.lit(t0) + F.col("id") * 3600).alias("datetime"),
            F.round(F.lit(base) + F.sin(epoch / period + phase) * amp, 3)
            .cast("double").alias("value"),
            F.lit(False).alias("imputed"),
            F.lit(False).alias("no_update"),
        ))
    meas = fx.measurements
    for e in extras:
        meas = meas.unionByName(e)

    mstore = ParquetMergeStore(spark, os.path.join(work, "measurements"),
                               ["timeseries_id", "datetime"])
    mstore.overwrite(meas)
    vstore = ParquetMergeStore(spark, os.path.join(work, "versions"),
                               ["timeseries_id", "datetime", "version_id"])
    vstore.overwrite(fx.measurement_versions)
    # catalog and grades are tables the API looks up eagerly; a few rows,
    # written without Spark
    catalog = fx.timeseries.toPandas()
    catalog = pd.concat([catalog, pd.DataFrame(
        [(p[0], "basic", "mean", 3600, 0, True) for p in _extra_params(seed)],
        columns=catalog.columns)], ignore_index=True)
    grades = fx.grades.toPandas()
    for name, pdf in (("timeseries", catalog), ("grades", grades)):
        os.makedirs(os.path.join(work, name))
        pdf.to_parquet(os.path.join(work, name, "part-0.parquet"), index=False,
                       coerce_timestamps="us")

    store = fixtures.FixtureStore(
        timeseries=spark.read.parquet(os.path.join(work, "timeseries")),
        # the store's bucket partition column is layout, not user schema
        measurements=mstore.read().drop("bucket"),
        corrections=fx.corrections,
        compounds=fx.compounds,
        grades=spark.read.parquet(os.path.join(work, "grades")),
        measurement_versions=vstore.read().drop("bucket"),
    )
    return store, mstore, vstore, catalog, grades


def _arrow_frame(path: str) -> pd.DataFrame:
    """A store's live snapshot read straight from its parquet files."""
    m = manifest(path)
    files = [os.path.join(path, f"v{v}", f"bucket={b}") for b, v in m["buckets"].items()]
    tables = [pads.dataset(f, format="parquet").to_table() for f in files]
    df = pd.concat([t.to_pandas() for t in tables], ignore_index=True)
    if "datetime" in df:
        df["datetime"] = df["datetime"].astype("datetime64[us]")
    return df


# -- independent oracle ------------------------------------------------

def _exact_mean(v: np.ndarray) -> float:
    return float(np.floor(v * 1e6 + 0.5).astype(np.int64).sum()) / 1e6 / len(v)


def _norm_doy(d: pd.Timestamp):
    leap = d.year % 4 == 0 and (d.year % 100 != 0 or d.year % 400 == 0)
    if d.month == 2 and d.day == 29:
        return None
    doy = d.dayofyear
    return doy - 1 if leap and doy > 60 else doy


class Oracle:
    """The API's closed forms (FIXTURES.md) recomputed in pandas."""

    def __init__(self, work: str, catalog: pd.DataFrame, grades: pd.DataFrame,
                 fx_corrections, fx_compounds):
        meas = _arrow_frame(os.path.join(work, "measurements"))
        self.series = {int(k): g.sort_values("datetime")[["datetime", "value"]]
                       .reset_index(drop=True) for k, g in meas.groupby("timeseries_id")}
        self.versions = _arrow_frame(os.path.join(work, "versions"))
        self.types = dict(zip(catalog.timeseries_id, catalog.timeseries_type))
        self.grades = grades[(grades.grade_code == "N") & (grades.start_dt != grades.end_dt)]
        self.corrections = fx_corrections
        self.compounds = fx_compounds
        self.rows = len(meas)
        self.user_bytes = (meas.memory_usage(index=False, deep=True).sum()
                           + self.versions.memory_usage(index=False, deep=True).sum())

    @staticmethod
    def _window(df, start, end, col="datetime"):
        if start:
            df = df[df[col] >= pd.Timestamp(start)]
        if end:
            df = df[df[col] <= pd.Timestamp(end)]
        return df

    def corrected(self, tsid, start=None, end=None, raw_override=None):
        if self.types[tsid] == "compound":
            spec = self.compounds[tsid]
            members = []
            for m in spec["members"]:
                s = self.corrected(m["timeseries_id"], start, end)
                if m["use_from"]:
                    s = s[s.datetime >= pd.Timestamp(m["use_from"])]
                members.append((m["priority"], m["alias"], s))
            if spec["expression"] is None:
                u = pd.concat([s.assign(_p=p, _a=a) for p, a, s in members])
                u = u.sort_values(["datetime", "_p", "_a"]).drop_duplicates("datetime")
                return u[["datetime", "value"]].reset_index(drop=True)
            (_, _, temp), (_, _, cond) = members  # ts10: temp=ts2, cond=ts9
            j = temp.merge(cond, on="datetime", suffixes=("_t", "_c"))
            j["value"] = j.value_c / (1 + 0.0191 * (j.value_t - 25))
            return j[["datetime", "value"]]
        raw = self.series[tsid] if raw_override is None else raw_override
        out = self._window(raw, start, end).copy()
        for c in self.corrections:
            if c.timeseries_id != tsid:
                continue
            if c.correction_type != "offset_linear":
                raise ValueError(f"oracle has no closed form for {c.correction_type}")
            hit = ((out.datetime >= pd.Timestamp(c.start_dt))
                   & (out.datetime < pd.Timestamp(c.end_dt)) & out.value.notna())
            out.loc[hit, "value"] = out.loc[hit, "value"] + c.value1
        return out.reset_index(drop=True)

    @staticmethod
    def resampled(series, seconds, statistic):
        if series.empty:
            return pd.DataFrame({"bin_start": [], "corrected_value": []})
        epoch = series.datetime.astype("int64") // 10**6
        bins = (epoch // seconds) * seconds
        grouped = series.value.groupby(bins.values)
        if statistic == "mean":
            stat = grouped.apply(lambda v: _exact_mean(v.to_numpy()))
        else:
            stat = grouped.median()
        spine = np.arange(bins.min(), bins.max() + 1, seconds)
        stat = stat.reindex(spine)
        return pd.DataFrame({
            "bin_start": pd.to_datetime(spine, unit="s").astype("datetime64[us]"),
            "corrected_value": stat.to_numpy()})

    def daily(self, tsid, start_date, end_date, raw_override=None):
        s = self.corrected(tsid, raw_override=raw_override)
        for _, g in self.grades[self.grades.timeseries_id == tsid].iterrows():
            s = s[~s.datetime.between(g.start_dt, g.end_dt)]
        s = s[s.value.notna()]
        days = s.groupby(s.datetime.dt.normalize()).value.apply(
            lambda v: _exact_mean(v.to_numpy()))
        rows = []
        hist: dict = {}
        for d, v in days.items():  # ascending dates: history = earlier rows
            doy = _norm_doy(d)
            h = np.array(hist.get(doy, [])) if doy is not None else np.array([])
            row = {"date": d, "value": v, "doy": doy, "doy_count": len(h)}
            if len(h):
                row.update(hist_min=h.min(), hist_max=h.max(), hist_mean=_exact_mean(h),
                           **{f"q{int(p * 100)}": float(np.quantile(h, p))
                              for p in (0.1, 0.25, 0.5, 0.75, 0.9)})
                rng = h.max() - h.min()
                if len(h) > 1 and rng != 0:
                    row["percent_historic_range"] = (v - h.min()) / rng * 100.0
            rows.append(row)
            if doy is not None:
                hist.setdefault(doy, []).append(v)
        out = pd.DataFrame(rows)
        if start_date:
            out = out[out.date >= pd.Timestamp(start_date)]
        if end_date:
            out = out[out.date <= pd.Timestamp(end_date)]
        return out.reset_index(drop=True)

    def daily_at(self, tsid, as_of, start_date, end_date):
        v = self.versions[(self.versions.timeseries_id == tsid)
                          & (self.versions.modified_at <= pd.Timestamp(as_of))]
        v = v.sort_values(["datetime", "modified_at", "version_id"])
        v = v.drop_duplicates("datetime", keep="last")
        v = v[~v.deleted][["datetime", "value"]].reset_index(drop=True)
        v["datetime"] = v.datetime.astype("datetime64[us]")
        return self.daily(tsid, start_date, end_date, raw_override=v)


def _frames_equal(got: pd.DataFrame, want: pd.DataFrame, key: str) -> bool:
    if len(got) != len(want):
        return False
    if len(got) == 0:
        return True
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    for c in want.columns:
        a, b = got[c], want[c]
        if c in ("datetime", "bin_start", "date"):
            if not (pd.to_datetime(a).astype("datetime64[us]").to_numpy()
                    == pd.to_datetime(b).astype("datetime64[us]").to_numpy()).all():
                return False
            continue
        a = pd.to_numeric(a, errors="coerce").to_numpy(dtype=float)
        b = pd.to_numeric(b, errors="coerce").to_numpy(dtype=float)
        if not np.allclose(a, b, rtol=1e-9, atol=1e-9, equal_nan=True):
            return False
    return True


# -- requests ----------------------------------------------------------

class Mix:
    """Seeded request generator: rounds of one request per kind."""

    def __init__(self, seed: int, extras: list[int]):
        self.rng = random.Random(seed)
        self.hourly = [9, *extras]
        self.t0 = pd.Timestamp(START)
        self.span_days = (pd.Timestamp(END) - self.t0).days

    def _window(self, days):
        lo = self.t0 + pd.Timedelta(days=self.rng.randrange(self.span_days - days))
        lo = lo + pd.Timedelta(minutes=15 * self.rng.randrange(96))
        return str(lo), str(lo + pd.Timedelta(days=days))

    def round(self, repeats: int = ROUND_REPEATS) -> list[tuple[str, dict]]:
        reqs = []
        for _ in range(repeats):
            reqs += [(k, self.request(k, days)) for k, days in KINDS.items()
                     if k != "resampled_stat"]
            reqs += [("resampled_stat", self.request("resampled_stat", KINDS["resampled_stat"],
                                                     stat, seconds))
                     for stat, seconds in RESAMPLE]
        self.rng.shuffle(reqs)
        return reqs

    def request(self, kind: str, days, statistic=None, seconds=None) -> dict:
        start, end = self._window(days)
        if kind == "corrected_raw":
            return dict(tsid=self.rng.choice(self.hourly), start=start, end=end)
        if kind == "corrected_fold":
            if self.rng.random() < 0.5:  # cover the correction
                lo = pd.Timestamp("2023-01-03 12:00:00") - (pd.Timestamp(end) - pd.Timestamp(start)) / 2
                start, end = str(lo), str(lo + (pd.Timestamp(end) - pd.Timestamp(start)))
            return dict(tsid=1, start=start, end=end)
        if kind == "compound_priority":
            return dict(tsid=6, start=start, end=end)
        if kind == "compound_expr":
            return dict(tsid=10, start=start, end=end)
        if kind == "resampled_stat":
            return dict(tsid=self.rng.choice(self.hourly), start=start, end=end,
                        statistic=statistic, seconds=seconds)
        sd, ed = start[:10], end[:10]
        if kind == "daily_doy":
            return dict(tsid=self.rng.choice(self.hourly), start=sd, end=ed)
        # around the fixture's audit fix, so reads see both versions of
        # the log while replaying about the same history
        as_of = pd.Timestamp(AUDIT_FIX) + pd.Timedelta(hours=self.rng.randrange(-720, 721))
        return dict(tsid=1, as_of=str(as_of), start=sd, end=ed)


def call_api(api, store, kind: str, r: dict):
    if kind in ("corrected_raw", "corrected_fold", "compound_priority", "compound_expr"):
        return api.measurements_continuous_corrected(store, r["tsid"], r["start"], r["end"])
    if kind == "resampled_stat":
        return api.measurements_continuous_corrected(
            store, r["tsid"], r["start"], r["end"], statistic=r["statistic"],
            resample_seconds=r["seconds"])
    if kind == "daily_doy":
        return api.measurements_calculated_daily(store, r["tsid"], r["start"], r["end"])
    return api.measurements_calculated_daily_at(store, r["tsid"], r["as_of"],
                                                r["start"], r["end"])


def expected(oracle: Oracle, kind: str, r: dict) -> tuple[pd.DataFrame, str]:
    if kind in ("corrected_raw", "corrected_fold", "compound_priority", "compound_expr"):
        return (oracle.corrected(r["tsid"], r["start"], r["end"])
                .rename(columns={"value": "corrected_value"}), "datetime")
    if kind == "resampled_stat":
        s = oracle.corrected(r["tsid"], r["start"], r["end"])
        return oracle.resampled(s, r["seconds"], r["statistic"]), "bin_start"
    if kind == "daily_doy":
        return oracle.daily(r["tsid"], r["start"], r["end"]), "date"
    return oracle.daily_at(r["tsid"], r["as_of"], r["start"], r["end"]), "date"


# -- traced-run probes -------------------------------------------------

def _timed_noop(build, reps: int = 3) -> float:
    out = []
    for _ in range(reps):
        t = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        out.append((time.perf_counter() - t) * 1e3)
    return median(out)


def operator_probes(spark, store, mstore, tracer) -> dict:
    """Force each operator the API composes on pre-materialized inputs
    taken from this workload's series."""
    from pyspark.sql import functions as F

    from aquacache_spark.operators.compound import (Member, expression_compound,
                                                    priority_coalesce)
    from aquacache_spark.operators.corrections import apply_corrections
    from aquacache_spark.operators.daily import daily_rollup
    from aquacache_spark.operators.doy import doy_stats
    from aquacache_spark.operators.resample import resample

    def series(tsid):
        return (store.measurements.where(F.col("timeseries_id") == tsid)
                .select("timeseries_id", "datetime", "value").cache())

    ts1, ts2, ts9 = series(1), series(2), series(9)
    for df in (ts1, ts2, ts9):
        df.count()
    daily = daily_rollup(ts1, keys=["timeseries_id"], agg_type="instantaneous").cache()
    daily.count()
    m = {}
    with tracer.span("operators.corrections.apply_corrections"):
        m["operators.corrections.apply_corrections_ms"] = _timed_noop(
            lambda: apply_corrections(ts1, store.corrections, out_col="value"))
    with tracer.span("operators.compound.priority_coalesce"):
        m["operators.compound.priority_coalesce_ms"] = _timed_noop(
            lambda: priority_coalesce([Member("a", ts1, 1), Member("b", ts2, 2, "2023-01-05")]))
    with tracer.span("operators.compound.expression_compound"):
        m["operators.compound.expression_compound_ms"] = _timed_noop(
            lambda: expression_compound([Member("temp", ts2), Member("cond", ts9)],
                                        "cond / (1 + 0.0191 * (temp - 25))"))
    with tracer.span("operators.resample.resample"):
        m["operators.resample.resample_ms"] = _timed_noop(
            lambda: resample(ts1, keys=["timeseries_id"], seconds=3600))
    with tracer.span("operators.daily.daily_rollup"):
        m["operators.daily.daily_rollup_ms"] = _timed_noop(
            lambda: daily_rollup(ts1, keys=["timeseries_id"], agg_type="instantaneous"))
    with tracer.span("operators.doy.doy_stats"):
        m["operators.doy.doy_stats_ms"] = _timed_noop(
            lambda: doy_stats(daily, keys=["timeseries_id"], exact_hist_mean=True))
    with tracer.span("store.read"):
        m["store.read_s"] = _timed_noop(
            lambda: mstore.read().where(F.col("timeseries_id") == 2)) / 1e3
    release_persisted(spark)
    return m


# -- the run -----------------------------------------------------------

def _rows_to_frame(rows, columns) -> pd.DataFrame:
    return pd.DataFrame([tuple(r) for r in rows], columns=columns)


def run(ctx) -> dict:
    from aquacache_spark import api

    spark, tracer = ctx.spark, ctx.tracer
    with tracer.span("setup.materialize"):
        t = time.perf_counter()
        store, mstore, vstore, catalog, grades = materialize(spark, ctx.work, ctx.seed)
        oracle = Oracle(ctx.work, catalog, grades, store.corrections, store.compounds)
        extras = [p[0] for p in _extra_params(ctx.seed)]
        materialize_s = time.perf_counter() - t

    with tracer.span("setup.warmup"):
        t = time.perf_counter()
        for kind, r in Mix(ctx.seed + 1_000_003, extras).round(repeats=1):
            call_api(api, store, kind, r).collect()
        release_persisted(spark)
        warmup_s = time.perf_counter() - t

    counters = SparkCounters(spark) if tracer.enabled else None
    engine = EngineLog()
    mix = Mix(ctx.seed, extras)
    loop = ctx.loop()
    by_kind: dict[str, list[float]] = {k: [] for k in KINDS}
    plan_ms, exec_ms, plan_jobs, jobs, tasks = [], [], [], [], []
    scanned = returned = rows = 0
    while loop.more():
        for kind, r in mix.round():
            tracer.op_id = loop.attempted
            pg = counters.group("plan") if counters else None
            with tracer.span("op"):
                t0 = time.perf_counter()
                try:
                    with tracer.span(f"api.{kind}"):
                        df = call_api(api, store, kind, r)
                    t1 = time.perf_counter()
                    eg = counters.group("exec") if counters else None
                    with tracer.span("action.collect"):
                        got = df.collect()
                    err = None
                except Exception as e:  # a failed request still counts
                    err = e
                t2 = time.perf_counter()
            tracer.op_id = None
            with loop.off_clock():
                ok = err is None
                if ok:
                    want, key = expected(oracle, kind, r)
                    frame = _rows_to_frame(got, df.columns)
                    ok = _frames_equal(frame[list(want.columns)], want, key)
                    if not ok:
                        print(f"api_reads: {kind} {r} mismatch", file=sys.stderr)
                else:
                    print(f"api_reads: {kind} {r} raised", file=sys.stderr)
                    traceback.print_exception(err, file=sys.stderr)
                loop.record((t2 - t0) * 1e3, ok)
                by_kind[kind].append((t2 - t0) * 1e3)
                if ok:
                    rows += len(got)
                    plan_ms.append((t1 - t0) * 1e3)
                    exec_ms.append((t2 - t1) * 1e3)
                if counters and ok:
                    p, x = counters.read(pg), counters.read(eg)
                    plan_jobs.append(p["jobs"])
                    jobs.append(p["jobs"] + x["jobs"])
                    tasks.append(p["tasks"] + x["tasks"])
                    scanned += scan_rows(df)
                    returned += len(got)
                    both = {k: (p[k] + x[k]) for k in p}
                    engine.add(both, counters.persisted_mb())
                release_persisted(spark)

    out = {
        "rows": rows,
        "store_bytes_per_user_byte":
            (live_store_bytes(mstore.path) + live_store_bytes(vstore.path)) / oracle.user_bytes,
        "inputs": {"measurement_rows": oracle.rows, "version_rows": len(oracle.versions),
                   "user_bytes": int(oracle.user_bytes),
                   "kind_p50_ms": {k: round(median(v), 1) for k, v in by_kind.items()}},
        "layers": {},
    }
    if tracer.enabled:
        lay = {
            "setup.materialize_s": materialize_s,
            "setup.warmup_s": warmup_s,
            "api.plan_ms": median(plan_ms),
            "api.plan_jobs_per_op": sum(plan_jobs) / max(len(plan_jobs), 1),
            "api.exec_ms": median(exec_ms),
            "api.jobs_per_op": sum(jobs) / max(len(jobs), 1),
            "api.tasks_per_op": sum(tasks) / max(len(tasks), 1),
            "api.rows_scanned_per_row_returned": scanned / max(returned, 1),
            "store.fragments": len(set(manifest(mstore.path)["buckets"].values())),
            **{f"api.{k}_p50_ms": median(v) for k, v in by_kind.items()},
            **engine.metrics(),
        }
        with loop.off_clock():
            lay.update(operator_probes(spark, store, mstore, tracer))
        out["layers"] = lay
    return out
