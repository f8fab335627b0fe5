"""Public read API: parameterized DataFrame-returning functions
mirroring the reference's table-valued SQL functions (SURVEY §2.13).

``measurements_continuous_corrected`` is the reference's primary entry
point (inst/patches/patch_53.R:1844-2260). Stages, exactly as the
reference dispatches them:

1. plan dispatch on ``timeseries_type`` + statistic validation
   (:1878-1935);
2. basic series: raw scan fast path when no corrections (:1938-1956),
   else the compiled correction fold (operators/corrections.py —
   covers both the <=64-simple set-based path and the general path,
   since the fold IS set-based here);
3. compound: recursive member resolution with explicit-path cycle
   detection (:845-1296) — priority coalesce or safe-expression
   projection over aligned members. One catalog ``collect()`` per read
   (``_catalog``) types the series and every member ``reach`` finds,
   so planning starts one Spark job however deep the compound nests;
4. optional resampling: dense bin spine + per-bin stats (:2009-2260)
   with ``statistic`` ∈ {actual, min, max, mean, median}.

Everything returns a lazy DataFrame — composition stays in Catalyst,
and the time-window predicate lands on the measurement scan (partition
pruning at 100 TB).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fixtures import FixtureStore
from .operators.compound import (
    Member,
    expression_compound,
    expression_compound_asof,
    priority_coalesce,
    reach,
)
from .operators.corrections import apply_corrections
from .operators.daily import daily_rollup
from .operators.doy import doy_stats
from .operators.resample import resample

VALID_STATISTICS = ("actual", "min", "max", "mean", "median")


class CompoundCycleError(RuntimeError):
    pass


def _window(df: DataFrame, start: Optional[str], end: Optional[str],
            dt_col: str = "datetime") -> DataFrame:
    if start:
        df = df.where(F.col(dt_col) >= F.lit(start).cast("timestamp"))
    if end:
        df = df.where(F.col(dt_col) <= F.lit(end).cast("timestamp"))
    return df


def _closure(store: FixtureStore, timeseries_id: int) -> set:
    """The series and every member its compound definition reaches."""
    adj = {c: [m["timeseries_id"] for m in spec["members"]]
           for c, spec in store.compounds.items()}
    return {timeseries_id} | reach(adj, {timeseries_id})


def _catalog(store: FixtureStore, timeseries_id: int) -> dict:
    """``timeseries_id -> (timeseries_type, aggregation_type)`` for the
    series and every member it reaches: one catalog ``collect()`` per
    read, however deep the compound nests."""
    ids = sorted(_closure(store, timeseries_id))
    rows = store.timeseries.where(F.col("timeseries_id").isin(*ids)).select(
        "timeseries_id", "timeseries_type", "aggregation_type").collect()
    return {r[0]: (r[1], r[2]) for r in rows}


def _resolve_raw(
    store: FixtureStore,
    catalog: dict,
    timeseries_id: int,
    start: Optional[str],
    end: Optional[str],
    path: tuple,
) -> DataFrame:
    """Raw (pre-correction) window for a basic or compound series —
    resolve_compound_timeseries_raw_window (patch_53.R:845-1296)."""
    if timeseries_id in path:
        raise CompoundCycleError(
            f"compound cycle: {' -> '.join(map(str, path + (timeseries_id,)))}"
        )
    if timeseries_id not in catalog:
        raise KeyError(f"unknown timeseries_id {timeseries_id}")
    if catalog[timeseries_id][0] != "compound":
        # carry the measurement period through when the store records it
        # (the daily calc filters period > 1 day, patch_48.R:340)
        extra = (
            ["period_seconds"]
            if "period_seconds" in store.measurements.columns
            else []
        )
        base = store.measurements.where(
            F.col("timeseries_id") == timeseries_id
        ).select("datetime", "value", *extra)
        return _window(base, start, end)

    spec = store.compounds[timeseries_id]
    members = [
        Member(
            m["alias"],
            # members are themselves corrected reads (nested compounds
            # recurse; corrections of the member series apply first —
            # patch_53.R:987-1006)
            _corrected(
                store, catalog, m["timeseries_id"], start, end,
                path + (timeseries_id,),
            ).select("datetime", F.col("corrected_value").alias("value")),
            m["priority"],
            m["use_from"],
            m["use_to"],
            m.get("alignment_tolerance_seconds"),
            m.get("reuse_member_values", False),
        )
        for m in spec["members"]
    ]
    if spec["expression"] is None:
        out = priority_coalesce(members, dt_col="datetime", value_col="value")
        return out.select("datetime", "value")
    # tolerant alignment when any non-anchor member carries an
    # alignment_tolerance (patch_53.R:503-528, :1113-1131); exact
    # equi-join alignment otherwise (:1087-1096)
    if any(m.alignment_tolerance_seconds is not None for m in members[1:]):
        out = expression_compound_asof(
            members, spec["expression"], dt_col="datetime", value_col="value"
        )
    else:
        out = expression_compound(
            members, spec["expression"], dt_col="datetime", value_col="value"
        )
    return out.select("datetime", "value")


def _corrected(
    store: FixtureStore,
    catalog: dict,
    timeseries_id: int,
    start: Optional[str],
    end: Optional[str],
    path: tuple = (),
) -> DataFrame:
    """(datetime, corrected_value) plus ``period_seconds`` when the
    store records it, for the daily read's period filter."""
    raw = _resolve_raw(store, catalog, timeseries_id, start, end, path)
    corrections = [
        c for c in store.corrections if c.timeseries_id == timeseries_id
    ]
    if corrections:  # fast-path dispatch: raw scan when none (patch_53.R:1871-1936)
        raw = raw.withColumn("timeseries_id", F.lit(timeseries_id))
        raw = apply_corrections(raw, corrections, ts_col="timeseries_id",
                                dt_col="datetime", value_col="value",
                                out_col="value").drop("timeseries_id")
    return raw.withColumnRenamed("value", "corrected_value")


def measurements_continuous_corrected(
    store: FixtureStore,
    timeseries_id: int,
    start_datetime: Optional[str] = None,
    end_datetime: Optional[str] = None,
    statistic: str = "actual",
    resample_seconds: Optional[int] = None,
) -> DataFrame:
    """Corrected read window; columns (datetime, corrected_value) for
    statistic='actual', else resampled bins."""
    if statistic not in VALID_STATISTICS:
        raise ValueError(
            f"statistic must be one of {VALID_STATISTICS}, got {statistic!r}"
        )
    if statistic != "actual" and not resample_seconds:
        raise ValueError("non-'actual' statistics require resample_seconds")

    out = _corrected(
        store, _catalog(store, timeseries_id), timeseries_id,
        start_datetime, end_datetime,
    ).select("datetime", "corrected_value")
    if resample_seconds:
        binned = resample(
            out, keys=[], dt_col="datetime", value_col="corrected_value",
            seconds=resample_seconds, dense=True,
        )
        if statistic == "actual":
            return binned
        return binned.select(
            "bin_start", F.col(statistic).alias("corrected_value")
        )
    return out


def measurements_calculated_daily(
    store: FixtureStore,
    timeseries_id: int,
    start_date: Optional[str] = None,
    end_date: Optional[str] = None,
) -> DataFrame:
    """Daily values + DOY historical stats for one series — the
    refresh_calculated_daily read shape (patch_48.R:215-600).

    Mirrors the reference's raw_measurements filters
    (patch_48.R:326-350): measurements with ``period > 1 day`` are
    excluded (when the store carries a period column), and so is any
    point inside a non-zero-width unusable grade-'N' window (inclusive
    BETWEEN, ``g.start_dt <> g.end_dt``)."""
    catalog = _catalog(store, timeseries_id)
    corrected = _corrected(store, catalog, timeseries_id, None, None)
    agg_type = catalog[timeseries_id][1]
    if "period_seconds" in corrected.columns:
        corrected = corrected.where(F.col("period_seconds") <= 86400)
    grades = getattr(store, "grades", None)
    if grades is not None:
        n_windows = grades.where(
            (F.col("timeseries_id") == timeseries_id)
            & (F.col("grade_code") == "N")
            & (F.col("start_dt") != F.col("end_dt"))
        ).select(
            F.col("start_dt").alias("__n_start"),
            F.col("end_dt").alias("__n_end"),
        )
        corrected = corrected.join(
            F.broadcast(n_windows),
            F.col("datetime").between(F.col("__n_start"), F.col("__n_end")),
            "left_anti",
        )
    daily = daily_rollup(
        corrected.withColumn("timeseries_id", F.lit(timeseries_id)),
        keys=["timeseries_id"],
        dt_col="datetime",
        value_col="corrected_value",
        agg_type=agg_type,
    )
    out = doy_stats(daily, keys=["timeseries_id"], date_col="date",
                    value_col="value", exact_hist_mean=True)
    if start_date:
        out = out.where(F.col("date") >= F.lit(start_date).cast("date"))
    if end_date:
        out = out.where(F.col("date") <= F.lit(end_date).cast("date"))
    return out


def measurements_calculated_daily_at(
    store: FixtureStore,
    timeseries_id: int,
    as_of: str,
    start_date: Optional[str] = None,
    end_date: Optional[str] = None,
) -> DataFrame:
    """Point-in-time daily stats (``measurements_calculated_daily_at``,
    inst/patches/patch_50.R:128-420): replay the measurement version
    log to ``as_of`` — latest version committed at or before the
    timestamp wins per (series, datetime), tombstones drop the key —
    then run the IDENTICAL daily pipeline as the live read. The replay
    covers the series and every member series its compound definition
    reaches, so a compound reads its members as of ``as_of`` too. A store
    without recorded history reads as the live table at every
    timestamp (the reference's audit tables start empty). When the
    store's measurements carry ``period_seconds`` the log must record it
    too, so the replay feeds the daily read's period filter; otherwise
    this raises ``ValueError``.

    Scale: the snapshot is one key-partitioned row_number over the log
    (the same key any ingest shuffles on); the version-time filter is a
    pushed-down scan predicate; downstream is the audited live plan.
    """
    import dataclasses

    from pyspark.sql import Window

    versions = store.measurement_versions
    if versions is None:
        return measurements_calculated_daily(
            store, timeseries_id, start_date, end_date
        )
    period = (["period_seconds"]
              if "period_seconds" in store.measurements.columns else [])
    if period and "period_seconds" not in versions.columns:
        raise ValueError(
            "store measurements carry period_seconds but "
            "measurement_versions does not record it"
        )
    # a compound reads its members, so replay every series it reaches
    in_closure = F.col("timeseries_id").isin(
        *sorted(_closure(store, timeseries_id)))
    vis = versions.where(
        in_closure & (F.col("modified_at") <= F.lit(as_of).cast("timestamp"))
    )
    w = Window.partitionBy("timeseries_id", "datetime").orderBy(
        F.desc("modified_at"), F.desc("version_id")
    )
    snap = (
        vis.withColumn("__rn", F.row_number().over(w))
        .where((F.col("__rn") == 1) & ~F.col("deleted"))
        .select(
            "timeseries_id", "datetime", "value", "imputed",
            F.lit(False).alias("no_update"), *period,
        )
    )
    others = store.measurements.where(~in_closure)
    at_store = dataclasses.replace(
        store, measurements=snap.unionByName(others)
    )
    return measurements_calculated_daily(
        at_store, timeseries_id, start_date, end_date
    )
