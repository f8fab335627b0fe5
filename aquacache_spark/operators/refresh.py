"""End-to-end ``refresh_calculated_daily`` composition.

Reference: ``inst/patches/patch_48.R`` — one PL/pgSQL function that, per
timeseries, (1) reads corrected measurements, (2) rolls them up to local
days by aggregation type, (3) attaches same-DOY historical stats with
the hist-count NULL ladder (patch_48.R:495-540), (4) smooths Feb-29 rows
from their Feb-28/Mar-1 neighbors unless "today" is Feb 29 / Mar 1 /
Mar 2 (the skip guard, patch_48.R:608-612), and (5) trims calculated
rows past the last raw measurement
(``trim_continuous_timeseries_tail``, patch_48.R:113-180).

The individually-tested stages live in ``corrections.py`` / ``daily.py``
/ ``doy.py``; this module adds the reference-exact ladder + smoothing +
trim and wires the single composition, because stage ORDER is where
bugs hide (e.g. trimming before smoothing would starve a trailing
Feb-29 row of its Mar-1 neighbor).

Scale notes: the spine is per-series ``sequence()`` (no shuffle beyond
the per-series bounds agg); ladder and smoothing are projections /
filtered self-joins touching only leap-day rows; the trim is a filter
against a per-series 1-row aggregate (broadcast). The DOY self-join is
the same (keys, doy)-sharded design as ``doy_stats``.

Modeled simplifications (documented, not silent): the 30-year stat
variant is exposed separately (``doy_stats(years_window=...)``) rather
than recomputed here; days whose values were all corrected away are
retained in the dense spine with NULL value (the reference's mcd keeps
rows maintained by the imputation pipeline); the reference's
``v_recalc_feb29`` *range* check is a perf short-circuit — semantics
are unchanged by always running the (leap-rows-only) smoothing join.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .corrections import Correction, apply_corrections
from .daily import daily_rollup, local_day
from .doy import doy_stats

LADDER_AVG_COLS = ("q90", "q75", "q50", "q25", "q10", "mean")

SKIP_FEB29_SMOOTH_DAYS = ("02-29", "03-01", "03-02")


def stats_ladder(df: DataFrame, value_col: str = "value") -> DataFrame:
    """The hist-count NULL ladder (patch_48.R:495-540).

    Input: ``doy_stats`` output (``doy_count`` = strictly-earlier same-
    DOY count). Output replaces the hist columns with the published
    ones: ``max``/``min`` fall back to the day's own value when there is
    no history; quantiles/mean are NULL without history; ``doy_count``
    becomes history + (1 if the day has a value).
    """
    c = F.col("doy_count")
    v = F.col(value_col)
    out = (
        df.withColumn(
            "max",
            F.when((c == 0) & v.isNotNull(), v).when(c > 0, F.col("hist_max")),
        )
        .withColumn(
            "min",
            F.when((c == 0) & v.isNotNull(), v).when(c > 0, F.col("hist_min")),
        )
        .withColumn("mean", F.when(c > 0, F.col("hist_mean")))
    )
    for q in ("q10", "q25", "q50", "q75", "q90"):
        out = out.withColumn(q, F.when(c > 0, F.col(q)))
    out = out.withColumn(
        "doy_count",
        F.when((c == 0) & v.isNotNull(), F.lit(1))
        .when(c > 0, c + F.when(v.isNull(), F.lit(0)).otherwise(F.lit(1)))
        .cast("long"),
    )
    return out.drop("hist_min", "hist_max", "hist_mean")


def feb29_smooth_ref(
    df: DataFrame,
    keys: Sequence[str],
    date_col: str = "date",
    value_col: str = "value",
    *,
    today: str,
) -> DataFrame:
    """Reference-exact Feb-29 smoothing over LADDERED columns
    (patch_48.R:604-686): each leap-day row takes the pairwise average
    of its Feb-28 (``b``) and Mar-1 (``a``) neighbors' published stats
    — including ``percent_historic_range`` itself, NOT a recompute —
    LEAST of the counts, and value fallbacks for max/min/count when
    both neighbors are NULL. Skipped entirely when ``today`` is Feb 29
    / Mar 1 / Mar 2 (the neighbors are still in flux then,
    patch_48.R:608-612).
    """
    if today[5:] in SKIP_FEB29_SMOOTH_DAYS:
        return df
    is_feb29 = (F.month(F.col(date_col)) == 2) & (
        F.dayofmonth(F.col(date_col)) == 29
    )
    smooth_cols = list(LADDER_AVG_COLS) + ["percent_historic_range"]

    def neighbor(offset: int, tag: str) -> DataFrame:
        return df.select(
            *[F.col(k).alias(f"__{tag}_{k}") for k in keys],
            F.date_add(F.col(date_col), offset).alias(f"__{tag}_date"),
            *[
                F.col(c).alias(f"__{tag}_{c}")
                for c in smooth_cols + ["max", "min", "doy_count"]
            ],
        )

    leap = df.where(is_feb29)
    others = df.where(~is_feb29)
    b = neighbor(1, "b")  # Feb 28: its date+1 equals the leap date
    a = neighbor(-1, "a")  # Mar 1: its date-1 equals the leap date
    cond_b = [leap[k] == b[f"__b_{k}"] for k in keys] + [
        leap[date_col] == b["__b_date"]
    ]
    cond_a = [leap[k] == a[f"__a_{k}"] for k in keys] + [
        leap[date_col] == a["__a_date"]
    ]
    j = leap.join(b, cond_b, "left").join(a, cond_a, "left")

    v = F.col(value_col)
    for c in smooth_cols:
        bb, aa = F.col(f"__b_{c}"), F.col(f"__a_{c}")
        j = j.withColumn(
            c, F.when(bb.isNotNull() & aa.isNotNull(), (bb + aa) / 2.0)
        )
    for c in ("max", "min"):
        bb, aa = F.col(f"__b_{c}"), F.col(f"__a_{c}")
        j = j.withColumn(
            c,
            F.when(bb.isNotNull() & aa.isNotNull(), (bb + aa) / 2.0).when(
                bb.isNull() & aa.isNull() & v.isNotNull(), v
            ),
        )
    bb, aa = F.col("__b_doy_count"), F.col("__a_doy_count")
    j = j.withColumn(
        "doy_count",
        F.when(bb.isNotNull() & aa.isNotNull(), F.least(bb, aa))
        .when(bb.isNull() & aa.isNull() & v.isNotNull(), F.lit(1))
        .cast("long"),
    )
    keep = df.columns
    return others.select(*keep).unionByName(j.select(*keep))


def tail_trim(
    daily: DataFrame,
    raw: DataFrame,
    series_col: str,
    dt_col: str = "datetime",
    date_col: str = "date",
    offset_hours: int = 0,
) -> DataFrame:
    """``trim_continuous_timeseries_tail`` (patch_48.R:113-180): drop
    calculated rows dated past the series' last raw measurement's local
    day; a series with no raw data loses all rows (inner join). The
    bound is a per-series 1-row aggregate — broadcast, no big shuffle.
    """
    last = raw.groupBy(F.col(series_col).alias("__t_key")).agg(
        F.max(local_day(F.col(dt_col), offset_hours)).alias("__last_d")
    )
    return (
        daily.join(
            F.broadcast(last), daily[series_col] == last["__t_key"], "inner"
        )
        .where(F.col(date_col) <= F.col("__last_d"))
        .drop("__t_key", "__last_d")
    )


def dense_daily_spine(
    daily: DataFrame, keys: Sequence[str], date_col: str = "date"
) -> DataFrame:
    """Per-series dense date spine from the series' first day to the
    GLOBAL last day (so stale series carry trailing rows — exactly what
    ``tail_trim`` exists to delete). Left-joins the daily values on."""
    bounds = daily.groupBy(*keys).agg(F.min(date_col).alias("__min_d"))
    gmax = daily.select(F.max(date_col).alias("__gmax"))
    spine = (
        bounds.crossJoin(F.broadcast(gmax))
        .select(
            *keys,
            F.explode(F.sequence(F.col("__min_d"), F.col("__gmax"))).alias(
                date_col
            ),
        )
    )
    return spine.join(daily, [*keys, date_col], "left")


def refresh_calculated_daily(
    raw: DataFrame,
    corrections: Iterable[Correction],
    series_col: str,
    dt_col: str = "datetime",
    value_col: str = "value",
    agg_type: str = "mean",
    offset_hours: int = 0,
    *,
    today: str,
) -> DataFrame:
    """The full refresh composition in reference order
    (patch_48.R:215-702): corrected read -> daily rollup -> dense spine
    -> DOY stats -> hist ladder -> Feb-29 smoothing (with skip guard)
    -> tail trim."""
    corrected = apply_corrections(
        raw, corrections, ts_col=series_col, dt_col=dt_col,
        value_col=value_col, out_col="__cv",
    )
    # The composition fans out twice: the spine/DOY stage references
    # the daily rollup three times (bounds, join, self-join), and the
    # Feb-29 smoothing references the laddered stats three times (base
    # + two neighbor legs). Without a materialization barrier each
    # reference re-derives the whole upstream chain — the one-query
    # plan held 44 parquet scans of the fact table. Both intermediates
    # are one-row-per-series-day (catalog × days, tiny next to the
    # facts), so persisting them is the Delta-materialized-view shape
    # the reference gets from its calculated_daily table.
    daily = daily_rollup(
        corrected, [series_col], dt_col=dt_col, value_col="__cv",
        agg_type=agg_type, offset_hours=offset_hours,
    ).persist()
    spine = dense_daily_spine(
        daily.select(series_col, "date", "value"), [series_col]
    )
    stats = doy_stats(spine, keys=[series_col], exact_hist_mean=True)
    laddered = stats_ladder(stats).persist()
    smoothed = feb29_smooth_ref(laddered, keys=[series_col], today=today)
    return tail_trim(
        smoothed, raw, series_col, dt_col=dt_col, offset_hours=offset_hours
    )
