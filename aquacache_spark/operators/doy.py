"""Day-of-year historical statistics.

Reference semantics (inst/patches/patch_48.R:416-494): for each daily
row, statistics over **all strictly earlier days with the same
(normalized) day-of-year**: count, min, max, mean, exact percentiles
q10/q25/q50/q75/q90; a 30-year variant restricts history to
``past.date >= target.date - 30 years``; and

    percent_historic_range = (value - hist_min) /
                             NULLIF(hist_max - hist_min, 0) * 100
    (only when hist_count > 1; patch_48.R:499-511)

DOY normalization (inst/patches/patch_41.R:2471-2492): Feb 29 -> NULL;
in leap years DOY > 60 decremented by 1, aligning calendar days across
years.

Spark-first: a self-join on ``(keys, doy)`` with ``past.date <
target.date`` then exact-percentile aggregation per target row. Group
sizes are bounded by the number of years of history (~n_years per
(series, doy) cell), so the joined set is |daily| x years/366 — linear
in history depth, not quadratic in table size. The join shuffles on
(keys, doy), which at 100 TB is well-distributed (366 x n_series
cells); a hot series is split by AQE skew handling. This mirrors the
reference's hist CTE exactly and keeps percentiles *exact* (sort-based
``percentile``), which the correctness oracle requires.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalized_doy(date_col: Column) -> Column:
    """Feb 29 -> NULL; leap-year DOY>60 shifted down 1 (patch_41.R:2471-2492)."""
    month, day = F.month(date_col), F.dayofmonth(date_col)
    doy = F.dayofyear(date_col)
    y = F.year(date_col)
    leap = (y % 4 == 0) & ((y % 100 != 0) | (y % 400 == 0))
    return (
        F.when((month == 2) & (day == 29), F.lit(None).cast("int"))
        .when(leap & (doy > 60), doy - 1)
        .otherwise(doy)
    )


def doy_stats(
    daily: DataFrame,
    keys: Sequence[str],
    date_col: str = "date",
    value_col: str = "value",
    years_window: int | None = None,
    exact_hist_mean: bool = False,
) -> DataFrame:
    """Attach historical same-DOY stats to each daily row.

    Returns the daily rows plus ``doy, doy_count, hist_min, hist_max,
    hist_mean, q10, q25, q50, q75, q90, percent_historic_range``.
    Rows with NULL normalized DOY (Feb 29) get NULL stats — the
    reference smooths them from neighbors afterwards
    (patch_48.R:604-686), exposed separately as ``feb29_smooth``.
    """
    d = daily.withColumn("doy", normalized_doy(F.col(date_col)))
    hist = d.select(
        *[F.col(k).alias(f"__h_{k}") for k in keys],
        F.col("doy").alias("__h_doy"),
        F.col(date_col).alias("__h_date"),
        F.col(value_col).cast("double").alias("__h_value"),
    )
    cond = [d[k] == hist[f"__h_{k}"] for k in keys]
    cond.append(d["doy"] == hist["__h_doy"])
    joined = d.join(hist, cond, "left")
    past = F.col("__h_date") < F.col(date_col)
    if years_window is not None:
        past = past & (
            F.col("__h_date") >= F.add_months(F.col(date_col), -12 * years_window)
        )
    hv = F.when(past, F.col("__h_value"))

    def pct(p: float, name: str) -> Column:
        return F.expr(f"percentile(__hv__, {p}D)").alias(name)

    joined = joined.withColumn("__hv__", hv)
    # exact_hist_mean: order-independent integer-microunit mean (see
    # daily.exact_mean) — float avg() is summation-order-dependent,
    # which flips round-to-4 boundaries between engines/partitionings
    # once groups grow past a few hundred values.
    if exact_hist_mean:
        from .daily import exact_mean as _exact_mean

        mean_agg = _exact_mean(F.col("__hv__")).alias("hist_mean")
    else:
        mean_agg = F.avg("__hv__").alias("hist_mean")
    out = (
        joined.groupBy(*[d[k] for k in keys], d[date_col], d[value_col], d["doy"])
        .agg(
            F.count("__hv__").alias("doy_count"),
            F.min("__hv__").alias("hist_min"),
            F.max("__hv__").alias("hist_max"),
            mean_agg,
            pct(0.1, "q10"),
            pct(0.25, "q25"),
            pct(0.5, "q50"),
            pct(0.75, "q75"),
            pct(0.9, "q90"),
        )
    )
    phr = F.when(
        (F.col("doy_count") > 1) & F.col("doy").isNotNull(),
        (F.col(value_col) - F.col("hist_min"))
        / F.nullif(F.col("hist_max") - F.col("hist_min"), F.lit(0.0))
        * 100.0,
    )
    return out.withColumn("percent_historic_range", phr)


STAT_COLS = ("hist_min", "hist_max", "hist_mean", "q10", "q25", "q50", "q75", "q90")


def feb29_smooth(
    doy_df: DataFrame,
    keys: Sequence[str],
    date_col: str = "date",
    value_col: str = "value",
    stat_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Fill Feb-29 rows' historical stats from their neighbors.

    Reference (patch_48.R:604-686): the leap-day row takes the average
    of the Feb-28 and Mar-1 stats (both must exist), and the LEAST of
    their counts; ``percent_historic_range`` is recomputed from the
    smoothed min/max. Implemented as two self-joins on date±1 — the
    join touches only leap-day rows (filter first), so at scale this is
    a sliver of the daily table broadcast against itself.
    """
    stat_cols = [c for c in (stat_cols or STAT_COLS) if c in doy_df.columns]
    is_feb29 = (F.month(F.col(date_col)) == 2) & (F.dayofmonth(F.col(date_col)) == 29)
    leap_rows = doy_df.where(is_feb29)
    others = doy_df.where(~is_feb29)

    def neighbor(offset: int, tag: str) -> DataFrame:
        return doy_df.select(
            *[F.col(k).alias(f"__{tag}_{k}") for k in keys],
            F.date_add(F.col(date_col), offset).alias(f"__{tag}_date"),
            *[F.col(c).alias(f"__{tag}_{c}") for c in stat_cols],
            F.col("doy_count").alias(f"__{tag}_count"),
        )
    prev = neighbor(1, "p")   # Feb 28 row: date+1 == Feb 29
    nxt = neighbor(-1, "n")   # Mar 1 row: date-1 == Feb 29

    cond_p = [leap_rows[k] == prev[f"__p_{k}"] for k in keys] + [
        leap_rows[date_col] == prev["__p_date"]
    ]
    cond_n = [leap_rows[k] == nxt[f"__n_{k}"] for k in keys] + [
        leap_rows[date_col] == nxt["__n_date"]
    ]
    j = leap_rows.join(prev, cond_p, "left").join(nxt, cond_n, "left")

    smoothed = j
    for c in stat_cols:
        smoothed = smoothed.withColumn(
            c, (F.col(f"__p_{c}") + F.col(f"__n_{c}")) / 2.0
        )
    smoothed = smoothed.withColumn(
        "doy_count",
        F.least(F.col("__p_count"), F.col("__n_count")),
    )
    if "percent_historic_range" in doy_df.columns:
        smoothed = smoothed.withColumn(
            "percent_historic_range",
            F.when(
                F.col("doy_count") > 1,
                (F.col(value_col) - F.col("hist_min"))
                / F.nullif(F.col("hist_max") - F.col("hist_min"), F.lit(0.0))
                * 100.0,
            ),
        )
    keep = [c for c in doy_df.columns]
    return others.select(*keep).unionByName(smoothed.select(*keep))

