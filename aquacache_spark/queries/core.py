"""Core relational/timeseries tier: TPC-H-ish scans, the reference's QC/corrections/daily/DOY/audit/sync ladder, imputation, stores, sketches, text metrics.

Split out of the original flat queries.py (r9); section order preserved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.corrections import Correction, apply_corrections
from ..operators.daily import daily_rollup
from ..operators.doy import doy_stats
from ..session import local_df as _ldf
from ._common import (
    DSUM, R, _exact_mean_of, _exact_sum_col, _refresh_tail_sql, _round, _t,
    register,
)


# ---------------------------------------------------------------------------
# §2.3 + §2.5: scan -> filter -> project -> grouped aggregation (TPC-H Q1
# shape). Reference analog: time-window filter + grouped daily statistics
# (inst/patches/patch_53.R:1732-1736; patch_48.R:326-390).
# ---------------------------------------------------------------------------

@register(
    "pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {R(DSUM('l_quantity'), 2)}                                   AS sum_qty,
           {R(DSUM('l_extendedprice'), 2)}                              AS sum_base_price,
           {R(DSUM('l_extendedprice * (1 - l_discount)'), 2)}           AS sum_disc_price,
           {R(DSUM('l_quantity') + ' / count(*)', 4)}                   AS avg_qty,
           {R(DSUM('l_extendedprice') + ' / count(*)', 4)}              AS avg_price,
           {R(DSUM('l_discount') + ' / count(*)', 4)}                   AS avg_disc,
           count(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.daily import exact_sum as dsum

    li = _t(spark, sf_dir, "lineitem")

    n = F.count(F.lit(1))
    out = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "sum_disc_price"
            ),
            (dsum(F.col("l_quantity")) / n).alias("avg_qty"),
            (dsum(F.col("l_extendedprice")) / n).alias("avg_price"),
            (dsum(F.col("l_discount")) / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )
    return _round(
        out,
        {"sum_qty": 2, "sum_base_price": 2, "sum_disc_price": 2,
         "avg_qty": 4, "avg_price": 4, "avg_disc": 4},
    )


# ---------------------------------------------------------------------------
# §2.5 daily rollup with aggregation-type dispatch (patch_48.R:326-390)
# ---------------------------------------------------------------------------

_DAILY_ROLLUP_ORACLE = f"""
    SELECT event_type,
           CAST(ts AS DATE)                          AS date,
           {R(DSUM('value') + ' / count(value)', 4)} AS value,
           {R('min(value)', 4)}                      AS min,
           {R('max(value)', 4)}                      AS max,
           {R(DSUM('value') + ' / count(value)', 4)} AS mean,
           count(value)                              AS count
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
    HAVING count(value) > 0
"""


@register("daily_rollup", oracle=_DAILY_ROLLUP_ORACLE)
def daily_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = daily_rollup(
        ev, keys=["event_type"], dt_col="ts", value_col="value", agg_type="mean"
    )
    return _round(out, {"value": 4, "min": 4, "max": 4, "mean": 4})


# Named-timezone daily bucketing with real DST arithmetic
# (patch_48.R timezone_daily_calc generalized beyond integer offsets):
# events are spread across the year so both America/Vancouver
# transitions (spring-forward/fall-back) land inside the data, and the
# local-day bucket must agree with DuckDB's ICU zone rules.
_TZ_DAILY_ORACLE = f"""
    WITH ev AS (
      SELECT event_type,
             CAST(ts AS TIMESTAMP)
               + to_days(CAST(event_id % 300 AS INT)) AS dt,
             value
      FROM events
    ), local AS (
      SELECT event_type,
             timezone('America/Vancouver', timezone('UTC', dt)) AS ldt,
             value
      FROM ev
    )
    SELECT event_type,
           CAST(ldt AS DATE)                         AS date,
           {R(DSUM('value') + ' / count(value)', 4)} AS value,
           {R('min(value)', 4)}                      AS min,
           {R('max(value)', 4)}                      AS max,
           {R(DSUM('value') + ' / count(value)', 4)} AS mean,
           count(value)                              AS count
    FROM local
    GROUP BY event_type, CAST(ldt AS DATE)
    HAVING count(value) > 0
"""


@register("tz_daily_rollup_dst", oracle=_TZ_DAILY_ORACLE)
def tz_daily_rollup_dst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """daily_rollup(tz='America/Vancouver'): named-zone local days via
    the JVM tz database (from_utc_timestamp), exercised across both
    DST transitions."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.timestamp_add(
            "DAY", (F.col("event_id") % 300).cast("int"), F.col("ts")
        ).alias("dt"),
        "value",
    )
    out = daily_rollup(
        ev, keys=["event_type"], dt_col="dt", value_col="value",
        agg_type="mean", tz="America/Vancouver",
    )
    return _round(out, {"value": 4, "min": 4, "max": 4, "mean": 4})


_DAILY_MEDIAN_ORACLE = f"""
    SELECT event_type,
           CAST(ts AS DATE)                          AS date,
           {R('quantile_cont(value, 0.5)', 4)}       AS value,
           {R('min(value)', 4)}                      AS min,
           {R('max(value)', 4)}                      AS max,
           {R(DSUM('value') + ' / count(value)', 4)} AS mean,
           count(value)                              AS count
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
    HAVING count(value) > 0
"""


@register("daily_rollup_median", oracle=_DAILY_MEDIAN_ORACLE)
def daily_rollup_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = daily_rollup(
        ev, keys=["event_type"], dt_col="ts", value_col="value", agg_type="median"
    )
    return _round(out, {"value": 4, "min": 4, "max": 4, "mean": 4})


# ---------------------------------------------------------------------------
# §2.11 corrections chain: ordered per-row transform fold
# (inst/patches/patch_55.R:345-455; fast-path patch_53.R:1871-1936)
# ---------------------------------------------------------------------------

EVENT_CORRECTIONS = [
    Correction(1, "error", "2024-01-01 00:00:00", "2024-02-01 00:00:00", "trim",
               value1=5.0, value2=45.0),
    Correction(2, "click", "2024-01-05 00:00:00", "2024-01-10 00:00:00",
               "offset_linear", value1=0.25),
    Correction(3, "view", "2024-01-03 00:00:00", "2024-01-08 00:00:00",
               "offset_two_point", value1=1.0, value2=3.0),
    Correction(4, "purchase", "2024-01-10 00:00:00", "2024-01-20 00:00:00",
               "scale", value1=110.0),
    Correction(5, "signup", "2024-01-02 00:00:00", "2024-01-12 00:00:00",
               "drift_linear", value1=2.5, timestep_window_seconds=86400.0),
    Correction(6, "view", "2024-01-15 00:00:00", "2024-01-20 00:00:00",
               "drift_equation",
               equation="value * 1.01 + ln(1 + elapsed_seconds / 86400.0)"),
    Correction(7, "click", "2024-01-05 00:00:00", "2024-01-10 00:00:00",
               "scale", value1=95.0),
]

_CORRECTIONS_ORACLE = f"""
    WITH c1 AS (  -- trim [5,45] on error (priority 2)
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
             CASE WHEN event_type = 'error'
                       AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
                       AND (value < 5.0 OR value > 45.0)
                  THEN NULL ELSE value END AS v
      FROM events
    ), c2 AS (   -- offset +0.25 on click (priority 3)
      SELECT event_id, ts, user_id, event_type,
             CASE WHEN event_type = 'click' AND v IS NOT NULL
                       AND ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-10'
                  THEN v + 0.25 ELSE v END AS v
      FROM c1
    ), c3 AS (   -- two-point offset 1->3 on view (priority 4)
      SELECT event_id, ts, user_id, event_type,
             CASE WHEN event_type = 'view' AND v IS NOT NULL
                       AND ts >= TIMESTAMP '2024-01-03' AND ts < TIMESTAMP '2024-01-08'
                  THEN v + 1.0 + (3.0 - 1.0)
                       * date_diff('second', TIMESTAMP '2024-01-03', ts)
                       / date_diff('second', TIMESTAMP '2024-01-03', TIMESTAMP '2024-01-08')
                  ELSE v END AS v
      FROM c2
    ), c4 AS (   -- scale 110% on purchase (priority 5)
      SELECT event_id, ts, user_id, event_type,
             CASE WHEN event_type = 'purchase' AND v IS NOT NULL
                       AND ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
                  THEN v * 110.0 / 100.0 ELSE v END AS v
      FROM c3
    ), c5 AS (   -- drift +2.5/day on signup (priority 6)
      SELECT event_id, ts, user_id, event_type,
             CASE WHEN event_type = 'signup' AND v IS NOT NULL
                       AND ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-12'
                  THEN v + 2.5 / 86400.0
                       * date_diff('second', TIMESTAMP '2024-01-02', ts)
                  ELSE v END AS v
      FROM c4
    ), c7 AS (   -- scale 95% on click (same window as c2; ordered by id)
      SELECT event_id, ts, user_id, event_type,
             CASE WHEN event_type = 'click' AND v IS NOT NULL
                       AND ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-10'
                  THEN v * 95.0 / 100.0 ELSE v END AS v
      FROM c5
    ), c6 AS (   -- drift equation on view (priority 7: runs after scale)
      SELECT event_id, ts, user_id, event_type,
             CASE WHEN event_type = 'view' AND v IS NOT NULL
                       AND ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-20'
                  THEN v * 1.01
                       + ln(1 + date_diff('second', TIMESTAMP '2024-01-15', ts) / 86400.0)
                  ELSE v END AS v
      FROM c7
    )
    SELECT event_id, event_type, ts, {R('v', 4)} AS corrected_value
    FROM c6
"""


@register("corrections_chain", oracle=_CORRECTIONS_ORACLE)
def corrections_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = apply_corrections(
        ev,
        EVENT_CORRECTIONS,
        ts_col="event_type",
        dt_col="ts",
        value_col="value",
        out_col="corrected_value",
    )
    return _round(
        out.select("event_id", "event_type", "ts", "corrected_value"),
        {"corrected_value": 4},
    )


# ---------------------------------------------------------------------------
# §2.5 DOY historical stats + percent_historic_range
# (inst/patches/patch_48.R:416-511), DOY normalization patch_41.R:2471-2492
# ---------------------------------------------------------------------------

_DOY_ORACLE = f"""
    WITH daily AS (
      SELECT o_orderpriority AS priority,
             CAST(o_orderdate AS DATE) AS date,
             sum(CAST(floor(o_totalprice * 1000000 + 0.5) AS BIGINT))
               / 1000000.0 AS value
      FROM orders
      GROUP BY 1, 2
    ), dd AS (
      SELECT *,
             CAST(CASE
               WHEN month(date) = 2 AND day(date) = 29 THEN NULL
               WHEN (year(date) % 4 = 0 AND (year(date) % 100 <> 0 OR year(date) % 400 = 0))
                    AND dayofyear(date) > 60 THEN dayofyear(date) - 1
               ELSE dayofyear(date) END AS INTEGER) AS doy
      FROM daily
    ), joined AS (
      SELECT t.priority, t.date, t.value, t.doy,
             count(h.value)                          AS doy_count,
             min(h.value)                            AS hist_min,
             max(h.value)                            AS hist_max,
             sum(CAST(floor(h.value * 1000000 + 0.5) AS BIGINT))
               / 1000000.0 / count(h.value) AS hist_mean,
             quantile_cont(h.value, 0.10)            AS q10,
             quantile_cont(h.value, 0.25)            AS q25,
             quantile_cont(h.value, 0.50)            AS q50,
             quantile_cont(h.value, 0.75)            AS q75,
             quantile_cont(h.value, 0.90)            AS q90
      FROM dd t
      LEFT JOIN dd h
        ON t.priority = h.priority AND t.doy = h.doy AND h.date < t.date
      GROUP BY t.priority, t.date, t.value, t.doy
    )
    SELECT priority, date, {R('value', 4)} AS value, doy, doy_count,
           {R('hist_min', 4)} AS hist_min, {R('hist_max', 4)} AS hist_max,
           {R('hist_mean', 4)} AS hist_mean,
           {R('q10', 4)} AS q10, {R('q25', 4)} AS q25, {R('q50', 4)} AS q50,
           {R('q75', 4)} AS q75, {R('q90', 4)} AS q90,
           {R('CASE WHEN doy_count > 1 AND doy IS NOT NULL '
              'THEN (value - hist_min) / nullif(hist_max - hist_min, 0) * 100.0 END', 4)}
               AS percent_historic_range
    FROM joined
"""


@register("doy_historic_stats", oracle=_DOY_ORACLE)
def doy_historic_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.to_date("o_orderdate").alias("date"),
        )
        .agg(_exact_sum_col("o_totalprice").alias("value"))
    )
    out = doy_stats(daily, keys=["priority"], date_col="date",
                    value_col="value", exact_hist_mean=True)
    return _round(
        out,
        {"value": 4, "hist_min": 4, "hist_max": 4, "hist_mean": 4,
         "q10": 4, "q25": 4, "q50": 4, "q75": 4, "q90": 4,
         "percent_historic_range": 4},
    )


# ---------------------------------------------------------------------------
# §2.5 DOY 30-year-window variant (patch_48.R:463-494; 3-year window
# here so the 6.5-year orders span actually truncates history)
# ---------------------------------------------------------------------------

_DOY_30YR_ORACLE = f"""
    WITH daily AS (
      SELECT o_orderpriority AS priority,
             CAST(o_orderdate AS DATE) AS date,
             sum(CAST(floor(o_totalprice * 1000000 + 0.5) AS BIGINT))
               / 1000000.0 AS value
      FROM orders
      GROUP BY 1, 2
    ), dd AS (
      SELECT *,
             CAST(CASE
               WHEN month(date) = 2 AND day(date) = 29 THEN NULL
               WHEN (year(date) % 4 = 0 AND (year(date) % 100 <> 0 OR year(date) % 400 = 0))
                    AND dayofyear(date) > 60 THEN dayofyear(date) - 1
               ELSE dayofyear(date) END AS INTEGER) AS doy
      FROM daily
    ), joined AS (
      SELECT t.priority, t.date, t.value, t.doy,
             count(h.value)               AS doy_count,
             min(h.value)                 AS hist_min,
             max(h.value)                 AS hist_max,
             sum(CAST(floor(h.value * 1000000 + 0.5) AS BIGINT))
               / 1000000.0 / count(h.value) AS hist_mean,
             quantile_cont(h.value, 0.50) AS q50
      FROM dd t
      LEFT JOIN dd h
        ON t.priority = h.priority AND t.doy = h.doy AND h.date < t.date
       AND h.date >= t.date - INTERVAL 36 MONTH
      GROUP BY t.priority, t.date, t.value, t.doy
    )
    SELECT priority, date, {R('value', 4)} AS value, doy, doy_count,
           {R('hist_min', 4)} AS hist_min, {R('hist_max', 4)} AS hist_max,
           {R('hist_mean', 4)} AS hist_mean, {R('q50', 4)} AS q50
    FROM joined
"""


@register("doy_stats_30yr_window", oracle=_DOY_30YR_ORACLE)
def doy_stats_30yr_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.to_date("o_orderdate").alias("date"),
        )
        .agg(_exact_sum_col("o_totalprice").alias("value"))
    )
    out = doy_stats(daily, keys=["priority"], date_col="date",
                    value_col="value", years_window=3,
                    exact_hist_mean=True)
    out = out.select("priority", "date", "value", "doy", "doy_count",
                     "hist_min", "hist_max", "hist_mean", "q50")
    return _round(out, {"value": 4, "hist_min": 4, "hist_max": 4,
                        "hist_mean": 4, "q50": 4})


# ---------------------------------------------------------------------------
# §2.5 Feb-29 smoothing (patch_48.R:604-686): leap-day stats from the
# average of Feb-28/Mar-1 neighbors, LEAST of counts
# ---------------------------------------------------------------------------

_FEB29_ORACLE = f"""
    WITH daily AS (
      SELECT o_orderpriority AS priority,
             CAST(o_orderdate AS DATE) AS date,
             sum(CAST(floor(o_totalprice * 1000000 + 0.5) AS BIGINT))
               / 1000000.0 AS value
      FROM orders
      GROUP BY 1, 2
    ), dd AS (
      SELECT *,
             CAST(CASE
               WHEN month(date) = 2 AND day(date) = 29 THEN NULL
               WHEN (year(date) % 4 = 0 AND (year(date) % 100 <> 0 OR year(date) % 400 = 0))
                    AND dayofyear(date) > 60 THEN dayofyear(date) - 1
               ELSE dayofyear(date) END AS INTEGER) AS doy
      FROM daily
    ), joined AS (
      SELECT t.priority, t.date, t.value, t.doy,
             count(h.value)               AS doy_count,
             min(h.value)                 AS hist_min,
             max(h.value)                 AS hist_max,
             sum(CAST(floor(h.value * 1000000 + 0.5) AS BIGINT))
               / 1000000.0 / count(h.value) AS hist_mean,
             quantile_cont(h.value, 0.50) AS q50
      FROM dd t
      LEFT JOIN dd h
        ON t.priority = h.priority AND t.doy = h.doy AND h.date < t.date
      GROUP BY t.priority, t.date, t.value, t.doy
    ), final AS (
      SELECT * FROM joined WHERE NOT (month(date) = 2 AND day(date) = 29)
      UNION ALL
      SELECT l.priority, l.date, l.value, l.doy,
             least(p.doy_count, n.doy_count) AS doy_count,
             (p.hist_min + n.hist_min) / 2.0 AS hist_min,
             (p.hist_max + n.hist_max) / 2.0 AS hist_max,
             (p.hist_mean + n.hist_mean) / 2.0 AS hist_mean,
             (p.q50 + n.q50) / 2.0 AS q50
      FROM joined l
      LEFT JOIN joined p ON p.priority = l.priority AND p.date = l.date - 1
      LEFT JOIN joined n ON n.priority = l.priority AND n.date = l.date + 1
      WHERE month(l.date) = 2 AND day(l.date) = 29
    )
    SELECT priority, date, {R('value', 4)} AS value, doy, doy_count,
           {R('hist_min', 4)} AS hist_min, {R('hist_max', 4)} AS hist_max,
           {R('hist_mean', 4)} AS hist_mean, {R('q50', 4)} AS q50
    FROM final
"""


@register("doy_feb29_smoothed", oracle=_FEB29_ORACLE)
def doy_feb29_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.doy import feb29_smooth

    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.to_date("o_orderdate").alias("date"),
        )
        .agg(_exact_sum_col("o_totalprice").alias("value"))
    )
    stats = doy_stats(daily, keys=["priority"], date_col="date",
                      value_col="value", exact_hist_mean=True)
    stats = stats.select("priority", "date", "value", "doy", "doy_count",
                         "hist_min", "hist_max", "hist_mean", "q50")
    # feb29_smooth joins stats against itself twice (Feb-28 / Mar-1
    # neighbors); a barrier stops each leg re-deriving the DOY chain
    stats = stats.persist()
    out = feb29_smooth(stats, keys=["priority"])
    return _round(out, {"value": 4, "hist_min": 4, "hist_max": 4,
                        "hist_mean": 4, "q50": 4})


# ---------------------------------------------------------------------------
# §2.6 run-length segmentation (R/adjust_functions.R:585-595)
# ---------------------------------------------------------------------------

_RLE_ORACLE = """
    WITH flagged AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
             CASE WHEN event_type IS DISTINCT FROM
                       lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  THEN 1 ELSE 0 END AS chg
      FROM events
    ), runs AS (
      SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS seg
      FROM flagged
    )
    SELECT user_id, event_type, min(ts) AS start, max(ts) AS "end",
           count(*) AS n
    FROM runs GROUP BY user_id, event_type, seg
"""


@register("rle_segments", oracle=_RLE_ORACLE)
def rle_segments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.segments import rle_segments

    ev = _t(spark, sf_dir, "events")
    return rle_segments(
        ev, keys=["user_id"], order_col=["ts", "event_id"], value_col="event_type"
    )


# ---------------------------------------------------------------------------
# §2.6 forward/backward fill (R/calculate_period.R:132-135)
# ---------------------------------------------------------------------------

_FFILL_ORACLE = """
    WITH masked AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      FROM events
    )
    SELECT event_id, user_id, ts,
           coalesce(
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING),
             first_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           ) AS filled_value
    FROM masked
"""


@register("ffill_bfill", oracle=_FFILL_ORACLE)
def ffill_bfill_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.gaps import ffill_bfill

    ev = _t(spark, sf_dir, "events")
    masked = ev.select(
        "event_id", "user_id", "ts",
        F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
            F.col("value")
        ).alias("v"),
    )
    out = ffill_bfill(masked, keys=["user_id"], order_col=["ts", "event_id"],
                      value_col="v", out_col="filled_value")
    return out.select("event_id", "user_id", "ts", "filled_value")


# ---------------------------------------------------------------------------
# §2.4 multi-dim broadcast join chain (code-table lookups,
# R/getNewContinuous.R:131; patch_48.R:243-246)
# ---------------------------------------------------------------------------

_REGION_REVENUE_ORACLE = f"""
    SELECT r_name,
           {R(DSUM('o_totalprice'), 2)} AS revenue,
           count(*)                     AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE c_acctbal > 0
    GROUP BY r_name
"""


@register("region_revenue", oracle=_REGION_REVENUE_ORACLE)
def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer").where(F.col("c_acctbal") > 0)
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    from ..operators.daily import exact_sum

    out = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            exact_sum(F.col("o_totalprice")).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    return _round(out, {"revenue": 2})


# ---------------------------------------------------------------------------
# §2.4 anti join (NOT EXISTS guards, patch_48.R:256-263) — customers with
# no orders in a window
# ---------------------------------------------------------------------------

_ANTI_ORACLE = """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
    )
"""


@register("customers_without_recent_orders", oracle=_ANTI_ORACLE)
def customers_without_recent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# §2.4 compound timeseries: priority fallback (patch_53.R:899-948) and
# expression compound (patch_53.R:1273-1294) over hourly member series
# ---------------------------------------------------------------------------

_HOURLY_MEMBER = (
    "SELECT TIMESTAMP '1970-01-01' + CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) "
    "* 3600 AS BIGINT) * INTERVAL 1 SECOND AS datetime, "
    + "sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) / 1000000.0"
    " / count(value) AS value "
    "FROM events WHERE event_type = '{etype}' GROUP BY 1"
)

_PRIORITY_COALESCE_ORACLE = f"""
    WITH purchase AS ({_HOURLY_MEMBER.format(etype="purchase")}),
    click AS ({_HOURLY_MEMBER.format(etype="click")}),
    view_m AS ({_HOURLY_MEMBER.format(etype="view")}),
    u AS (
      SELECT datetime, value, 1 AS prio, 'primary' AS alias FROM purchase
      UNION ALL
      SELECT datetime, value, 2 AS prio, 'backup' AS alias FROM click
        WHERE datetime >= TIMESTAMP '2024-01-15 00:00:00'
      UNION ALL
      SELECT datetime, value, 3 AS prio, 'tertiary' AS alias FROM view_m
    )
    SELECT datetime, {R('value', 4)} AS value, alias AS source_alias
    FROM (
      SELECT *, row_number() OVER (PARTITION BY datetime ORDER BY prio, alias) AS rn
      FROM u WHERE value IS NOT NULL
    ) WHERE rn = 1
"""


def _hourly_member(spark: SparkSession, sf_dir: str, etype: str) -> DataFrame:
    from ..operators.resample import resample

    ev = _t(spark, sf_dir, "events").where(F.col("event_type") == etype)
    return resample(ev, keys=[], dt_col="ts", value_col="value",
                    seconds=3600, dense=False).select(
        F.col("bin_start").alias("datetime"), F.col("mean").alias("value")
    )


@register("compound_priority_coalesce", oracle=_PRIORITY_COALESCE_ORACLE)
def compound_priority_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.compound import Member, priority_coalesce

    out = priority_coalesce(
        [
            Member("primary", _hourly_member(spark, sf_dir, "purchase"), 1),
            Member("backup", _hourly_member(spark, sf_dir, "click"), 2,
                   use_from="2024-01-15 00:00:00"),
            Member("tertiary", _hourly_member(spark, sf_dir, "view"), 3),
        ],
        dt_col="datetime",
        value_col="value",
    )
    return _round(out, {"value": 4})


_EXPR_COMPOUND_ORACLE = f"""
    WITH temp_m AS ({_HOURLY_MEMBER.format(etype="view")}),
    cond_m AS ({_HOURLY_MEMBER.format(etype="click")})
    SELECT t.datetime,
           {R('c.value / (1 + 0.0191 * (t.value - 25))', 4)} AS value,
           {R('t.value', 4)} AS temp, {R('c.value', 4)} AS cond
    FROM temp_m t JOIN cond_m c ON t.datetime = c.datetime
"""


@register("compound_expression", oracle=_EXPR_COMPOUND_ORACLE)
def compound_expression(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.compound import Member, expression_compound

    out = expression_compound(
        [
            Member("temp", _hourly_member(spark, sf_dir, "view"), 1),
            Member("cond", _hourly_member(spark, sf_dir, "click"), 1),
        ],
        expression="cond / (1 + 0.0191 * (temp - 25))",
        dt_col="datetime",
        value_col="value",
    )
    return _round(out, {"value": 4, "temp": 4, "cond": 4})


# ---------------------------------------------------------------------------
# §2.12 sync reconciliation: full-outer null-safe diff + MERGE actions
# (R/synchronize_continuous.R:566-742)
# ---------------------------------------------------------------------------

_RECONCILE_ORACLE = """
    WITH local AS (
      SELECT event_id, value,
             (event_id % 11 = 0) AS no_update
      FROM events
    ), remote AS (
      SELECT event_id,
             CASE WHEN event_id % 5 = 0 THEN value * 1.01 ELSE value END AS value
      FROM events WHERE event_id % 7 <> 0
      UNION ALL
      SELECT event_id + 10000000 AS event_id, value
      FROM events WHERE event_id % 13 = 0
    )
    SELECT coalesce(l.event_id, r.event_id) AS event_id,
           CASE
             WHEN l.no_update THEN 'unchanged'
             WHEN l.event_id IS NULL THEN 'insert'
             WHEN r.event_id IS NULL THEN 'delete'
             WHEN l.value IS NOT DISTINCT FROM r.value THEN 'unchanged'
             ELSE 'update'
           END AS action,
           l.value AS local_value, r.value AS remote_value
    FROM local l FULL OUTER JOIN remote r ON l.event_id = r.event_id
"""


@register("sync_reconcile", oracle=_RECONCILE_ORACLE)
def sync_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sync import reconcile

    ev = _t(spark, sf_dir, "events")
    local = ev.select(
        "event_id", "value", (F.col("event_id") % 11 == 0).alias("no_update")
    )
    remote = ev.where(F.col("event_id") % 7 != 0).select(
        "event_id",
        F.when(F.col("event_id") % 5 == 0, F.col("value") * 1.01)
        .otherwise(F.col("value"))
        .alias("value"),
    ).unionByName(
        ev.where(F.col("event_id") % 13 == 0).select(
            (F.col("event_id") + 10000000).alias("event_id"), "value"
        )
    )
    out = reconcile(local, remote, keys=["event_id"], compare_cols=["value"],
                    no_update_col="no_update")
    return out.select("event_id", "action", "local_value", "remote_value")


_CUTOFF_ORACLE = """
    WITH l AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
    ), r AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN ts >= TIMESTAMP '2024-01-20 00:00:00'
                  THEN value + 0.5 ELSE value END AS value
      FROM events
    ), d AS (
      (SELECT * FROM l EXCEPT ALL SELECT * FROM r)
      UNION ALL
      (SELECT * FROM r EXCEPT ALL SELECT * FROM l)
    )
    SELECT user_id, min(ts) AS cutoff FROM d GROUP BY user_id
"""


@register("divergence_cutoff", oracle=_CUTOFF_ORACLE)
def divergence_cutoff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sync import divergence_cutoff

    ev = _t(spark, sf_dir, "events")
    local = ev.select("user_id", "ts", "value")
    remote = ev.select(
        "user_id", "ts",
        F.when(
            F.col("ts") >= F.lit("2024-01-20 00:00:00").cast("timestamp"),
            F.col("value") + 0.5,
        ).otherwise(F.col("value")).alias("value"),
    )
    return divergence_cutoff(local, remote, keys=["user_id"], dt_col="ts",
                             value_col="value")


# ---------------------------------------------------------------------------
# §2.6 lag diff + rolling median (calculate_period core,
# R/calculate_period.R:82-83)
# ---------------------------------------------------------------------------

_LAG_DIFF_ORACLE = f"""
    WITH g AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             (epoch_us(CAST(ts AS TIMESTAMP))
              - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w)) / 1000000.0 AS gap_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id, ts, {R('gap_s', 6)} AS gap_s,
           {R('quantile_cont(gap_s, 0.5) OVER (PARTITION BY user_id ORDER BY ts, event_id '
              'ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)', 6)} AS smoothed_gap_s
    FROM g
"""


@register("lag_diff_period", oracle=_LAG_DIFF_ORACLE)
def lag_diff_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "event_id", "user_id", "ts",
        ((F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))) / 1e6).alias("gap_s"),
    )
    out = g.withColumn(
        "smoothed_gap_s",
        F.expr("percentile(gap_s, 0.5D)").over(w.rowsBetween(-1, 1)),
    )
    return _round(out, {"gap_s": 6, "smoothed_gap_s": 6})


# ---------------------------------------------------------------------------
# §2.4 recursive dependency closure (WITH RECURSIVE
# downstream_timeseries_ids, patch_41.R:2516-2538) — driver-loop fixpoint
# ---------------------------------------------------------------------------

_CLOSURE_EDGES = [(1, 6), (2, 6), (2, 10), (9, 10), (10, 20), (20, 30), (7, 8)]

_CLOSURE_ORACLE = f"""
    WITH RECURSIVE edges(src, dst) AS (
      SELECT * FROM (VALUES {", ".join(f"({a}, {b})" for a, b in _CLOSURE_EDGES)})
    ), closure(id) AS (
      SELECT unnest([2, 9])
      UNION
      SELECT e.dst FROM closure c JOIN edges e ON c.id = e.src
    )
    SELECT CAST(id AS BIGINT) AS id FROM closure
"""


@register("recursive_downstream_closure", oracle=_CLOSURE_ORACLE)
def recursive_downstream_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.incremental import downstream_closure

    members = _ldf(spark, 
        [(b, a) for a, b in _CLOSURE_EDGES],
        ["timeseries_id", "member_timeseries_id"],
    )
    seeds = _ldf(spark, [(2,), (9,)], ["id"])
    return downstream_closure(members, seeds).select(F.col("id").cast("long"))


# ---------------------------------------------------------------------------
# §2.6 gap expansion: dense cadence inside observed range
# (R/compute_increments.R:33-67)
# ---------------------------------------------------------------------------

_GAP_ORACLE = """
    WITH pts AS (
      SELECT event_type,
             TIMESTAMP '1970-01-01'
               + CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) * 3600 AS BIGINT)
                 * INTERVAL 1 SECOND AS t
      FROM events WHERE event_type IN ('signup', 'error')
    ), dedup AS (SELECT DISTINCT event_type, t FROM pts),
    nxt AS (
      SELECT event_type, t,
             lead(t) OVER (PARTITION BY event_type ORDER BY t) AS t2
      FROM dedup
    ), ticks AS (
      SELECT DISTINCT event_type,
             unnest(generate_series(t, t2, INTERVAL 3600 SECOND)) AS t
      FROM nxt WHERE t2 IS NOT NULL
    )
    SELECT k.event_type, k.t AS ts,
           CASE WHEN d.t IS NOT NULL THEN 1 ELSE 0 END AS observed
    FROM ticks k LEFT JOIN dedup d
      ON k.event_type = d.event_type AND k.t = d.t
"""


@register("gap_expansion", oracle=_GAP_ORACLE)
def gap_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.gaps import expand_gaps

    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("signup", "error")
    )
    # hour-floor the irregular events to a cadence grid first
    pts = ev.select(
        "event_type",
        F.timestamp_seconds(
            F.floor(F.unix_timestamp("ts") / 3600) * 3600
        ).alias("ts"),
    ).distinct().withColumn("observed", F.lit(1))
    out = expand_gaps(pts, keys=["event_type"], dt_col="ts", period_seconds=3600)
    return out.select(
        "event_type", "ts", F.coalesce("observed", F.lit(0)).alias("observed")
    )


# ---------------------------------------------------------------------------
# §2.3 grade-based exclusion: interval-table range anti-join
# (patch_48.R:280-290,343-350) — segments marking unusable windows
# ---------------------------------------------------------------------------

_GRADE_EXCL_ORACLE = """
    WITH grades AS (
      SELECT * FROM (VALUES
        ('click',  TIMESTAMP '2024-01-05', TIMESTAMP '2024-01-08'),
        ('error',  TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-31'),
        ('view',   TIMESTAMP '2024-01-10', TIMESTAMP '2024-01-12')
      ) AS g(event_type, start_dt, end_dt)
    )
    SELECT e.event_id, e.event_type, CAST(e.ts AS TIMESTAMP) AS ts, e.value
    FROM events e
    WHERE NOT EXISTS (
      SELECT 1 FROM grades g
      WHERE g.event_type = e.event_type
        AND CAST(e.ts AS TIMESTAMP) >= g.start_dt
        AND CAST(e.ts AS TIMESTAMP) <  g.end_dt
    )
"""

_GRADE_SEGMENTS = [
    ("click", "2024-01-05 00:00:00", "2024-01-08 00:00:00"),
    ("error", "2024-01-01 00:00:00", "2024-01-31 00:00:00"),
    ("view", "2024-01-10 00:00:00", "2024-01-12 00:00:00"),
]


@register("grade_exclusion_antijoin", oracle=_GRADE_EXCL_ORACLE)
def grade_exclusion_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    grades = _ldf(spark, 
        _GRADE_SEGMENTS, ["event_type", "start_dt", "end_dt"]
    ).select(
        "event_type",
        F.col("start_dt").cast("timestamp").alias("start_dt"),
        F.col("end_dt").cast("timestamp").alias("end_dt"),
    )
    cond = (
        (ev["event_type"] == grades["event_type"])
        & (ev["ts"] >= grades["start_dt"])
        & (ev["ts"] < grades["end_dt"])
    )
    # QC tables are tiny: broadcast range anti-join (SURVEY §2.4)
    return ev.join(F.broadcast(grades), cond, "left_anti").select(
        "event_id", "event_type", "ts", "value"
    )


# ---------------------------------------------------------------------------
# §2.9 JSON args parsing (source_fx_args jsonb, R/getNewContinuous.R:481-484)
# ---------------------------------------------------------------------------

_JSON_ORACLE = f"""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           count(*) OVER (PARTITION BY CAST(json_extract_string(props, '$.k') AS BIGINT))
               AS k_freq
    FROM events
"""


@register("json_extract_args", oracle=_JSON_ORACLE)
def json_extract_args(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select("event_id", k.alias("k")).withColumn(
        "k_freq", F.count(F.lit(1)).over(Window.partitionBy("k"))
    )


# ---------------------------------------------------------------------------
# §2.12 audit as-of reconstruction: latest version per key at a past
# timestamp (patch_55.R:2336-2420 *_as_of functions)
# ---------------------------------------------------------------------------

_ASOF_AUDIT_ORACLE = """
    WITH versions AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS modified_at, event_id, value
      FROM events
    ), visible AS (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY modified_at DESC, event_id DESC) AS rn
      FROM versions
      WHERE modified_at <= TIMESTAMP '2024-01-15 00:00:00'
    )
    SELECT user_id, event_id AS version_event_id, modified_at, value
    FROM visible WHERE rn = 1
"""


@register("audit_as_of", oracle=_ASOF_AUDIT_ORACLE)
def audit_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    versions = ev.select(
        "user_id", F.col("ts").alias("modified_at"), "event_id", "value"
    ).where(F.col("modified_at") <= F.lit("2024-01-15 00:00:00").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(
        F.desc("modified_at"), F.desc("event_id")
    )
    return (
        versions.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_id").alias("version_event_id"),
                "modified_at", "value")
    )


# ---------------------------------------------------------------------------
# §2.12 audit as-of for interval QC tables
# (audit.continuous_qc_rows_as_of, inst/patches/patch_55.R:2336-2520):
# current grades/approvals FULL OUTER first-post-as_of-log-change, the
# log's original_data wins, row_created cutoff, zero-width-interval
# window rule. Modeled: current intervals + audit log derived from
# orders; updates (original wins), a second later change that must NOT
# win, deletes (resurrected from the log), and post-as_of creations
# (dropped by the row_created filter).
# ---------------------------------------------------------------------------

_QC_ASOF_SQL = """
    cur AS (
      SELECT o_orderkey AS row_id,
             o_custkey % 10 AS timeseries_id,
             o_orderkey % 4 AS type_id,
             CAST(o_orderdate AS TIMESTAMP) AS start_dt,
             CASE WHEN o_orderkey % 17 = 0 THEN CAST(o_orderdate AS TIMESTAMP)
                  ELSE CAST(o_orderdate AS TIMESTAMP)
                       + (o_orderkey % 30 + 1) * INTERVAL 1 DAY END AS end_dt,
             CAST(o_orderdate AS TIMESTAMP) AS row_created
      FROM orders WHERE o_orderkey % 3 = 0
    ), upd1 AS (  -- first post-as_of update: original_data = as-of state
      SELECT o_orderkey * 10 + 1 AS log_id,
             TIMESTAMP '1997-06-01' + (o_orderkey % 50) * INTERVAL 1 DAY
               AS action_timestamp,
             o_orderkey AS orig_row_id,
             o_custkey % 10 AS orig_timeseries_id,
             (o_orderkey + 1) % 4 AS orig_type_id,
             CAST(o_orderdate AS TIMESTAMP) - INTERVAL 3 DAY AS orig_start_dt,
             CASE WHEN o_orderkey % 17 = 0
                  THEN CAST(o_orderdate AS TIMESTAMP) - INTERVAL 3 DAY
                  ELSE CAST(o_orderdate AS TIMESTAMP) - INTERVAL 3 DAY
                       + (o_orderkey % 30 + 1) * INTERVAL 1 DAY END
               AS orig_end_dt,
             CAST(NULL AS BIGINT) AS new_row_id,
             CAST(o_orderdate AS TIMESTAMP) - INTERVAL 3 DAY AS row_created
      FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 5 IN (1, 2)
    ), upd2 AS (  -- later second change: must NOT win over upd1
      SELECT o_orderkey * 10 + 2 AS log_id,
             TIMESTAMP '1998-01-01' + (o_orderkey % 50) * INTERVAL 1 DAY
               AS action_timestamp,
             o_orderkey AS orig_row_id,
             o_custkey % 10 AS orig_timeseries_id,
             99 AS orig_type_id,
             CAST(o_orderdate AS TIMESTAMP) AS orig_start_dt,
             CAST(o_orderdate AS TIMESTAMP) AS orig_end_dt,
             CAST(NULL AS BIGINT) AS new_row_id,
             CAST(o_orderdate AS TIMESTAMP) AS row_created
      FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 10 = 1
    ), del AS (  -- deleted after as_of: only the log remembers them
      SELECT o_orderkey * 10 + 3 AS log_id,
             TIMESTAMP '1997-09-01' AS action_timestamp,
             o_orderkey AS orig_row_id,
             o_custkey % 10 AS orig_timeseries_id,
             o_orderkey % 4 AS orig_type_id,
             CAST(o_orderdate AS TIMESTAMP) AS orig_start_dt,
             CAST(o_orderdate AS TIMESTAMP)
               + (o_orderkey % 30 + 1) * INTERVAL 1 DAY AS orig_end_dt,
             CAST(NULL AS BIGINT) AS new_row_id,
             CAST(o_orderdate AS TIMESTAMP) AS row_created
      FROM orders WHERE o_orderkey % 3 = 1 AND o_orderkey % 7 = 2
    ), lg AS (
      SELECT * FROM upd1 UNION ALL SELECT * FROM upd2
      UNION ALL SELECT * FROM del
    )
"""

_QC_ASOF_ORACLE = "WITH " + _QC_ASOF_SQL + """
    , fut AS (
      SELECT * FROM (
        SELECT COALESCE(orig_row_id, new_row_id) AS key,
               orig_timeseries_id, orig_type_id, orig_start_dt,
               orig_end_dt, row_created,
               row_number() OVER (
                 PARTITION BY COALESCE(orig_row_id, new_row_id)
                 ORDER BY action_timestamp, log_id) AS rn
        FROM lg WHERE action_timestamp > TIMESTAMP '1997-01-01'
      ) WHERE rn = 1
    ), snap AS (
      SELECT COALESCE(f.key, c.row_id) AS row_id,
             CASE WHEN f.key IS NOT NULL THEN f.orig_timeseries_id
                  ELSE c.timeseries_id END AS timeseries_id,
             CASE WHEN f.key IS NOT NULL THEN f.orig_type_id
                  ELSE c.type_id END AS type_id,
             CASE WHEN f.key IS NOT NULL THEN f.orig_start_dt
                  ELSE c.start_dt END AS start_dt,
             CASE WHEN f.key IS NOT NULL THEN f.orig_end_dt
                  ELSE c.end_dt END AS end_dt,
             CASE WHEN f.key IS NOT NULL THEN f.row_created
                  ELSE c.row_created END AS row_created
      FROM cur c FULL OUTER JOIN fut f ON f.key = c.row_id
    )
    SELECT 'grade' AS qc_type, row_id, timeseries_id, type_id,
           start_dt, end_dt
    FROM snap
    WHERE row_created <= TIMESTAMP '1997-01-01'
      AND (end_dt > TIMESTAMP '1996-06-01'
           OR (start_dt = end_dt AND start_dt >= TIMESTAMP '1996-06-01'))
      AND start_dt < TIMESTAMP '1998-06-01'
"""


@register("qc_intervals_as_of", oracle=_QC_ASOF_ORACLE)
def qc_intervals_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval QC audit as-of (patch_55.R:2336-2520): grades table
    reconstructed at 1997-01-01 from the current state + audit log —
    first-change-wins, delete resurrection, row_created cutoff, and the
    zero-width-interval window rule."""
    from ..operators.audit import qc_rows_as_of

    o = _t(spark, sf_dir, "orders")
    start = F.col("o_orderdate").cast("timestamp")
    ndays = (F.col("o_orderkey") % 30 + 1).cast("int")
    end = F.when(F.col("o_orderkey") % 17 == 0, start).otherwise(
        F.timestamp_add("DAY", ndays, start)
    )
    cur = o.where(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("row_id"),
        (F.col("o_custkey") % 10).alias("timeseries_id"),
        (F.col("o_orderkey") % 4).alias("type_id"),
        start.alias("start_dt"),
        end.alias("end_dt"),
        start.alias("row_created"),
    )
    shifted = F.timestamp_add("DAY", F.lit(-3), start)
    act1 = F.timestamp_add(
        "DAY", (F.col("o_orderkey") % 50).cast("int"),
        F.lit("1997-06-01 00:00:00").cast("timestamp"),
    )
    upd1 = o.where(
        (F.col("o_orderkey") % 3 == 0) & (F.col("o_orderkey") % 5).isin(1, 2)
    ).select(
        (F.col("o_orderkey") * 10 + 1).alias("log_id"),
        act1.alias("action_timestamp"),
        F.col("o_orderkey").alias("orig_row_id"),
        (F.col("o_custkey") % 10).alias("orig_timeseries_id"),
        ((F.col("o_orderkey") + 1) % 4).alias("orig_type_id"),
        shifted.alias("orig_start_dt"),
        F.when(F.col("o_orderkey") % 17 == 0, shifted)
        .otherwise(F.timestamp_add("DAY", ndays, shifted))
        .alias("orig_end_dt"),
        F.lit(None).cast("long").alias("new_row_id"),
        shifted.alias("row_created"),
    )
    act2 = F.timestamp_add(
        "DAY", (F.col("o_orderkey") % 50).cast("int"),
        F.lit("1998-01-01 00:00:00").cast("timestamp"),
    )
    upd2 = o.where(
        (F.col("o_orderkey") % 3 == 0) & (F.col("o_orderkey") % 10 == 1)
    ).select(
        (F.col("o_orderkey") * 10 + 2).alias("log_id"),
        act2.alias("action_timestamp"),
        F.col("o_orderkey").alias("orig_row_id"),
        (F.col("o_custkey") % 10).alias("orig_timeseries_id"),
        F.lit(99).cast("long").alias("orig_type_id"),
        start.alias("orig_start_dt"),
        start.alias("orig_end_dt"),
        F.lit(None).cast("long").alias("new_row_id"),
        start.alias("row_created"),
    )
    dele = o.where(
        (F.col("o_orderkey") % 3 == 1) & (F.col("o_orderkey") % 7 == 2)
    ).select(
        (F.col("o_orderkey") * 10 + 3).alias("log_id"),
        F.lit("1997-09-01 00:00:00").cast("timestamp")
        .alias("action_timestamp"),
        F.col("o_orderkey").alias("orig_row_id"),
        (F.col("o_custkey") % 10).alias("orig_timeseries_id"),
        (F.col("o_orderkey") % 4).alias("orig_type_id"),
        start.alias("orig_start_dt"),
        F.timestamp_add("DAY", ndays, start).alias("orig_end_dt"),
        F.lit(None).cast("long").alias("new_row_id"),
        start.alias("row_created"),
    )
    log = upd1.unionByName(upd2).unionByName(dele)
    out = qc_rows_as_of(
        cur, log, as_of="1997-01-01 00:00:00",
        window_start="1996-06-01 00:00:00",
        window_end="1998-06-01 00:00:00",
    )
    return out.select(
        F.lit("grade").alias("qc_type"), "row_id", "timeseries_id",
        "type_id", "start_dt", "end_dt",
    )


# ---------------------------------------------------------------------------
# §2.14 imputation: linear interpolation across masked gaps
# (R/imputeMissing.R:1123-1128, stats::approx analog)
# ---------------------------------------------------------------------------

_INTERP_ORACLE = f"""
    WITH masked AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN event_id % 10 = 3 THEN NULL ELSE value END AS v
      FROM events
    ), ctx AS (
      SELECT *,
             last_value(v IGNORE NULLS) OVER w_prev AS prev_v,
             first_value(v IGNORE NULLS) OVER w_next AS next_v,
             last_value(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS)
                 OVER w_prev AS prev_t,
             first_value(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS)
                 OVER w_next AS next_t
      FROM masked
      WINDOW
        w_prev AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        w_next AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id, user_id, ts,
           {R('''CASE
             WHEN v IS NOT NULL THEN v
             WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
               prev_v + (next_v - prev_v)
                 * (epoch_us(ts) - epoch_us(prev_t))
                 / (epoch_us(next_t) - epoch_us(prev_t))
             ELSE coalesce(prev_v, next_v)
           END''', 6)} AS imputed_value,
           (v IS NULL) AS imputed
    FROM ctx
"""


@register("linear_interpolation", oracle=_INTERP_ORACLE)
def linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    masked = ev.select(
        "event_id", "user_id", "ts",
        F.when(F.col("event_id") % 10 == 3, F.lit(None)).otherwise(
            F.col("value")
        ).alias("v"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_prev = w.rowsBetween(Window.unboundedPreceding, -1)
    w_next = w.rowsBetween(1, Window.unboundedFollowing)
    vt = F.when(F.col("v").isNotNull(), F.col("ts"))
    ctx = (
        masked.withColumn("prev_v", F.last("v", ignorenulls=True).over(w_prev))
        .withColumn("next_v", F.first("v", ignorenulls=True).over(w_next))
        .withColumn("prev_t", F.last(vt, ignorenulls=True).over(w_prev))
        .withColumn("next_t", F.first(vt, ignorenulls=True).over(w_next))
    )
    frac = (
        (F.unix_micros("ts") - F.unix_micros("prev_t")).cast("double")
        / (F.unix_micros("next_t") - F.unix_micros("prev_t")).cast("double")
    )
    imputed_value = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("prev_v").isNotNull() & F.col("next_v").isNotNull(),
            F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * frac,
        )
        .otherwise(F.coalesce("prev_v", "next_v"))
    )
    out = ctx.select(
        "event_id", "user_id", "ts",
        imputed_value.alias("imputed_value"),
        F.col("v").isNull().alias("imputed"),
    )
    return _round(out, {"imputed_value": 6})


# ---------------------------------------------------------------------------
# §2.3 row-level security: share_with array visibility filter
# (R/create_test_DB.R:741; R/dbAppendTableRLS.R:3)
# ---------------------------------------------------------------------------

_RLS_ORACLE = """
    WITH tagged AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 3 = 0 THEN ['public_reader']
                  WHEN doc_id % 3 = 1 THEN ['admin']
                  ELSE ['admin', 'public_reader'] END AS share_with
      FROM documents
    )
    SELECT doc_id, source
    FROM tagged
    WHERE list_contains(share_with, 'public_reader')
"""


@register("rls_share_with_filter", oracle=_RLS_ORACLE)
def rls_share_with_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    share = (
        F.when(F.col("doc_id") % 3 == 0, F.array(F.lit("public_reader")))
        .when(F.col("doc_id") % 3 == 1, F.array(F.lit("admin")))
        .otherwise(F.array(F.lit("admin"), F.lit("public_reader")))
    )
    return (
        docs.withColumn("share_with", share)
        .where(F.array_contains("share_with", "public_reader"))
        .select("doc_id", "source")
    )


# ---------------------------------------------------------------------------
# §2.12 incremental daily refresh: changed-range recompute + change-only
# merge classification (patch_41.R:2998-3060; patch_48.R:401-408)
# ---------------------------------------------------------------------------

_INCR_ORACLE = f"""
    WITH fresh AS (
      SELECT event_type, CAST(ts AS DATE) AS date,
             {R(DSUM('value') + ' / count(value)', 4)} AS value,
             count(value) AS count
      FROM events
      WHERE event_type IN ('click', 'error')
        AND CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-15'
      GROUP BY 1, 2
      HAVING count(value) > 0
    ), existing AS (
      -- stale store: click rows doubled (stale), error rows missing
      SELECT event_type, CAST(ts AS DATE) AS date,
             {R(DSUM('value') + ' * 2 / count(value)', 4)} AS value
      FROM events
      WHERE event_type = 'click'
      GROUP BY 1, 2
    )
    SELECT f.event_type, f.date, f.value, f.count,
           CASE WHEN e.value IS NULL AND f.value IS NOT NULL THEN 'insert'
                WHEN f.value IS NOT DISTINCT FROM e.value THEN 'unchanged'
                ELSE 'update' END AS merge_action
    FROM fresh f LEFT JOIN existing e
      ON f.event_type = e.event_type AND f.date = e.date
"""


@register("incremental_daily_refresh", oracle=_INCR_ORACLE)
def incremental_daily_refresh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.daily import daily_rollup
    from ..streaming.incremental import incremental_daily_refresh

    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("timeseries_id"),
        F.col("ts").alias("datetime"),
        "value",
    )
    from ..operators.daily import exact_sum

    existing = (
        ev.where(F.col("timeseries_id") == "click")
        .groupBy("timeseries_id", F.to_date("datetime").alias("date"))
        .agg((exact_sum(F.col("value")) * 2 / F.count("value")).alias("value"))
    )
    existing = _round(existing, {"value": 4})
    changes = _ldf(spark, 
        [("click", "2024-01-10 00:00:00", "2024-01-15 23:59:59"),
         ("error", "2024-01-10 00:00:00", "2024-01-15 23:59:59")],
        ["timeseries_id", "min_dt", "max_dt"],
    )

    def rollup(df):
        rolled = daily_rollup(df, keys=["timeseries_id"], dt_col="datetime",
                              value_col="value", agg_type="mean")
        return _round(rolled, {"value": 4}).select(
            "timeseries_id", "date", "value", "count"
        )

    out = incremental_daily_refresh(ev, changes, existing, rollup)
    return out.select(
        F.col("timeseries_id").alias("event_type"), "date", "value", "count",
        "merge_action",
    )


# ---------------------------------------------------------------------------
# §2.9 ISO-8601 period serialization (R/calculate_period.R:109-129)
# ---------------------------------------------------------------------------

_ISO_ORACLE = """
    WITH g AS (
      SELECT event_type,
             (epoch_us(CAST(ts AS TIMESTAMP))
              - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER
                  (PARTITION BY event_type ORDER BY ts, event_id))) / 1000000.0 AS gap_s
      FROM events
    ), m AS (
      SELECT event_type,
             CAST(floor(quantile_cont(gap_s, 0.5)) AS BIGINT) AS s
      FROM g WHERE gap_s IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, s AS median_gap_seconds,
           'P' || (s // 86400) || 'DT' || ((s % 86400) // 3600) || 'H'
               || ((s % 3600) // 60) || 'M' || (s % 60) || 'S' AS period_iso
    FROM m
"""


@register("iso_period_format", oracle=_ISO_ORACLE)
def iso_period_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from ..operators.period import iso8601_period

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    g = ev.select(
        "event_type",
        ((F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))) / 1e6).alias(
            "gap_s"
        ),
    ).where(F.col("gap_s").isNotNull())
    m = g.groupBy("event_type").agg(
        F.floor(F.expr("percentile(gap_s, 0.5D)")).cast("long").alias(
            "median_gap_seconds"
        )
    )
    return m.withColumn(
        "period_iso", iso8601_period(F.col("median_gap_seconds"))
    )


# ---------------------------------------------------------------------------
# §2.6 interval segment overlay: boundary split + new-wins resolution +
# adjacent-equal merge (R/adjust_functions.R:18-250)
# ---------------------------------------------------------------------------

_EXISTING_SEGS = [
    ("click", "2024-01-01 00:00:00", "2024-01-10 00:00:00", "A"),
    ("click", "2024-01-10 00:00:00", "2024-01-20 00:00:00", "B"),
    ("view", "2024-01-01 00:00:00", "2024-01-31 00:00:00", "A"),
    ("error", "2024-01-05 00:00:00", "2024-01-15 00:00:00", "N"),
]
_NEW_SEGS = [
    ("click", "2024-01-05 00:00:00", "2024-01-12 00:00:00", "C"),
    ("click", "2024-01-12 00:00:00", "2024-01-15 00:00:00", "B"),
    ("view", "2024-01-08 00:00:00", "2024-01-09 00:00:00", "A"),
    ("error", "2024-01-20 00:00:00", "2024-01-25 00:00:00", "B"),
]


def _segs_values(rows) -> str:
    return ", ".join(
        f"('{k}', TIMESTAMP '{s}', TIMESTAMP '{e}', '{v}')" for k, s, e, v in rows
    )


_SEGMENT_OVERLAY_ORACLE = f"""
    WITH existing(key, start_dt, end_dt, v) AS (
      VALUES {_segs_values(_EXISTING_SEGS)}
    ), new_segs(key, start_dt, end_dt, v) AS (
      VALUES {_segs_values(_NEW_SEGS)}
    ), allseg AS (
      SELECT key, start_dt, end_dt, v, 0 AS src FROM existing
      UNION ALL
      SELECT key, start_dt, end_dt, v, 1 AS src FROM new_segs
    ), bounds AS (
      SELECT DISTINCT key, b FROM (
        SELECT key, start_dt AS b FROM allseg
        UNION ALL SELECT key, end_dt FROM allseg
      )
    ), elems AS (
      SELECT key, b AS es, lead(b) OVER (PARTITION BY key ORDER BY b) AS ee
      FROM bounds
    ), covered AS (
      SELECT e.key, e.es, e.ee, a.v, a.src,
             row_number() OVER (PARTITION BY e.key, e.es, e.ee ORDER BY a.src DESC)
                 AS pick
      FROM elems e JOIN allseg a
        ON e.key = a.key AND a.start_dt <= e.es AND a.end_dt >= e.ee
      WHERE e.ee IS NOT NULL
    ), resolved AS (
      SELECT key, es, ee, v FROM covered WHERE pick = 1
    ), runs AS (
      SELECT *, CASE WHEN v IS NOT DISTINCT FROM lag(v) OVER w
                      AND lag(ee) OVER w = es THEN 0 ELSE 1 END AS new_run
      FROM resolved
      WINDOW w AS (PARTITION BY key ORDER BY es)
    ), numbered AS (
      SELECT *, sum(new_run) OVER (PARTITION BY key ORDER BY es
                                   ROWS UNBOUNDED PRECEDING) AS run
      FROM runs
    )
    SELECT key AS event_type, min(es) AS start_dt, max(ee) AS end_dt,
           min(v) AS value
    FROM numbered GROUP BY key, run
"""


@register("segment_overlay", oracle=_SEGMENT_OVERLAY_ORACLE)
def segment_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.segments import split_segments

    def seg_df(rows):
        return _ldf(spark, 
            rows, ["event_type", "start_dt", "end_dt", "value"]
        ).select(
            "event_type",
            F.col("start_dt").cast("timestamp").alias("start_dt"),
            F.col("end_dt").cast("timestamp").alias("end_dt"),
            "value",
        )

    out = split_segments(
        seg_df(_EXISTING_SEGS), seg_df(_NEW_SEGS), keys=["event_type"]
    )
    return out.select("event_type", "start_dt", "end_dt", "value")


# ---------------------------------------------------------------------------
# §2.14 imputeMissing donor scoring: avg offset + sd per candidate
# (R/imputeMissing.R:883-887) over hourly-aligned series pairs
# ---------------------------------------------------------------------------

_DONOR_ORACLE = f"""
    WITH hourly AS (
      SELECT event_type,
             TIMESTAMP '1970-01-01'
               + CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) * 3600 AS BIGINT)
                 * INTERVAL 1 SECOND AS h,
             sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) / 1000000.0
               / count(value) AS v
      FROM events GROUP BY 1, 2
    )
    SELECT t.event_type AS target, d.event_type AS donor,
           count(*) AS n_overlap,
           {R('sum(CAST(floor((d.v - t.v) * 1000000 + 0.5) AS BIGINT))'
              ' / 1000000.0 / count(*)', 4)} AS avg_offset,
           {R('stddev_samp(d.v - t.v)', 4)} AS sd_offset
    FROM hourly t JOIN hourly d
      ON t.h = d.h AND t.event_type <> d.event_type
    GROUP BY 1, 2
"""


@register("donor_offset_scoring", oracle=_DONOR_ORACLE)
def donor_offset_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.daily import exact_mean

    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type",
            F.timestamp_seconds(
                F.floor(F.unix_timestamp("ts") / 3600) * 3600
            ).alias("h"),
        )
        .agg(exact_mean(F.col("value")).alias("v"))
    )
    t = hourly.select(F.col("event_type").alias("target"), "h",
                      F.col("v").alias("tv"))
    d = hourly.select(F.col("event_type").alias("donor"), "h",
                      F.col("v").alias("dv"))
    out = (
        t.join(d, "h")
        .where(F.col("target") != F.col("donor"))
        .groupBy("target", "donor")
        .agg(
            F.count(F.lit(1)).alias("n_overlap"),
            _exact_mean_of(F.col("dv") - F.col("tv")).alias("avg_offset"),
            F.stddev_samp(F.col("dv") - F.col("tv")).alias("sd_offset"),
        )
    )
    return _round(out, {"avg_offset": 4, "sd_offset": 4})


# ---------------------------------------------------------------------------
# §2.14 imputeMissing donor fill, end to end (R/imputeMissing.R:1106-1107
# with min_gap/max_gap bounds :16-17): dense hourly grid for the target
# series, gaps of 2..24 missing points filled from the donor minus the
# mean donor-minus-target offset (:1106-1107 subtracts).
# ---------------------------------------------------------------------------

_FILL_ORACLE = f"""
    WITH pairs(tgt, d_et) AS (VALUES ('error', 'click'), ('signup', 'view')),
    bins AS (
      SELECT event_type AS et,
             TIMESTAMP '1970-01-01'
               + CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) * 3600 AS BIGINT)
                 * INTERVAL 1 SECOND AS h,
             sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) / 1000000.0
               / count(value) AS v
      FROM events
      WHERE event_type IN ('error', 'click', 'signup', 'view')
      GROUP BY 1, 2
    ),
    t AS (SELECT p.tgt, b.h, b.v AS tv FROM pairs p JOIN bins b ON b.et = p.tgt),
    d AS (SELECT p.tgt, b.h, b.v AS dv FROM pairs p JOIN bins b ON b.et = p.d_et),
    off AS (
      SELECT t.tgt,
             sum(CAST(floor((d.dv - t.tv) * 1000000 + 0.5) AS BIGINT))
               / 1000000.0 / count(*) AS avg_offset
      FROM t JOIN d ON d.tgt = t.tgt AND d.h = t.h GROUP BY 1
    ),
    bounds AS (SELECT tgt, min(h) AS lo, max(h) AS hi FROM t GROUP BY 1),
    spine AS (
      SELECT tgt, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
      FROM bounds
    ),
    g AS (
      SELECT s.tgt, s.h, t.tv, d.dv
      FROM spine s
      LEFT JOIN t ON t.tgt = s.tgt AND t.h = s.h
      LEFT JOIN d ON d.tgt = s.tgt AND d.h = s.h
    ),
    g2 AS (
      SELECT *, sum(CASE WHEN tv IS NOT NULL THEN 1 ELSE 0 END)
                  OVER (PARTITION BY tgt ORDER BY h) AS gap_id
      FROM g
    ),
    g3 AS (
      SELECT *, sum(CASE WHEN tv IS NULL THEN 1 ELSE 0 END)
                  OVER (PARTITION BY tgt, gap_id) AS gap_len,
                (tv IS NULL AND dv IS NOT NULL
                 AND gap_len BETWEEN 2 AND 24) AS fillable
      FROM g2
    )
    SELECT g3.tgt AS target,
           h AS bin_start,
           {R('CASE WHEN tv IS NOT NULL THEN tv '
              'WHEN fillable THEN dv - off.avg_offset END', 4)}
             AS value,
           coalesce(tv IS NULL AND fillable, FALSE) AS imputed
    FROM g3 JOIN off ON off.tgt = g3.tgt
"""


@register("impute_donor_fill", oracle=_FILL_ORACLE)
def impute_donor_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-target donor fill (imputeMissing.R:1106-1107): two target
    series filled in ONE pass, every window partitioned by target — the
    per-catalog scale shape (round-1 ran one global ordered window).
    Offsets are donor-minus-target and are SUBTRACTED from the donor.
    """
    from pyspark.sql import Window
    from ..operators.daily import exact_mean

    ev = _t(spark, sf_dir, "events")
    pairs = F.broadcast(_ldf(ev.sparkSession, 
        [("error", "click"), ("signup", "view")], ["tgt", "d_et"]
    ))
    # target/donor legs, offsets and the spine all branch from the
    # hourly bins — materialize them once instead of re-aggregating
    # the fact table per branch
    bins = (
        ev.where(F.col("event_type").isin("error", "click", "signup", "view"))
        .groupBy(
            F.col("event_type").alias("et"),
            F.timestamp_seconds(
                F.floor(F.unix_timestamp("ts") / 3600) * 3600
            ).alias("h"),
        )
        .agg(exact_mean(F.col("value")).alias("v"))
        .persist()
    )
    t = bins.join(pairs, bins["et"] == pairs["tgt"]).select(
        "tgt", "h", F.col("v").alias("tv")
    )
    d = bins.join(pairs, bins["et"] == pairs["d_et"]).select(
        "tgt", "h", F.col("v").alias("dv")
    )
    off = (
        t.join(d, ["tgt", "h"])
        .groupBy("tgt")
        .agg(_exact_mean_of(F.col("dv") - F.col("tv")).alias("avg_offset"))
    )
    spine = (
        t.groupBy("tgt")
        .agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select("tgt", F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"))
    )
    g = (
        spine.join(t, ["tgt", "h"], "left").join(d, ["tgt", "h"], "left")
        .join(F.broadcast(off), "tgt")
    )
    w = Window.partitionBy("tgt").orderBy("h")
    g = g.withColumn(
        "gap_id", F.sum(F.when(F.col("tv").isNotNull(), 1).otherwise(0)).over(w)
    )
    g = g.withColumn(
        "gap_len",
        F.sum(F.when(F.col("tv").isNull(), 1).otherwise(0)).over(
            Window.partitionBy("tgt", "gap_id")
        ),
    )
    fillable = (
        F.col("tv").isNull() & F.col("dv").isNotNull()
        & F.col("gap_len").between(2, 24)
    )
    out = g.select(
        F.col("tgt").alias("target"),
        F.col("h").alias("bin_start"),
        F.when(F.col("tv").isNotNull(), F.col("tv"))
        .when(fillable, F.col("dv") - F.col("avg_offset"))
        .alias("value"),
        (F.col("tv").isNull() & fillable).alias("imputed"),
    )
    return _round(out, {"value": 4})


# ---------------------------------------------------------------------------
# §2.1/§2.12 synchronize_discrete (R/synchronize_discrete.R): import-
# source-scoped sample gap deletes + null-safe-key result
# reconciliation, as set-based action classifications.
# ---------------------------------------------------------------------------

_DISCRETE_SAMPLES_SQL = """
    base0 AS (
      SELECT user_id % 16 AS series,
             date_trunc('second', CAST(ts AS TIMESTAMP)) AS datetime,
             event_id,
             row_number() OVER (
               PARTITION BY user_id % 16,
                            date_trunc('second', CAST(ts AS TIMESTAMP))
               ORDER BY event_id) AS rn
      FROM events WHERE event_type = 'click'
    ), base AS (
      SELECT series, datetime, event_id FROM base0 WHERE rn = 1
    ), locl AS (
      SELECT series, datetime,
             CASE WHEN event_id % 4 = 0 THEN 'other' ELSE 'srcA' END
               AS import_source,
             (event_id % 7 = 0) AS no_update
      FROM base WHERE event_id % 11 <> 3
    ), rem AS (
      SELECT series, datetime FROM base WHERE event_id % 5 NOT IN (0, 1)
    )
"""

_DISCRETE_SAMPLE_ACTIONS_ORACLE = "WITH " + _DISCRETE_SAMPLES_SQL + """
    , nrem AS (
      SELECT series, count(*) AS n_remote FROM rem GROUP BY 1
    ), univ AS (
      SELECT series, datetime, 0 AS is_r FROM locl
      UNION ALL
      SELECT series, datetime, 1 AS is_r FROM rem
    ), marked AS (
      SELECT series, datetime, is_r, epoch(datetime) AS sec,
        max(CASE WHEN is_r = 1 THEN epoch(datetime) END) OVER (
          PARTITION BY series ORDER BY epoch(datetime)
          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_r,
        min(CASE WHEN is_r = 1 THEN epoch(datetime) END) OVER (
          PARTITION BY series ORDER BY epoch(datetime)
          RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_r
      FROM univ
    ), loc AS (
      SELECT m.series, m.datetime, l.import_source, l.no_update,
             m.sec, m.prev_r, m.next_r, COALESCE(n.n_remote, 0) AS n_remote
      FROM marked m
      JOIN locl l USING (series, datetime)
      LEFT JOIN nrem n USING (series)
      WHERE m.is_r = 0
    )
    SELECT series, datetime, import_source, no_update,
      CASE WHEN prev_r = sec OR next_r = sec THEN 'matched'
           WHEN import_source = 'srcA' AND NOT no_update AND (
                (prev_r IS NULL AND next_r IS NOT NULL
                 AND sec > epoch(TIMESTAMP '2024-01-02') AND sec < next_r)
             OR (prev_r IS NOT NULL AND next_r IS NOT NULL
                 AND sec >= prev_r + 1 AND sec <= next_r - 1)
             OR (prev_r IS NOT NULL AND next_r IS NULL AND n_remote >= 2
                 AND sec > prev_r AND sec < epoch(TIMESTAMP '2024-01-28'))
           ) THEN 'delete'
           ELSE 'keep' END AS action
    FROM loc
    UNION ALL BY NAME
    SELECT r.series, r.datetime, 'srcA' AS import_source,
           FALSE AS no_update, 'insert' AS action
    FROM rem r
    WHERE NOT EXISTS (
      SELECT 1 FROM locl l
      WHERE l.series = r.series AND l.datetime = r.datetime
    )
"""


@register("discrete_sample_sync", oracle=_DISCRETE_SAMPLE_ACTIONS_ORACLE)
def discrete_sample_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """synchronize_discrete sample-level actions
    (R/synchronize_discrete.R:280-388): remote datetimes partition the
    window into gaps; local samples in a gap are deleted only when
    import_source matches and no_update is false, with the reference's
    asymmetric boundary rules (strict head/tail, ±1s middle margins,
    tail needs >= 2 remote samples). Remote-only datetimes classify as
    inserts carrying import_source = source_fx (:902)."""
    from ..operators.discrete_sync import sample_sync_actions

    ev = _t(spark, sf_dir, "events").where(F.col("event_type") == "click")
    # keep-first dedupe as min() aggregation: partial map-side combine,
    # no full partition sort (row_number would force one) — same rows
    base = (
        ev.select(
            (F.col("user_id") % 16).alias("series"),
            F.date_trunc("second", F.col("ts")).alias("datetime"),
            "event_id",
        )
        .groupBy("series", "datetime")
        .agg(F.min("event_id").alias("event_id"))
    )
    local = base.where(F.col("event_id") % 11 != 3).select(
        "series", "datetime",
        F.when(F.col("event_id") % 4 == 0, F.lit("other"))
        .otherwise(F.lit("srcA"))
        .alias("import_source"),
        (F.col("event_id") % 7 == 0).alias("no_update"),
    )
    remote = base.where(~(F.col("event_id") % 5).isin(0, 1)).select(
        "series", "datetime"
    )
    return sample_sync_actions(
        local, remote, keys=["series"],
        start="2024-01-02 00:00:00", end="2024-01-28 00:00:00",
        source_fx="srcA",
    )


_DISCRETE_RESULTS_SQL = """
    lbase AS (
      SELECT l_orderkey AS sample_id,
             l_partkey % 20 AS parameter_id,
             CASE WHEN l_suppkey % 3 = 0 THEN NULL
                  ELSE l_suppkey % 3 END AS fraction_id,
             CAST(l_quantity AS DOUBLE) AS result,
             (l_orderkey % 9 = 0) AS no_update,
             row_number() OVER (
               PARTITION BY l_orderkey, l_partkey % 20,
                            CASE WHEN l_suppkey % 3 = 0 THEN NULL
                                 ELSE l_suppkey % 3 END
               ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity
             ) AS rn
      FROM lineitem WHERE l_linenumber = 1
    ), locl AS (
      SELECT sample_id, parameter_id, fraction_id, result, no_update
      FROM lbase WHERE rn = 1
    ), rbase AS (
      SELECT l_orderkey AS sample_id,
             l_partkey % 20 AS parameter_id,
             CASE WHEN l_suppkey % 3 = 0 THEN NULL
                  ELSE l_suppkey % 3 END AS fraction_id,
             CASE WHEN l_orderkey % 5 = 0
                  THEN CAST(l_quantity AS DOUBLE) + 1.0
                  ELSE CAST(l_quantity AS DOUBLE) END AS result,
             row_number() OVER (
               PARTITION BY l_orderkey, l_partkey % 20,
                            CASE WHEN l_suppkey % 3 = 0 THEN NULL
                                 ELSE l_suppkey % 3 END
               ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity
             ) AS rn
      FROM lineitem
      WHERE l_linenumber IN (1, 2) AND l_orderkey % 6 <> 2
    ), rmt AS (
      SELECT sample_id, parameter_id, fraction_id, result
      FROM rbase WHERE rn = 1
    )
"""

_DISCRETE_RESULT_ACTIONS_ORACLE = "WITH " + _DISCRETE_RESULTS_SQL + """
    SELECT COALESCE(l.sample_id, r.sample_id) AS sample_id,
           COALESCE(l.parameter_id, r.parameter_id) AS parameter_id,
           COALESCE(l.fraction_id, r.fraction_id) AS fraction_id,
           l.result AS local_result,
           r.result AS remote_result,
           CASE WHEN l.sample_id IS NULL THEN 'insert'
                WHEN r.sample_id IS NULL THEN
                  CASE WHEN l.no_update THEN 'protected' ELSE 'delete' END
                WHEN l.no_update THEN 'protected'
                WHEN l.result IS NOT DISTINCT FROM r.result THEN 'unchanged'
                ELSE 'update' END AS action
    FROM locl l
    FULL OUTER JOIN rmt r
      ON l.sample_id = r.sample_id
     AND l.parameter_id = r.parameter_id
     AND l.fraction_id IS NOT DISTINCT FROM r.fraction_id
"""


@register("discrete_result_sync", oracle=_DISCRETE_RESULT_ACTIONS_ORACLE)
def discrete_result_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """synchronize_discrete result-level reconciliation
    (R/synchronize_discrete.R:500-860): null-safe composite-key match
    (a missing remote key matches only NULL locally), value-diff
    updates, no_update protection, delete-unchecked, insert-new."""
    from ..operators.discrete_sync import result_sync_actions

    li = _t(spark, sf_dir, "lineitem")
    frac = F.when(
        F.col("l_suppkey") % 3 == 0, F.lit(None).cast("long")
    ).otherwise(F.col("l_suppkey") % 3)
    key_w = Window.partitionBy(
        "sample_id", "parameter_id", "fraction_id"
    ).orderBy("l_linenumber", "l_partkey", "l_suppkey", "l_quantity")

    def prep(df):
        return (
            df.withColumn("rn", F.row_number().over(key_w))
            .where(F.col("rn") == 1)
            .drop("rn")
        )

    local = prep(
        li.where(F.col("l_linenumber") == 1).select(
            F.col("l_orderkey").alias("sample_id"),
            (F.col("l_partkey") % 20).alias("parameter_id"),
            frac.alias("fraction_id"),
            F.col("l_quantity").cast("double").alias("result"),
            (F.col("l_orderkey") % 9 == 0).alias("no_update"),
            "l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
        )
    ).drop("l_linenumber", "l_partkey", "l_suppkey", "l_quantity")
    remote = prep(
        li.where(
            F.col("l_linenumber").isin(1, 2) & (F.col("l_orderkey") % 6 != 2)
        ).select(
            F.col("l_orderkey").alias("sample_id"),
            (F.col("l_partkey") % 20).alias("parameter_id"),
            frac.alias("fraction_id"),
            F.when(
                F.col("l_orderkey") % 5 == 0,
                F.col("l_quantity").cast("double") + 1.0,
            )
            .otherwise(F.col("l_quantity").cast("double"))
            .alias("result"),
            "l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
        )
    ).drop("l_linenumber", "l_partkey", "l_suppkey", "l_quantity")
    return result_sync_actions(
        local, remote,
        key_cols=["sample_id", "parameter_id", "fraction_id"],
        value_col="result", no_update_col="no_update",
    )


# ---------------------------------------------------------------------------
# §2.6 segment id recycling: split/overlay + the reference writer's
# positional id contract (R/adjust_functions.R:132-142) as one
# oracle-checked composition. Existing/new interval sets are derived
# from orders, made non-overlapping per side via lead() capping (the
# overlay's new-wins tie-break is only deterministic across engines
# when segments within one side don't overlap).
# ---------------------------------------------------------------------------

_SEG_IDS_SQL = """
    ex0 AS (
      SELECT o_orderpriority AS series, o_orderkey AS segment_id,
             CAST(o_orderdate AS TIMESTAMP) AS start_dt,
             CAST(o_orderdate AS TIMESTAMP)
               + (o_orderkey % 20 + 5) * INTERVAL 1 DAY AS raw_end,
             lead(CAST(o_orderdate AS TIMESTAMP)) OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_orderdate, o_orderkey) AS next_start,
             o_orderkey % 3 AS value
      FROM orders WHERE o_orderkey % 97 = 0
    ), ex AS (
      SELECT series, segment_id, start_dt,
             LEAST(raw_end, COALESCE(next_start, raw_end)) AS end_dt, value
      FROM ex0
      WHERE LEAST(raw_end, COALESCE(next_start, raw_end)) > start_dt
    ), nw0 AS (
      SELECT o_orderpriority AS series,
             CAST(o_orderdate AS TIMESTAMP) AS start_dt,
             CAST(o_orderdate AS TIMESTAMP)
               + (o_orderkey % 15 + 3) * INTERVAL 1 DAY AS raw_end,
             lead(CAST(o_orderdate AS TIMESTAMP)) OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_orderdate, o_orderkey) AS next_start,
             o_orderkey % 3 AS value
      FROM orders WHERE o_orderkey % 89 = 1
    ), nw AS (
      SELECT series, start_dt,
             LEAST(raw_end, COALESCE(next_start, raw_end)) AS end_dt, value
      FROM nw0
      WHERE LEAST(raw_end, COALESCE(next_start, raw_end)) > start_dt
    )
"""

_SEG_IDS_ORACLE = "WITH " + _SEG_IDS_SQL + """
    , allseg AS (
      SELECT series, start_dt, end_dt, value, 0 AS src FROM ex
      UNION ALL
      SELECT series, start_dt, end_dt, value, 1 AS src FROM nw
    ), bounds AS (
      SELECT DISTINCT series, b FROM (
        SELECT series, start_dt AS b FROM allseg
        UNION ALL SELECT series, end_dt AS b FROM allseg
      )
    ), elems AS (
      SELECT series, b AS es,
             lead(b) OVER (PARTITION BY series ORDER BY b) AS ee
      FROM bounds
    ), covered AS (
      SELECT e.series, e.es, e.ee, s.value, s.src
      FROM elems e
      JOIN allseg s ON s.series = e.series
       AND s.start_dt <= e.es AND s.end_dt >= e.ee
      WHERE e.ee IS NOT NULL
    ), resolved AS (
      SELECT series, es, ee, value FROM (
        SELECT *, row_number() OVER (
          PARTITION BY series, es, ee ORDER BY src DESC) AS pick
        FROM covered
      ) WHERE pick = 1
    ), runs AS (
      SELECT *, sum(new_run) OVER (
        PARTITION BY series ORDER BY es
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      FROM (
        SELECT *, CASE WHEN value IS NOT DISTINCT FROM
                         lag(value) OVER (PARTITION BY series ORDER BY es)
                       AND lag(ee) OVER (PARTITION BY series ORDER BY es) = es
                  THEN 0 ELSE 1 END AS new_run
        FROM resolved
      )
    ), final AS (
      SELECT series, min(es) AS start_dt, max(ee) AS end_dt,
             min(value) AS value
      FROM runs GROUP BY series, run
    ), fpos AS (
      SELECT *, row_number() OVER (
        PARTITION BY series ORDER BY start_dt, end_dt) AS pos
      FROM final
    ), epos AS (
      SELECT series, segment_id, start_dt, end_dt,
             row_number() OVER (
               PARTITION BY series
               ORDER BY start_dt, end_dt, segment_id) AS pos
      FROM ex
    )
    SELECT COALESCE(f.series, e.series) AS series,
           CASE WHEN f.pos IS NOT NULL THEN f.start_dt
                ELSE e.start_dt END AS start_dt,
           CASE WHEN f.pos IS NOT NULL THEN f.end_dt
                ELSE e.end_dt END AS end_dt,
           CASE WHEN f.pos IS NOT NULL THEN f.value END AS value,
           e.segment_id,
           CASE WHEN f.pos IS NOT NULL THEN 'upsert' ELSE 'delete' END
             AS action
    FROM fpos f
    FULL OUTER JOIN epos e ON e.series = f.series AND e.pos = f.pos
"""


@register("segment_id_recycling", oracle=_SEG_IDS_ORACLE)
def segment_id_recycling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlay + positional id recycling (R/adjust_functions.R:18-142):
    new segments split the existing ones (new wins per elementary
    interval, adjacent equal values merge), then the rebuilt rows take
    existing ids BY POSITION; surplus rebuilt rows get NULL ids and
    surplus existing rows become delete actions."""
    from ..operators.segments import recycle_split_ids, split_segments

    o = _t(spark, sf_dir, "orders")
    start = F.col("o_orderdate").cast("timestamp")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_orderdate", "o_orderkey"
    )

    def intervals(mod, rem, span_mod, span_base, with_id):
        d = o.where(F.col("o_orderkey") % mod == rem).select(
            F.col("o_orderpriority").alias("series"),
            *( [F.col("o_orderkey").alias("segment_id")] if with_id else [] ),
            start.alias("start_dt"),
            F.timestamp_add(
                "DAY",
                (F.col("o_orderkey") % span_mod + span_base).cast("int"),
                start,
            ).alias("raw_end"),
            F.lead(start).over(w).alias("next_start"),
            (F.col("o_orderkey") % 3).alias("value"),
        )
        end = F.least(F.col("raw_end"), F.coalesce("next_start", "raw_end"))
        return (
            d.withColumn("end_dt", end)
            .where(F.col("end_dt") > F.col("start_dt"))
            .drop("raw_end", "next_start")
        )

    # the overlay references each interval set several times (boundary
    # union + both value lookups + positional recycle) — materialize
    # the catalog-sized interval tables once
    existing = intervals(97, 0, 20, 5, with_id=True).persist()
    new = intervals(89, 1, 15, 3, with_id=False).persist()
    final = split_segments(
        existing.drop("segment_id"), new, keys=["series"],
        start_col="start_dt", end_col="end_dt", value_col="value",
    )
    return recycle_split_ids(
        existing, final, keys=["series"], id_col="segment_id",
        start_col="start_dt", end_col="end_dt",
    )


# ---------------------------------------------------------------------------
# Flagship composition used by entry(): corrections -> daily -> DOY stats
# ---------------------------------------------------------------------------

def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    corrected = apply_corrections(
        ev, EVENT_CORRECTIONS, ts_col="event_type", dt_col="ts",
        value_col="value", out_col="value",
    )
    daily = daily_rollup(
        corrected, keys=["event_type"], dt_col="ts", value_col="value", agg_type="mean"
    )
    out = doy_stats(daily, keys=["event_type"], date_col="date",
                    value_col="value", exact_hist_mean=True)
    return _round(out, {"value": 4, "hist_min": 4, "hist_max": 4, "hist_mean": 4,
                        "q10": 4, "q25": 4, "q50": 4, "q75": 4, "q90": 4,
                        "percent_historic_range": 4})


# ---------------------------------------------------------------------------
# Training-data tier: token budgeting — whitespace vs BPE-ish subword
# boundary counts + chars/token (the LLM corpus-sizing statistics).
# ---------------------------------------------------------------------------

_TOKEN_STATS_ORACLE = f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+'))
               AS bpe_tokens,
           {R("CAST(length(text) AS DOUBLE) / greatest(len(regexp_extract_all("
              "text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')), 1)", 6)}
               AS chars_per_token
    FROM documents
"""


@register("token_stats", oracle=_TOKEN_STATS_ORACLE)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import bpe_token_count, token_count

    docs = _t(spark, sf_dir, "documents")
    bpe = bpe_token_count(F.col("text"))
    out = docs.select(
        "doc_id",
        token_count(F.col("text")).alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        (F.length("text").cast("double") / F.greatest(bpe, F.lit(1)))
        .alias("chars_per_token"),
    )
    return _round(out, {"chars_per_token": 6})


# ---------------------------------------------------------------------------
# maintain.R housekeeping as oracle-checked operators
# (operators/maintenance.py): visibility expiry flip, timeseries bounds
# refresh, orphan/missing-point location checks, and NHN-based location
# code generation (generateACLocationCode.R).
# ---------------------------------------------------------------------------

_VIS_ORACLE = """
    WITH base AS (
      SELECT doc_id,
             CASE doc_id % 3
               WHEN 0 THEN ['public_reader']
               WHEN 1 THEN ['admin']
               ELSE ['admin', 'public_reader'] END AS share_with,
             CASE WHEN doc_id % 5 = 0 THEN NULL
                  ELSE DATE '2026-01-01' + (doc_id % 200) * INTERVAL 1 DAY
             END AS private_expiry
      FROM documents
    ), flipped AS (
      SELECT doc_id,
             CASE WHEN private_expiry IS NOT NULL
                       AND private_expiry < DATE '2026-04-01'
                       AND share_with != ['public_reader']
                  THEN ['public_reader'] ELSE share_with END AS share_with,
             private_expiry
      FROM base
    )
    SELECT doc_id,
           array_to_string(share_with, ',') AS share_csv,
           CASE WHEN share_with = ['public_reader'] THEN NULL
                ELSE private_expiry END AS private_expiry
    FROM flipped
"""


@register("visibility_expiry_maintenance", oracle=_VIS_ORACLE)
def visibility_expiry_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """maintain.R:204-242 visibility_check — private rows whose expiry
    has passed become public, and expiry clears on public rows."""
    from ..operators.maintenance import visibility_expiry_flip

    docs = _t(spark, sf_dir, "documents")
    share = (
        F.when(F.col("doc_id") % 3 == 0, F.array(F.lit("public_reader")))
        .when(F.col("doc_id") % 3 == 1, F.array(F.lit("admin")))
        .otherwise(F.array(F.lit("admin"), F.lit("public_reader")))
    )
    expiry = F.when(
        F.col("doc_id") % 5 != 0,
        F.date_add(F.lit("2026-01-01").cast("date"),
                   (F.col("doc_id") % 200).cast("int")),
    )
    staged = docs.select("doc_id", share.alias("share_with"),
                         expiry.alias("private_expiry"))
    out = visibility_expiry_flip(staged, F.lit("2026-04-01").cast("date"))
    return out.select(
        "doc_id",
        F.array_join("share_with", ",").alias("share_csv"),
        "private_expiry",
    )


_BOUNDS_ORACLE = """
    WITH actual AS (
      SELECT event_type, min(CAST(ts AS TIMESTAMP)) AS lo,
             max(CAST(ts AS TIMESTAMP)) AS hi
      FROM events GROUP BY event_type
    ), dim AS (
      SELECT event_type, date_trunc('day', lo) AS start_datetime,
             date_trunc('day', hi) AS end_datetime
      FROM actual
    )
    SELECT d.event_type,
           CASE WHEN d.start_datetime != a.lo OR d.end_datetime != a.hi
                THEN a.lo ELSE d.start_datetime END AS start_datetime,
           CASE WHEN d.start_datetime != a.lo OR d.end_datetime != a.hi
                THEN a.hi ELSE d.end_datetime END AS end_datetime,
           (d.start_datetime != a.lo OR d.end_datetime != a.hi)
               AS bounds_changed
    FROM dim d JOIN actual a USING (event_type)
"""


@register("timeseries_bounds_check", oracle=_BOUNDS_ORACLE)
def timeseries_bounds_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """maintain.R:51-93 timeseries_check — stale dim bounds (here: the
    day-truncated actuals) get patched from the measurement min/max."""
    from ..operators.maintenance import timeseries_bounds_refresh

    ev = _t(spark, sf_dir, "events")
    actual = ev.groupBy("event_type").agg(
        F.min("ts").alias("__lo0"), F.max("ts").alias("__hi0")
    )
    dim = actual.select(
        "event_type",
        F.date_trunc("day", "__lo0").alias("start_datetime"),
        F.date_trunc("day", "__hi0").alias("end_datetime"),
    )
    out = timeseries_bounds_refresh(dim, ev, ts_col="event_type", dt_col="ts")
    return out.select("event_type", "start_datetime", "end_datetime",
                      "bounds_changed")


_LOC_CHECKS_ORACLE = """
    WITH used AS (
      SELECT DISTINCT l_suppkey AS uid FROM lineitem WHERE l_quantity > 30
    ), feats AS (
      SELECT lower('LOC-' || CAST(s_suppkey AS VARCHAR)) AS feat
      FROM supplier WHERE s_suppkey % 2 = 0
    )
    SELECT s_suppkey AS location_id,
           (uid IS NULL) AS orphan,
           (feat IS NULL) AS missing_point
    FROM supplier
    LEFT JOIN used ON used.uid = s_suppkey
    LEFT JOIN feats
      ON feats.feat = lower('LOC-' || CAST(s_suppkey AS VARCHAR))
"""


@register("location_checks", oracle=_LOC_CHECKS_ORACLE)
def location_checks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """maintain.R:95-201 locations_check — unreferenced locations and
    locations lacking a point feature in the vector store."""
    from ..operators.maintenance import location_checks

    supp = _t(spark, sf_dir, "supplier")
    locations = supp.select(
        F.col("s_suppkey").alias("location_id"),
        F.concat(F.lit("LOC-"), F.col("s_suppkey").cast("string"))
        .alias("location_code"),
    )
    used = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") > 30)
        .select(F.col("l_suppkey").alias("location_id"))
    )
    feats = supp.where(F.col("s_suppkey") % 2 == 0).select(
        F.lit("Locations").alias("layer_name"),
        F.concat(F.lit("LOC-"), F.col("s_suppkey").cast("string"))
        .alias("feature_name"),
    )
    out = location_checks(locations, used, feats)
    return out.select("location_id", "orphan", "missing_point")


_CODE_GEN_ORACLE = """
    WITH tri AS (
      SELECT n_nationkey AS bid,
             CAST((n_nationkey * 37) % 180 AS DOUBLE) AS ax,
             CAST((n_nationkey * 53) % 180 AS DOUBLE) AS ay,
             CAST((n_nationkey * 37) % 180 + 15 + n_nationkey % 7 AS DOUBLE) AS bx,
             CAST((n_nationkey * 53) % 180 + 3 + n_nationkey % 5 AS DOUBLE) AS by,
             CAST((n_nationkey * 37) % 180 + 5 + n_nationkey % 4 AS DOUBLE) AS cx,
             CAST((n_nationkey * 53) % 180 + 17 + n_nationkey % 6 AS DOUBLE) AS cy,
             lpad(CAST((n_nationkey * 7) % 90 + 10 AS VARCHAR), 2, '0')
               || chr(65 + n_nationkey % 26)
               || chr(65 + (n_nationkey * 3) % 26)
               || ' Basin' AS feature_name
      FROM nation
    ),
    pts AS (
      SELECT c_custkey AS point_id,
             ((c_custkey * 7919) % 1800) / 10.0 + 0.137 AS px,
             ((c_custkey * 104729) % 1800) / 10.0 + 0.269 AS py,
             c_custkey % 3 AS type_id
      FROM customer
    ),
    types(type_id, type_suffix) AS (VALUES (0, 'WL'), (1, 'HG'), (2, NULL)),
    hits AS (
      SELECT point_id, px, py, type_id, feature_name,
             abs((bx - ax) * (cy - ay) - (cx - ax) * (by - ay)) AS area2
      FROM tri JOIN pts
        ON (bx - ax) * (py - ay) - (by - ay) * (px - ax) > 0
       AND (cx - bx) * (py - by) - (cy - by) * (px - bx) > 0
       AND (ax - cx) * (py - cy) - (ay - cy) * (px - cx) > 0
    ),
    assigned AS (
      SELECT *, row_number() OVER (
        PARTITION BY point_id ORDER BY area2, feature_name) AS rn
      FROM hits
    ),
    prefixed AS (
      SELECT a.point_id, a.feature_name,
             regexp_extract(a.feature_name, '^([0-9]{2}[A-Za-z]{2,3})', 1)
               || '-' || coalesce(t.type_suffix, 'OT') AS prefix
      FROM assigned a LEFT JOIN types t USING (type_id)
      WHERE rn = 1
    ),
    existing AS (
      SELECT lpad(CAST((n_nationkey * 7) % 90 + 10 AS VARCHAR), 2, '0')
               || chr(65 + n_nationkey % 26)
               || chr(65 + (n_nationkey * 3) % 26)
               || '-WL-00007' AS code
      FROM nation WHERE n_nationkey = 1
    ),
    base AS (
      SELECT regexp_extract(code, '^(.*)-([0-9]+)$', 1) AS prefix,
             max(CAST(regexp_extract(code, '([0-9]+)$', 1) AS BIGINT)) AS b
      FROM existing GROUP BY 1
    )
    SELECT p.point_id, p.feature_name, p.prefix,
           p.prefix || '-' ||
           CASE WHEN length(CAST(coalesce(b.b, 0) + rn2 AS VARCHAR)) > 5
                THEN CAST(coalesce(b.b, 0) + rn2 AS VARCHAR)
                ELSE lpad(CAST(coalesce(b.b, 0) + rn2 AS VARCHAR), 5, '0')
           END AS location_code
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY prefix ORDER BY point_id) AS rn2
      FROM prefixed
    ) p LEFT JOIN base b ON b.prefix = p.prefix
"""


@register("location_code_generation", oracle=_CODE_GEN_ORACLE)
def location_code_generation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """generateACLocationCode.R:120-188 — smallest containing basin ->
    'NNAA-TT-#####' codes continuing after the existing per-prefix max.
    The oracle proves containment + numbering through independent math
    (half-plane tests vs the ray-cast kernel)."""
    from ..operators.maintenance import generate_location_codes

    nation = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    ax, ay = (k * 37) % 180, (k * 53) % 180
    verts = [
        (ax, ay),
        (ax + 15 + k % 7, ay + 3 + k % 5),
        (ax + 5 + k % 4, ay + 17 + k % 6),
    ]
    fname = F.concat(
        F.lpad(((k * 7) % 90 + 10).cast("string"), 2, "0"),
        F.expr("chr(65 + n_nationkey % 26)"),
        F.expr("chr(65 + (n_nationkey * 3) % 26)"),
        F.lit(" Basin"),
    )
    basins = nation.select(
        fname.alias("feature_name"),
        F.array(*[
            F.struct(x.cast("double").alias("x"), y.cast("double").alias("y"))
            for x, y in verts
        ]).alias("ring"),
    )
    cust = _t(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey").alias("point_id"),
        (((F.col("c_custkey") * 7919) % 1800) / 10.0 + 0.137).alias("px"),
        (((F.col("c_custkey") * 104729) % 1800) / 10.0 + 0.269).alias("py"),
        (F.col("c_custkey") % 3).cast("int").alias("type_id"),
    )
    types = _ldf(spark, 
        [(0, "WL"), (1, "HG"), (2, None)], "type_id int, type_suffix string"
    )
    existing = nation.where(k == 1).select(
        F.concat(fname.substr(F.lit(1), F.length(fname) - F.lit(6)),
                 F.lit("-WL-00007")).alias("code")
    )
    return generate_location_codes(pts, basins, types, existing)


# ---------------------------------------------------------------------------
# Sketch tier (operators/sketch.py): bounded-state corpus statistics.
# Deterministic by construction — md5-prefix hashing, integer register
# max / counter sums, one final float closed form over exactly-summed
# integers — so the full sketch STATE hash-matches the oracle, unlike
# approx_count_distinct's engine-private HLL++ registers.
# ---------------------------------------------------------------------------

_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / 256)

_HLL_ORACLE = f"""
    WITH tok AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS tokk
      FROM documents
    ), h AS (
      SELECT source,
             CAST('0x' || substr(md5(tokk), 1, 15) AS BIGINT) AS hh
      FROM tok
    ), r AS (
      SELECT source, hh % 256 AS idx, hh // 256 AS w FROM h
    ), regs AS (
      SELECT source, idx,
             max(CASE WHEN w > 0 THEN 52 - (length(bin(w)) - 1)
                      ELSE 53 END) AS m
      FROM r GROUP BY 1, 2
    ), pg AS (
      SELECT source, count(*) AS n_registers,
             sum(CAST(1 AS BIGINT) << (53 - m)) AS s_present
      FROM regs GROUP BY 1
    ), fin AS (
      SELECT source, n_registers,
             256 - n_registers AS zeros,
             s_present + (256 - n_registers)
               * (CAST(1 AS BIGINT) << 53) AS s_units
      FROM pg
    )
    SELECT source, CAST(n_registers AS BIGINT) AS n_registers,
           CAST(zeros AS BIGINT) AS zeros,
           CAST(s_units AS BIGINT) AS s_units,
           {R(f'''CASE WHEN CAST({_HLL_ALPHA!r} AS DOUBLE) * 256.0
                       * 256.0 * 9007199254740992.0 / s_units <= 640.0
                       AND zeros > 0
                  THEN 256.0 * ln(CAST(256 AS DOUBLE) / zeros)
                  ELSE CAST({_HLL_ALPHA!r} AS DOUBLE) * 256.0 * 256.0
                       * 9007199254740992.0 / s_units END''', 6)}
             AS estimate
    FROM fin
"""


@register("hll_token_distinct", oracle=_HLL_ORACLE)
def hll_token_distinct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-token estimate from 256 HLL registers —
    register state AND estimate both hash-matched."""
    from ..functions.text import tokens
    from ..operators.sketch import hll_distinct

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(tokens(F.lower(F.col("text")))).alias("tokk"))
    out = hll_distinct(tok, "tokk", group_cols=["source"], p=8)
    return _round(out, {"estimate": 6})


_HISTQ_ORACLE = """
    WITH v AS (
      SELECT source, len(string_split(text, ' ')) AS nv FROM documents
    ), binned AS (
      SELECT source,
             CAST(least(greatest(floor(
               (CAST(nv AS DOUBLE) - CAST(0 AS DOUBLE))
               / CAST(512 AS DOUBLE) * 128), 0), 127) AS INT) AS bin
      FROM v
    ), counts AS (
      SELECT source, bin, count(*) AS c FROM binned GROUP BY 1, 2
    ), cum AS (
      SELECT source, bin, c,
             sum(c) OVER (PARTITION BY source ORDER BY bin
                          ROWS UNBOUNDED PRECEDING) AS cum,
             sum(c) OVER (PARTITION BY source) AS n
      FROM counts
    ), hits AS (
      SELECT source, p.pct, min(bin) AS bin, min(n) AS n
      FROM cum CROSS JOIN (SELECT unnest([50, 90, 99]) AS pct) p
      WHERE 100 * cum >= p.pct * n
      GROUP BY 1, 2
    )
    SELECT source, CAST(pct AS INT) AS pct, CAST(bin AS BIGINT) AS bin,
           CAST(0 AS DOUBLE) + (bin + 1) * CAST(512 AS DOUBLE) / 128
             AS upper_edge,
           CAST(n AS BIGINT) AS n
    FROM hits
"""


@register("histogram_length_quantiles", oracle=_HISTQ_ORACLE)
def histogram_length_quantiles_q(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """p50/p90/p99 of per-doc token length per source from a 128-bin
    histogram sketch (bounded, mergeable state; integer rank test —
    the exact-quantile's full-sort replacement for dashboards)."""
    from ..functions.text import tokens
    from ..operators.sketch import histogram_quantiles

    docs = _t(spark, sf_dir, "documents")
    lens = docs.select(
        "source", F.size(tokens(F.col("text"))).alias("nv"))
    return histogram_quantiles(
        lens, "nv", [50, 90, 99], group_cols=["source"],
        lo=0.0, hi=512.0, bins=128)


_CMS_PROBES = ["the", "and", "of", "data", "zzz-unseen"]

_CMS_ORACLE = """
    WITH tok AS (
      SELECT unnest(string_split(lower(text), ' ')) AS tokk
      FROM documents
    ), cells AS (
      SELECT i,
             CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || tokk),
                                 1, 15) AS BIGINT) % 1024 AS cell
      FROM tok, (SELECT unnest(range(0, 4)) AS i)
    ), sk AS (
      SELECT i AS row, cell, count(*) AS cnt FROM cells GROUP BY 1, 2
    ), probes AS (
      SELECT unnest(['the', 'and', 'of', 'data', 'zzz-unseen']) AS word
    ), pc AS (
      SELECT word, i AS row,
             CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || word),
                                 1, 15) AS BIGINT) % 1024 AS cell
      FROM probes, (SELECT unnest(range(0, 4)) AS i)
    ), est AS (
      SELECT word, min(coalesce(cnt, 0)) AS est
      FROM pc LEFT JOIN sk USING (row, cell) GROUP BY 1
    ), ex AS (
      SELECT p.word, count(t.tokk) AS exact
      FROM probes p LEFT JOIN tok t ON t.tokk = p.word GROUP BY 1
    )
    SELECT e.word, CAST(e.est AS BIGINT) AS est,
           CAST(x.exact AS BIGINT) AS exact,
           e.est >= x.exact AS never_under
    FROM est e JOIN ex x ON x.word = e.word
"""


_BLOOM_ORACLE = """
    WITH src0 AS (
      SELECT DISTINCT unnest(string_split(lower(text), ' ')) AS word
      FROM documents WHERE source = 'src0'
    ), positions AS (
      SELECT word,
             CAST('0x' || substr(md5('b' || CAST(i AS VARCHAR) || '|'
                                     || word), 1, 15) AS BIGINT)
               % 16384 AS idx
      FROM src0, (SELECT unnest(range(0, 7)) AS i)
    ), bits AS (
      SELECT idx // 32 AS word_idx,
             bit_or(CAST(1 AS BIGINT) << CAST(idx % 32 AS INT)) AS word
      FROM positions GROUP BY 1
    ), vocab AS (
      SELECT DISTINCT unnest(string_split(lower(text), ' ')) AS word
      FROM documents
    ), pc AS (
      SELECT v.word AS probe, p.idx // 32 AS word_idx,
             CAST(1 AS BIGINT) << CAST(p.idx % 32 AS INT) AS mask
      FROM vocab v, LATERAL (
        SELECT CAST('0x' || substr(md5('b' || CAST(i AS VARCHAR) || '|'
                                       || v.word), 1, 15) AS BIGINT)
                 % 16384 AS idx
        FROM (SELECT unnest(range(0, 7)) AS i)) p
    ), hits AS (
      SELECT probe AS word,
             min(CASE WHEN (coalesce(b.word, 0) & mask) = mask
                      THEN 1 ELSE 0 END) = 1 AS maybe_present
      FROM pc LEFT JOIN bits b USING (word_idx) GROUP BY 1
    )
    SELECT h.word, h.maybe_present,
           s.word IS NOT NULL AS actually_present,
           (h.maybe_present OR s.word IS NULL) AS no_false_negative
    FROM hits h LEFT JOIN src0 s ON s.word = h.word
"""


@register("bloom_membership", oracle=_BLOOM_ORACLE)
def bloom_membership_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter (16384 bits / 7 hashes) built over source-src0's
    token vocabulary, probed with the WHOLE corpus vocabulary: never a
    false negative (pinned per row); false positives priced by the
    maybe/actual columns."""
    from ..functions.text import tokens
    from ..operators.sketch import bloom_build, bloom_probe

    docs = _t(spark, sf_dir, "documents")

    def vocab_of(df):
        return df.select(
            F.explode(tokens(F.lower(F.col("text")))).alias("word")
        ).distinct()

    src0 = vocab_of(docs.where(F.col("source") == "src0"))
    bloom = bloom_build(src0, "word", m_bits=16384, k_hashes=7)
    probed = bloom_probe(bloom, vocab_of(docs), "word",
                         m_bits=16384, k_hashes=7)
    return (
        probed.join(src0.withColumn("__in", F.lit(True)), "word", "left")
        .select(
            "word", "maybe_present",
            F.coalesce("__in", F.lit(False)).alias("actually_present"),
            (F.col("maybe_present") | ~F.coalesce("__in", F.lit(False)))
            .alias("no_false_negative"),
        )
    )


@register("countmin_heavy_hitters", oracle=_CMS_ORACLE)
def countmin_heavy_hitters_q(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """4x1024 count-min sketch over the token stream, probed for four
    known-hot words and one absent word; est >= exact always (the CMS
    one-sided error), exact equality for the absent word unless all 4
    of its counters collide."""
    from ..functions.text import tokens
    from ..operators._scan import spread_scan
    from ..operators.sketch import countmin_build, countmin_estimate

    # the d md5 counter hashes per token run in the scan stage —
    # spread the under-split single-file scan (r12, guide §2.5)
    docs = spread_scan(_t(spark, sf_dir, "documents"), "doc_id")
    tok = docs.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("tokk"))
    # r12 single-derivation: the CMS build and the exact side share one
    # token-count aggregate — tokenize executes once and the d md5
    # counter hashes run per token TYPE, weighted (cell sums identical
    # in exact long arithmetic)
    cnts = tok.groupBy("tokk").agg(F.count(F.lit(1)).alias("__c"))
    sk = countmin_build(cnts, "tokk", d=4, w=1024, weight_col="__c")
    probes = _ldf(spark, [(w,) for w in _CMS_PROBES], "word string")
    est = countmin_estimate(sk, probes, "word", d=4, w=1024)
    # exact side: pre-aggregate the corpus, then RIGHT join with the
    # tiny probe list broadcast — never build a hash table of the
    # corpus side
    exact = (
        cnts.join(F.broadcast(probes),
                  cnts["tokk"] == probes["word"], "right")
        .select("word",
                F.coalesce("__c", F.lit(0)).cast("long").alias("exact"))
    )
    return est.join(F.broadcast(exact), "word").select(
        "word", "est", "exact",
        (F.col("est") >= F.col("exact")).alias("never_under"))


# ---------------------------------------------------------------------------
# addACTimeseries.R constraint ladder (operators/catalog_admin.py): the
# reference's ~850-line imperative validator as one set-wise pass —
# FK checks against dims, NULL guards, existing-catalog and in-batch
# duplicate detection, first-failing reason per row.
# ---------------------------------------------------------------------------

_TS_INSERT_ORACLE = """
    WITH batch AS (
      SELECT o_orderkey AS row_id,
             o_custkey AS location_id,
             o_orderkey % 300 AS parameter_id,
             o_orderkey % 7 AS media_id,
             CASE o_orderkey % 4 WHEN 0 THEN 'mean' WHEN 1 THEN 'instantaneous'
                  WHEN 2 THEN 'sum' ELSE 'bogus' END AS aggregation_type,
             o_orderkey % 3 AS record_rate,
             CASE WHEN o_orderkey % 11 = 0 THEN NULL
                  ELSE CAST(o_orderdate AS TIMESTAMP) END AS start_datetime
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    locs AS (SELECT DISTINCT c_custkey FROM customer),
    params AS (SELECT DISTINCT p_partkey FROM part WHERE p_partkey <= 250),
    medias(media_id) AS (VALUES (0), (1), (2), (3), (4)),
    aggs(agg) AS (VALUES ('mean'), ('instantaneous'), ('sum'), ('median')),
    existing AS (
      SELECT DISTINCT o_custkey AS location_id,
             o_orderkey % 300 AS parameter_id,
             o_orderkey % 7 AS media_id,
             CASE o_orderkey % 4 WHEN 0 THEN 'mean' WHEN 1 THEN 'instantaneous'
                  WHEN 2 THEN 'sum' ELSE 'bogus' END AS aggregation_type,
             o_orderkey % 3 AS record_rate
      FROM orders WHERE o_orderkey % 20 = 0
    ),
    marked AS (
      SELECT b.*,
             (l.c_custkey IS NULL) AS no_loc,
             (p.p_partkey IS NULL) AS no_param,
             (m.media_id IS NULL) AS no_media,
             (a.agg IS NULL) AS no_agg,
             (e.location_id IS NOT NULL) AS dup_exist,
             row_number() OVER (
               PARTITION BY b.location_id, b.parameter_id, b.media_id,
                            b.aggregation_type, b.record_rate
               ORDER BY b.row_id) AS brn
      FROM batch b
      LEFT JOIN locs l ON l.c_custkey = b.location_id
      LEFT JOIN params p ON p.p_partkey = b.parameter_id
      LEFT JOIN medias m ON m.media_id = b.media_id
      LEFT JOIN aggs a ON a.agg = b.aggregation_type
      LEFT JOIN existing e
        ON e.location_id = b.location_id AND e.parameter_id = b.parameter_id
       AND e.media_id = b.media_id AND e.aggregation_type = b.aggregation_type
       AND e.record_rate = b.record_rate
    )
    SELECT row_id, location_id, parameter_id, media_id, aggregation_type,
           record_rate, start_datetime,
           CASE WHEN start_datetime IS NULL THEN 'start_datetime_null'
                WHEN no_loc THEN 'unknown_location'
                WHEN no_param THEN 'unknown_parameter'
                WHEN no_media THEN 'unknown_media'
                WHEN no_agg THEN 'unknown_aggregation_type'
                WHEN dup_exist THEN 'duplicate_of_existing'
                WHEN brn > 1 THEN 'duplicate_in_batch'
           END AS reject_reason
    FROM marked
"""


@register("timeseries_insert_validation", oracle=_TS_INSERT_ORACLE)
def timeseries_insert_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.catalog_admin import validate_new_timeseries

    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    agg = (
        F.when(k % 4 == 0, "mean").when(k % 4 == 1, "instantaneous")
        .when(k % 4 == 2, "sum").otherwise("bogus")
    )
    batch = orders.where(k % 2 == 0).select(
        k.alias("row_id"),
        F.col("o_custkey").alias("location_id"),
        (k % 300).alias("parameter_id"),
        (k % 7).alias("media_id"),
        agg.alias("aggregation_type"),
        (k % 3).alias("record_rate"),
        F.when(k % 11 != 0, F.col("o_orderdate").cast("timestamp"))
        .alias("start_datetime"),
    )
    existing = orders.where(k % 20 == 0).select(
        F.col("o_custkey").alias("location_id"),
        (k % 300).alias("parameter_id"),
        (k % 7).alias("media_id"),
        agg.alias("aggregation_type"),
        (k % 3).alias("record_rate"),
    ).distinct()
    locations = _t(spark, sf_dir, "customer").select("c_custkey")
    parameters = (
        _t(spark, sf_dir, "part").where(F.col("p_partkey") <= 250)
        .select("p_partkey")
    )
    media = _ldf(spark, [(i,) for i in range(5)], "media_id bigint")
    aggs = _ldf(spark, 
        [("mean",), ("instantaneous",), ("sum",), ("median",)], "agg string")
    out = validate_new_timeseries(batch, locations, parameters, media, aggs,
                                  existing)
    return out.select(
        "row_id", "location_id", "parameter_id", "media_id",
        "aggregation_type", "record_rate", "start_datetime", "reject_reason",
    )


# ---------------------------------------------------------------------------
# Training-data tier: Gopher/C4-style repetition metrics — all
# WITHIN-ROW array kernels (sort + fold for top-element multiplicity),
# so the per-document statistics are map-only and linear over a 100 TB
# corpus; the oracle reaches the same numbers via unnest + groupBy.
# ---------------------------------------------------------------------------

_REPETITION_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ), b AS (
      SELECT doc_id, toks,
             list_transform(range(0, len(toks) - 1),
               i -> concat_ws(' ', toks[i+1], toks[i+2])) AS bigrams,
             list_transform(range(0, len(toks) - 2),
               i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])) AS trigrams
      FROM d
    ), tt AS (
      SELECT doc_id, max(c) AS top_tok FROM (
        SELECT doc_id, count(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS x FROM d) GROUP BY doc_id, x
      ) GROUP BY doc_id
    ), tb AS (
      SELECT doc_id, max(c) AS top_big FROM (
        SELECT doc_id, count(*) AS c
        FROM (SELECT doc_id, unnest(bigrams) AS x FROM b) GROUP BY doc_id, x
      ) GROUP BY doc_id
    ), m AS (
      SELECT b.doc_id,
             len(toks) AS n_tokens,
             CAST(len(list_distinct(toks)) AS DOUBLE)
               / greatest(len(toks), 1) AS unique_token_ratio,
             CAST(tt.top_tok AS DOUBLE) / greatest(len(toks), 1) AS top_token_frac,
             CAST(tb.top_big AS DOUBLE) / greatest(len(bigrams), 1) AS top_bigram_frac,
             1.0 - CAST(len(list_distinct(trigrams)) AS DOUBLE)
               / greatest(len(trigrams), 1) AS dup_trigram_frac
      FROM b JOIN tt USING (doc_id) JOIN tb USING (doc_id)
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           {R('unique_token_ratio', 6)} AS unique_token_ratio,
           {R('top_token_frac', 6)} AS top_token_frac,
           {R('top_bigram_frac', 6)} AS top_bigram_frac,
           {R('dup_trigram_frac', 6)} AS dup_trigram_frac,
           (unique_token_ratio >= 0.2 AND top_bigram_frac <= 0.2
            AND dup_trigram_frac <= 0.6) AS gopher_keep
    FROM m
"""


@register("repetition_metrics", oracle=_REPETITION_ORACLE)
def repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as X

    docs = _t(spark, sf_dir, "documents")

    # all five metrics inside ONE nested bind (token array, bigrams,
    # trigrams each evaluated once per row), surfaced through inline()
    # — a generator node projection collapse cannot inline, so the
    # shared subtrees are not re-evaluated per output column (measured
    # 2.1s -> see commit; the per-column form recomputed the ngram
    # arrays up to 2x each)
    def metrics(toks: F.Column) -> F.Column:
        n = F.greatest(F.size(toks), F.lit(1))

        def grams(k: int) -> F.Column:
            idx = F.sequence(F.lit(0), F.size(toks) - k)
            return F.when(
                F.size(toks) >= k,
                F.transform(
                    idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))
                ),
            ).otherwise(F.array().cast("array<string>"))

        def with_big(bg: F.Column) -> F.Column:
            def with_tri(tr: F.Column) -> F.Column:
                return F.struct(
                    F.size(toks).cast("long").alias("n_tokens"),
                    (F.size(F.array_distinct(toks)) / n)
                    .alias("unique_token_ratio"),
                    (X.top_count(toks) / n).alias("top_token_frac"),
                    (X.top_count(bg) / F.greatest(F.size(bg), F.lit(1)))
                    .alias("top_bigram_frac"),
                    (1.0 - F.size(F.array_distinct(tr))
                     / F.greatest(F.size(tr), F.lit(1)))
                    .alias("dup_trigram_frac"),
                )

            return X.bind(grams(3), with_tri)

        return X.bind(grams(2), with_big)

    m = X.bind(X.tokens(F.lower(F.col("text"))), metrics)
    out = docs.select("doc_id", F.inline(F.array(m))).withColumn(
        "gopher_keep",
        (F.col("unique_token_ratio") >= 0.2)
        & (F.col("top_bigram_frac") <= 0.2)
        & (F.col("dup_trigram_frac") <= 0.6),
    )
    return _round(out, {"unique_token_ratio": 6, "top_token_frac": 6,
                        "top_bigram_frac": 6, "dup_trigram_frac": 6})


# ---------------------------------------------------------------------------
# Training-data tier: PII redaction — deterministic synthetic PII is
# injected from doc_id on BOTH engines (the raw synthetic corpus has
# none), then typed-placeholder redaction + audit counts. Map-only
# regexp work, codegen'd; the patterns are restricted to the
# java.util.regex ∩ RE2 common subset.
# ---------------------------------------------------------------------------

_PII_ORACLE = r"""
    WITH aug AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 3 = 0
                     THEN ' contact user' || doc_id || '@example.com'
                     ELSE '' END
             || CASE WHEN doc_id % 4 = 1
                     THEN ' call 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END
             || CASE WHEN doc_id % 5 = 2
                     THEN ' host 192.168.' || (doc_id % 256) || '.' || (doc_id % 100)
                     ELSE '' END AS text
      FROM documents
    ), red AS (
      SELECT doc_id,
             len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
             len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phones,
             len(regexp_extract_all(text,
               '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS n_ips,
             regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
               '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g')
               AS redacted
      FROM aug
    )
    SELECT doc_id, CAST(n_emails AS BIGINT) AS n_emails,
           CAST(n_phones AS BIGINT) AS n_phones,
           CAST(n_ips AS BIGINT) AS n_ips,
           CAST(length(redacted) AS BIGINT) AS redacted_len,
           md5(redacted) AS redacted_hash
    FROM red
"""


@register("pii_redaction", oracle=_PII_ORACLE)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as X

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(k % 3 == 0,
               F.concat(F.lit(" contact user"), k.cast("string"),
                        F.lit("@example.com"))).otherwise(""),
        F.when(k % 4 == 1,
               F.concat(F.lit(" call 555-867-"),
                        F.lpad((k % 10000).cast("string"), 4, "0"))
               ).otherwise(""),
        F.when(k % 5 == 2,
               F.concat(F.lit(" host 192.168."), (k % 256).cast("string"),
                        F.lit("."), (k % 100).cast("string"))).otherwise(""),
    )
    a = docs.select("doc_id", aug.alias("__aug"))
    n_emails, n_phones, n_ips = X.pii_counts(F.col("__aug"))
    return a.select(
        "doc_id",
        n_emails.cast("long").alias("n_emails"),
        n_phones.cast("long").alias("n_phones"),
        n_ips.cast("long").alias("n_ips"),
        F.length(X.redact_pii(F.col("__aug"))).cast("long").alias("redacted_len"),
        F.md5(X.redact_pii(F.col("__aug"))).alias("redacted_hash"),
    )


# ---------------------------------------------------------------------------
# Matrix-state resolution ladder for discrete results (patch_39.R:798-970
# + utils.R:861-1131): explicit id > numeric/text label (with unknown/
# ambiguous rejection) > media default gated by parameter units >
# unique-parameter-state fallback. Dims from nation/part; every arm of
# the ladder is exercised by the o_orderkey residue classes.
# ---------------------------------------------------------------------------

_MATRIX_STATE_ORACLE = """
    WITH ms(matrix_state_id, code, name, name_fr) AS (
      VALUES (1, 'liquid', 'Aqueous', 'Liquide'),
             (2, 'solid', 'Solid', 'Solide'),
             (3, 'gas', 'Gas', 'aqueous')
    ), labels AS (
      SELECT lab, count(*) AS n_lab, min(matrix_state_id) AS lab_id FROM (
        SELECT DISTINCT matrix_state_id,
               unnest([lower(code), lower(name), lower(name_fr)]) AS lab
        FROM ms
      ) GROUP BY lab
    ), med AS (
      SELECT n_nationkey AS media_id,
             CASE n_nationkey % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
                  WHEN 2 THEN 3 END AS med_def
      FROM nation
    ), par AS (
      SELECT p_partkey AS param_id,
             CASE WHEN p_partkey % 3 = 0 THEN 10 END AS units_liquid,
             CASE WHEN p_partkey % 5 = 0 THEN 20 END AS units_solid,
             CASE WHEN p_partkey % 7 = 0 THEN 30 END AS units_gas
      FROM part
    ), par_states AS (
      SELECT param_id,
             CASE WHEN count(*) = 1 THEN min(ms.matrix_state_id) END AS uniq_id
      FROM (
        SELECT param_id, unnest([
          CASE WHEN units_liquid IS NOT NULL THEN 'liquid' END,
          CASE WHEN units_solid IS NOT NULL THEN 'solid' END,
          CASE WHEN units_gas IS NOT NULL THEN 'gas' END]) AS c
        FROM par) s
      JOIN ms ON ms.code = s.c
      GROUP BY param_id
    ), res AS (
      SELECT o_orderkey AS result_id,
             o_custkey % 25 AS sample_media_id,
             CASE WHEN o_orderkey % 17 = 0 THEN NULL
                  ELSE o_orderkey % 400 + 1 END AS parameter_id,
             CASE WHEN o_orderkey % 11 = 0
                  THEN CAST(o_orderkey % 3 + 1 AS INT) END AS matrix_state_id,
             CASE o_orderkey % 13 WHEN 0 THEN 'liquid' WHEN 1 THEN 'SOLID'
                  WHEN 2 THEN ' Liquide ' WHEN 3 THEN '2' WHEN 4 THEN 'bogus'
                  WHEN 5 THEN 'aqueous' WHEN 6 THEN '' WHEN 7 THEN 'NA'
             END AS matrix_state
      FROM orders
    ), norm AS (
      SELECT *, CASE WHEN lower(trim(matrix_state)) IN ('', 'na', 'null')
                     THEN NULL ELSE lower(trim(matrix_state)) END AS nrm
      FROM res
    ), flags AS (
      SELECT *, COALESCE(regexp_full_match(nrm, '[+-]?[0-9]+'), FALSE)
                  AS is_num
      FROM norm
    ), j AS (
      SELECT f.*, l.n_lab, l.lab_id, m.med_def, mc.code AS med_code,
             p.units_liquid, p.units_solid, p.units_gas, ps.uniq_id,
             CASE mc.code WHEN 'liquid' THEN p.units_liquid
                  WHEN 'solid' THEN p.units_solid
                  WHEN 'gas' THEN p.units_gas END AS med_unit
      FROM flags f
      LEFT JOIN labels l ON f.nrm = l.lab AND NOT f.is_num
      LEFT JOIN med m ON m.media_id = f.sample_media_id
      LEFT JOIN ms mc ON mc.matrix_state_id = m.med_def
      LEFT JOIN par p ON p.param_id = f.parameter_id
      LEFT JOIN par_states ps ON ps.param_id = f.parameter_id
    )
    SELECT result_id, sample_media_id, parameter_id,
           CAST(CASE
             WHEN matrix_state_id IS NOT NULL THEN matrix_state_id
             WHEN nrm IS NOT NULL AND is_num THEN CAST(nrm AS INT)
             WHEN nrm IS NOT NULL AND n_lab = 1 THEN lab_id
             WHEN nrm IS NOT NULL THEN NULL
             WHEN med_def IS NOT NULL AND (parameter_id IS NULL
                  OR med_unit IS NOT NULL) THEN med_def
             ELSE uniq_id END AS INT) AS matrix_state_id,
           CASE
             WHEN matrix_state_id IS NOT NULL THEN 'explicit'
             WHEN nrm IS NOT NULL AND is_num THEN 'numeric_label'
             WHEN nrm IS NOT NULL AND n_lab = 1 THEN 'label'
             WHEN nrm IS NOT NULL THEN NULL
             WHEN med_def IS NOT NULL AND (parameter_id IS NULL
                  OR med_unit IS NOT NULL) THEN 'media_default'
             WHEN uniq_id IS NOT NULL THEN 'unique_parameter_state'
             ELSE 'unresolved' END AS resolved_via,
           CASE WHEN matrix_state_id IS NULL AND nrm IS NOT NULL
                     AND NOT is_num AND n_lab IS NULL
                  THEN 'unknown_matrix_state'
                WHEN matrix_state_id IS NULL AND nrm IS NOT NULL
                     AND NOT is_num AND n_lab > 1
                  THEN 'ambiguous_matrix_state' END AS reject_reason
    FROM j
"""


@register("matrix_state_resolution", oracle=_MATRIX_STATE_ORACLE)
def matrix_state_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.discrete import resolve_matrix_states

    matrix_states = _ldf(spark, 
        [(1, "liquid", "Aqueous", "Liquide"),
         (2, "solid", "Solid", "Solide"),
         (3, "gas", "Gas", "aqueous")],
        "matrix_state_id int, matrix_state_code string,"
        " matrix_state_name string, matrix_state_name_fr string",
    )
    n = _t(spark, sf_dir, "nation")
    nk = F.col("n_nationkey")
    media_types = n.select(
        nk.alias("media_id"),
        F.when(nk % 4 == 0, 1).when(nk % 4 == 1, 2).when(nk % 4 == 2, 3)
        .alias("default_matrix_state_id"),
    )
    p = _t(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    parameters = p.select(
        pk.alias("parameter_id"),
        F.when(pk % 3 == 0, 10).alias("units_liquid"),
        F.when(pk % 5 == 0, 20).alias("units_solid"),
        F.when(pk % 7 == 0, 30).alias("units_gas"),
    )
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    results = o.select(
        k.alias("result_id"),
        (F.col("o_custkey") % 25).alias("sample_media_id"),
        F.when(k % 17 != 0, k % 400 + 1).alias("parameter_id"),
        F.when(k % 11 == 0, (k % 3 + 1).cast("int")).alias("matrix_state_id"),
        F.when(k % 13 == 0, "liquid").when(k % 13 == 1, "SOLID")
        .when(k % 13 == 2, " Liquide ").when(k % 13 == 3, "2")
        .when(k % 13 == 4, "bogus").when(k % 13 == 5, "aqueous")
        .when(k % 13 == 6, "").when(k % 13 == 7, "NA")
        .alias("matrix_state"),
    )
    return resolve_matrix_states(results, matrix_states, media_types,
                                 parameters)


# ---------------------------------------------------------------------------
# The public read API end-to-end (§2.13, patch_53.R:1844-2260), oracle-
# checked: a NESTED compound (8 = coalesce(compound 6, basic 5); 6 =
# coalesce(corrected basic 1, basic 2)) with a member-level correction,
# a correction on the outer compound itself, and a resampled 'mean'
# statistic — one call through measurements_continuous_corrected
# exercises plan dispatch, recursive member resolution, correction
# fast-paths, and the dense resample tail in a single hash-matched
# result.
# ---------------------------------------------------------------------------

_API_READ_ORACLE = f"""
    WITH m AS (
      SELECT CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
                  WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4
                  ELSE 5 END AS tsid,
             CAST(ts AS TIMESTAMP) AS datetime, value
      FROM events
    ), win AS (
      SELECT * FROM m
      WHERE datetime >= TIMESTAMP '2024-01-03 00:00:00'
        AND datetime <= TIMESTAMP '2024-01-25 00:00:00'
    ), c1 AS (
      SELECT datetime,
             CASE WHEN datetime >= TIMESTAMP '2024-01-05 00:00:00'
                       AND datetime < TIMESTAMP '2024-01-15 00:00:00'
                       AND value IS NOT NULL
                  THEN value + 0.5 ELSE value END AS value
      FROM win WHERE tsid = 1
    ), c6 AS (
      SELECT datetime, value FROM (
        SELECT datetime, value,
               row_number() OVER (PARTITION BY datetime ORDER BY prio, al) rn
        FROM (
          SELECT datetime, value, 1 AS prio, 'a' AS al FROM c1
          WHERE value IS NOT NULL
          UNION ALL
          SELECT datetime, value, 2, 'b' FROM win
          WHERE tsid = 2 AND value IS NOT NULL
        )
      ) WHERE rn = 1
    ), c8raw AS (
      SELECT datetime, value FROM (
        SELECT datetime, value,
               row_number() OVER (PARTITION BY datetime ORDER BY prio, al) rn
        FROM (
          SELECT datetime, value, 1 AS prio, 'm6' AS al FROM c6
          WHERE value IS NOT NULL
          UNION ALL
          SELECT datetime, value, 2, 'm5' FROM win
          WHERE tsid = 5 AND value IS NOT NULL
        )
      ) WHERE rn = 1
    ), c8 AS (
      SELECT datetime,
             CASE WHEN datetime >= TIMESTAMP '2024-01-10 00:00:00'
                       AND datetime < TIMESTAMP '2024-01-20 00:00:00'
                       AND value IS NOT NULL
                  THEN value * 110.0 / 100 ELSE value END AS cv
      FROM c8raw
    ), b AS (
      SELECT TIMESTAMP '1970-01-01'
               + CAST(floor(epoch(datetime) / 21600) * 21600 AS BIGINT)
                 * INTERVAL 1 SECOND AS bin_start,
             {DSUM('cv')} / count(cv) AS mean
      FROM c8 WHERE cv IS NOT NULL
      GROUP BY 1
    ), bounds AS (
      SELECT min(bin_start) AS lo, max(bin_start) AS hi FROM b
    ), spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 21600 SECOND))
               AS bin_start
      FROM bounds
    )
    SELECT s.bin_start, {R('b.mean', 6)} AS corrected_value
    FROM spine s LEFT JOIN b USING (bin_start)
"""


@register("api_corrected_read", oracle=_API_READ_ORACLE)
def api_corrected_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..api import measurements_continuous_corrected
    from ..fixtures import FixtureStore
    from ..operators.corrections import Correction

    ev = _t(spark, sf_dir, "events")
    tsid = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "error", 2)
        .when(F.col("event_type") == "purchase", 3)
        .when(F.col("event_type") == "signup", 4)
        .otherwise(5)
    )
    meas = ev.select(
        tsid.alias("timeseries_id"), F.col("ts").alias("datetime"), "value"
    )
    timeseries = _ldf(spark, 
        [(i, "basic", "mean") for i in range(1, 6)]
        + [(6, "compound", "mean"), (8, "compound", "mean")],
        "timeseries_id int, timeseries_type string, aggregation_type string",
    )
    corrections = [
        Correction(1, 1, "2024-01-05 00:00:00", "2024-01-15 00:00:00",
                   "offset_linear", value1=0.5),
        Correction(2, 8, "2024-01-10 00:00:00", "2024-01-20 00:00:00",
                   "scale", value1=110.0),
    ]
    compounds = {
        6: {"expression": None, "members": [
            {"alias": "a", "timeseries_id": 1, "priority": 1,
             "use_from": None, "use_to": None},
            {"alias": "b", "timeseries_id": 2, "priority": 2,
             "use_from": None, "use_to": None},
        ]},
        8: {"expression": None, "members": [
            {"alias": "m6", "timeseries_id": 6, "priority": 1,
             "use_from": None, "use_to": None},
            {"alias": "m5", "timeseries_id": 5, "priority": 2,
             "use_from": None, "use_to": None},
        ]},
    }
    store = FixtureStore(
        timeseries=timeseries, measurements=meas,
        corrections=corrections, compounds=compounds,
    )
    out = measurements_continuous_corrected(
        store, 8, "2024-01-03 00:00:00", "2024-01-25 00:00:00",
        statistic="mean", resample_seconds=21600,
    )
    return _round(out.select("bin_start", "corrected_value"),
                  {"corrected_value": 6})


# ---------------------------------------------------------------------------
# Public location masking (DEV_locs_masking.R:397-462): stable
# md5-seeded bearing/distance, spherical forward projection. Map-only.
# ---------------------------------------------------------------------------

_MASKED_LOC_ORACLE = f"""
    WITH loc AS (
      SELECT c_custkey AS location_id,
             (c_custkey % 140) - 70 + 0.123 AS lat,
             (c_custkey % 340) - 170 + 0.456 AS lon,
             'loc-' || c_custkey AS seed
      FROM customer
    ), un AS (
      SELECT *,
        CAST('0x' || substr(md5(seed || ':bearing'), 1, 8) AS BIGINT)
          / 4294967295.0 AS ub,
        CAST('0x' || substr(md5(seed || ':distance'), 1, 8) AS BIGINT)
          / 4294967295.0 AS ud
      FROM loc
    ), prj AS (
      SELECT location_id, lat, lon,
             50.0 + 450.0 * ud AS dist,
             2.0 * pi() * ub AS brg,
             radians(lat) AS lat1, radians(lon) AS lon1,
             (50.0 + 450.0 * ud) / 6371008.8 AS delta
      FROM un
    ), out1 AS (
      SELECT location_id, lat, lon, dist, brg,
             asin(sin(lat1) * cos(delta)
                  + cos(lat1) * sin(delta) * cos(brg)) AS lat2r,
             lon1, delta, lat1
      FROM prj
    )
    SELECT location_id,
           {R('degrees(lat2r)', 6)} AS masked_lat,
           {R('degrees(lon1 + atan2(sin(brg) * sin(delta) * cos(lat1),'
              ' cos(delta) - sin(lat1) * sin(lat2r)))', 6)} AS masked_lon,
           {R('dist', 3)} AS offset_m,
           {R('brg', 6)} AS bearing_rad
    FROM out1
"""


@register("location_masking", oracle=_MASKED_LOC_ORACLE)
def location_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.maintenance import masked_location_points

    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    locs = c.select(
        k.alias("location_id"),
        ((k % 140) - 70 + 0.123).alias("lat"),
        ((k % 340) - 170 + 0.456).alias("lon"),
        F.concat(F.lit("loc-"), k.cast("string")).alias("seed"),
    )
    out = masked_location_points(locs, 50.0, 500.0)
    return _round(
        out.select("location_id", "masked_lat", "masked_lon",
                   "offset_m", "bearing_rad"),
        {"masked_lat": 6, "masked_lon": 6, "offset_m": 3, "bearing_rad": 6},
    )


# ---------------------------------------------------------------------------
# Compound metadata rollup (patch_41.R:684-806 + patch_53.R:306-318):
# union bounds for coalesce compounds, intersection (all-members-valid)
# for expression compounds, fastest member record rate — two nested
# levels resolved level by level.
# ---------------------------------------------------------------------------

_COMPOUND_META_ORACLE = """
    WITH m AS (
      SELECT CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
                  WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4
                  ELSE 5 END AS tsid,
             CAST(ts AS TIMESTAMP) AS ts
      FROM events
    ), b AS (
      SELECT tsid, min(ts) AS s, max(ts) AS e,
             CAST(tsid * 300 AS DOUBLE) AS rr
      FROM m GROUP BY tsid
    ), mem(cid, mid, uf, ut) AS (
      VALUES
        (6, 1, TIMESTAMP '2024-01-05 00:00:00', CAST(NULL AS TIMESTAMP)),
        (6, 2, CAST(NULL AS TIMESTAMP), TIMESTAMP '2024-01-20 00:00:00'),
        (7, 3, CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP)),
        (7, 4, TIMESTAMP '2024-01-10 00:00:00', CAST(NULL AS TIMESTAMP)),
        (8, 6, CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP)),
        (8, 5, CAST(NULL AS TIMESTAMP), TIMESTAMP '2024-01-15 00:00:00')
    ), eff1 AS (
      SELECT mem.cid,
        CASE WHEN b.s IS NULL THEN NULL
             WHEN mem.uf IS NULL THEN b.s
             ELSE greatest(b.s, mem.uf) END AS es,
        CASE WHEN b.e IS NULL THEN NULL
             WHEN mem.ut IS NULL THEN b.e
             ELSE least(b.e, mem.ut) END AS ee,
        b.rr
      FROM mem JOIN b ON b.tsid = mem.mid WHERE mem.cid IN (6, 7)
    ), agg1 AS (
      SELECT cid, count(*) AS n,
        count(*) FILTER (es IS NOT NULL AND ee IS NOT NULL AND ee >= es)
          AS nv,
        min(es) FILTER (es IS NOT NULL AND ee IS NOT NULL AND ee >= es)
          AS u_s,
        max(ee) FILTER (es IS NOT NULL AND ee IS NOT NULL AND ee >= es)
          AS u_e,
        max(es) FILTER (es IS NOT NULL AND ee IS NOT NULL AND ee >= es)
          AS i_s,
        min(ee) FILTER (es IS NOT NULL AND ee IS NOT NULL AND ee >= es)
          AS i_e,
        min(rr) AS rr
      FROM eff1 GROUP BY cid
    ), lvl1 AS (
      SELECT cid AS timeseries_id,
        CASE WHEN cid = 7
             THEN CASE WHEN n > 0 AND nv = n AND i_s <= i_e THEN i_s END
             ELSE u_s END AS start_datetime,
        CASE WHEN cid = 7
             THEN CASE WHEN n > 0 AND nv = n AND i_s <= i_e THEN i_e END
             ELSE u_e END AS end_datetime,
        rr AS record_rate_seconds
      FROM agg1
    ), src2 AS (
      SELECT tsid, s, e, rr FROM b
      UNION ALL
      SELECT timeseries_id, start_datetime, end_datetime,
             record_rate_seconds
      FROM lvl1
    ), eff2 AS (
      SELECT mem.cid,
        CASE WHEN src2.s IS NULL THEN NULL
             WHEN mem.uf IS NULL THEN src2.s
             ELSE greatest(src2.s, mem.uf) END AS es,
        CASE WHEN src2.e IS NULL THEN NULL
             WHEN mem.ut IS NULL THEN src2.e
             ELSE least(src2.e, mem.ut) END AS ee,
        src2.rr
      FROM mem JOIN src2 ON src2.tsid = mem.mid WHERE mem.cid = 8
    ), lvl2 AS (
      SELECT cid AS timeseries_id,
        min(es) FILTER (es IS NOT NULL AND ee IS NOT NULL AND ee >= es)
          AS start_datetime,
        max(ee) FILTER (es IS NOT NULL AND ee IS NOT NULL AND ee >= es)
          AS end_datetime,
        min(rr) AS record_rate_seconds
      FROM eff2 GROUP BY cid
    )
    SELECT * FROM lvl1 UNION ALL SELECT * FROM lvl2
"""


@register("compound_metadata_rollup", oracle=_COMPOUND_META_ORACLE)
def compound_metadata_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.compound import compound_metadata_rollup

    ev = _t(spark, sf_dir, "events")
    tsid = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "error", 2)
        .when(F.col("event_type") == "purchase", 3)
        .when(F.col("event_type") == "signup", 4)
        .otherwise(5)
    )
    basics = ev.select(tsid.alias("timeseries_id"), "ts").groupBy(
        "timeseries_id"
    ).agg(
        F.min("ts").alias("start_datetime"),
        F.max("ts").alias("end_datetime"),
        (F.col("timeseries_id") * 300.0).alias("record_rate_seconds"),
    )
    import datetime as _dt

    T = _dt.datetime
    members = _ldf(spark, 
        [
            (6, 1, T(2024, 1, 5), None),
            (6, 2, None, T(2024, 1, 20)),
            (7, 3, None, None),
            (7, 4, T(2024, 1, 10), None),
            (8, 6, None, None),
            (8, 5, None, T(2024, 1, 15)),
        ],
        "timeseries_id int, member_timeseries_id int,"
        " use_from timestamp, use_to timestamp",
    )
    has_expr = _ldf(spark, 
        [(6, False), (7, True), (8, False)],
        "timeseries_id int, has_expression boolean",
    )
    return compound_metadata_rollup(basics, members, has_expr)


# ---------------------------------------------------------------------------
# The DAILY read API end to end (§2.13): corrected read (offset window)
# -> unusable-grade-N interval exclusion -> exact-mean daily rollup ->
# DOY historical stats + percent_historic_range, all through one
# measurements_calculated_daily call over a multi-year orders-derived
# store — the refresh ladder as the USER-facing read, hash-matched.
# ---------------------------------------------------------------------------

_API_DAILY_ORACLE = f"""
    WITH meas AS (
      SELECT 1 AS timeseries_id,
             CAST(o_orderdate AS TIMESTAMP)
               + to_hours(CAST(o_orderkey % 24 AS INT)) AS datetime,
             (o_orderkey % 1000) * 0.1 AS value
      FROM orders
    ), corrected AS (
      SELECT timeseries_id, datetime,
             CASE WHEN datetime >= TIMESTAMP '1995-01-01 00:00:00'
                       AND datetime < TIMESTAMP '1996-01-01 00:00:00'
                  THEN value + 0.5 ELSE value END AS cv
      FROM meas
    ), kept AS (
      SELECT * FROM corrected
      WHERE NOT (datetime BETWEEN TIMESTAMP '1996-03-01 00:00:00'
                              AND TIMESTAMP '1996-04-15 00:00:00')
    ), daily AS (
      SELECT timeseries_id, CAST(datetime AS DATE) AS date,
             {DSUM('cv')} / count(cv) AS value
      FROM kept GROUP BY 1, 2
    ), dd AS (
      SELECT *,
             CAST(CASE
               WHEN month(date) = 2 AND day(date) = 29 THEN NULL
               WHEN (year(date) % 4 = 0
                     AND (year(date) % 100 <> 0 OR year(date) % 400 = 0))
                    AND dayofyear(date) > 60 THEN dayofyear(date) - 1
               ELSE dayofyear(date) END AS INTEGER) AS doy
      FROM daily
    ), joined AS (
      SELECT t.timeseries_id, t.date, t.value, t.doy,
             count(h.value) AS doy_count,
             min(h.value) AS hist_min,
             max(h.value) AS hist_max,
             sum(CAST(floor(h.value * 1000000 + 0.5) AS BIGINT))
               / 1000000.0 / count(h.value) AS hist_mean,
             quantile_cont(h.value, 0.10) AS q10,
             quantile_cont(h.value, 0.25) AS q25,
             quantile_cont(h.value, 0.50) AS q50,
             quantile_cont(h.value, 0.75) AS q75,
             quantile_cont(h.value, 0.90) AS q90
      FROM dd t
      LEFT JOIN dd h ON t.doy = h.doy AND h.date < t.date
      GROUP BY t.timeseries_id, t.date, t.value, t.doy
    )
    SELECT timeseries_id, date, {R('value', 4)} AS value, doy, doy_count,
           {R('hist_min', 4)} AS hist_min, {R('hist_max', 4)} AS hist_max,
           {R('hist_mean', 4)} AS hist_mean,
           {R('q10', 4)} AS q10, {R('q25', 4)} AS q25, {R('q50', 4)} AS q50,
           {R('q75', 4)} AS q75, {R('q90', 4)} AS q90,
           {R('CASE WHEN doy_count > 1 AND doy IS NOT NULL '
              'THEN (value - hist_min) / nullif(hist_max - hist_min, 0)'
              ' * 100.0 END', 4)} AS percent_historic_range
    FROM joined
"""


@register("api_daily_read", oracle=_API_DAILY_ORACLE)
def api_daily_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..api import measurements_calculated_daily
    from ..fixtures import FixtureStore
    from ..operators.corrections import Correction

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    meas = o.select(
        F.lit(1).alias("timeseries_id"),
        (F.col("o_orderdate").cast("timestamp")
         + (k % 24).cast("int") * F.expr("INTERVAL 1 HOUR")).alias("datetime"),
        ((k % 1000) * 0.1).alias("value"),
    )
    timeseries = _ldf(spark, 
        [(1, "basic", "mean")],
        "timeseries_id int, timeseries_type string, aggregation_type string",
    )
    grades = _ldf(spark, 
        [
            (1, "N", "1996-03-01 00:00:00", "1996-04-15 00:00:00"),
            (1, "N", "1997-01-01 00:00:00", "1997-01-01 00:00:00"),  # zero-width
            (1, "A", "1994-01-01 00:00:00", "1999-01-01 00:00:00"),
        ],
        "timeseries_id int, grade_code string, start_dt string, end_dt string",
    ).select(
        "timeseries_id", "grade_code",
        F.col("start_dt").cast("timestamp").alias("start_dt"),
        F.col("end_dt").cast("timestamp").alias("end_dt"),
    )
    store = FixtureStore(
        timeseries=timeseries, measurements=meas,
        corrections=[Correction(1, 1, "1995-01-01 00:00:00",
                                "1996-01-01 00:00:00", "offset_linear",
                                value1=0.5)],
        grades=grades,
    )
    out = measurements_calculated_daily(store, 1)
    return _round(
        out,
        {"value": 4, "hist_min": 4, "hist_max": 4, "hist_mean": 4,
         "q10": 4, "q25": 4, "q50": 4, "q75": 4, "q90": 4,
         "percent_historic_range": 4},
    )


# ---------------------------------------------------------------------------
# Hardness-dependent guideline end to end (patch_51.R:1780-1905 +
# safe_expr): per-sample hardness from the Ca/Mg/CaCO3 fallback ladder
# feeds the CCME-shaped exp/ln guideline expression through the §2.10
# safety gate, with an output cap and rounding.
# ---------------------------------------------------------------------------

_HARDNESS_ORACLE = f"""
    WITH res AS (
      SELECT o_custkey % 150 AS sample_id,
             CASE o_orderkey % 6 WHEN 0 THEN 1 WHEN 1 THEN 2
                  WHEN 2 THEN 3 ELSE 4 END AS parameter_id,
             CASE o_orderkey % 4 WHEN 0 THEN 10 ELSE 11 END
               AS sample_fraction_id,
             CASE WHEN o_orderkey % 5 = 0 THEN 20
                  ELSE CAST(o_orderkey % 3 AS INT) END
               AS result_speciation_id,
             (o_orderkey % 90) * 1.5 + 4.0 AS result
      FROM orders WHERE o_orderkey % 7 != 0
    ), agg AS (
      SELECT sample_id,
        max(result) FILTER (parameter_id = 1 AND sample_fraction_id = 10)
          AS ca_d,
        max(result) FILTER (parameter_id = 2 AND sample_fraction_id = 10)
          AS mg_d,
        max(result) FILTER (parameter_id = 3 AND sample_fraction_id = 10
                            AND result_speciation_id = 20) AS h_d_caco3,
        max(result) FILTER (parameter_id = 3 AND sample_fraction_id = 10)
          AS h_d_any,
        max(result) FILTER (parameter_id = 1 AND sample_fraction_id = 11)
          AS ca_t,
        max(result) FILTER (parameter_id = 2 AND sample_fraction_id = 11)
          AS mg_t,
        max(result) FILTER (parameter_id = 3 AND sample_fraction_id = 11
                            AND result_speciation_id = 20) AS h_t_caco3,
        max(result) FILTER (parameter_id = 3 AND sample_fraction_id = 11)
          AS h_t_any
      FROM res GROUP BY 1
    ), hard AS (
      SELECT sample_id, CASE
        WHEN ca_d > 0 AND mg_d > 0 THEN 2.497 * ca_d + 4.118 * mg_d
        WHEN h_d_caco3 > 0 THEN h_d_caco3
        WHEN h_d_any > 0 THEN h_d_any
        WHEN ca_t > 0 AND mg_t > 0 THEN 2.497 * ca_t + 4.118 * mg_t
        WHEN h_t_caco3 > 0 THEN h_t_caco3
        WHEN h_t_any > 0 THEN h_t_any END AS hardness
      FROM agg
    ), ev AS (
      SELECT sample_id, hardness,
             CASE WHEN hardness IS NOT NULL
                  THEN least(exp(0.736 * ln(hardness) + 0.6951), 150.0)
             END AS raw
      FROM hard
    )
    SELECT sample_id, {R('hardness', 4)} AS hardness,
           CASE WHEN raw IS NULL THEN NULL
                ELSE floor(raw * 100 + 0.5) / 100 END AS guideline_value,
           CASE WHEN raw IS NULL THEN 'no_value' ELSE 'value' END
             AS output_status
    FROM ev
"""


@register("hardness_guideline", oracle=_HARDNESS_ORACLE)
def hardness_guideline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.guidelines import (
        evaluate_guideline_rules, sample_hardness,
    )

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    res = o.where(k % 7 != 0).select(
        (F.col("o_custkey") % 150).alias("sample_id"),
        F.when(k % 6 == 0, 1).when(k % 6 == 1, 2).when(k % 6 == 2, 3)
        .otherwise(4).alias("parameter_id"),
        F.when(k % 4 == 0, 10).otherwise(11).alias("sample_fraction_id"),
        F.when(k % 5 == 0, 20).otherwise((k % 3).cast("int"))
        .alias("result_speciation_id"),
        ((k % 90) * 1.5 + 4.0).alias("result"),
    )
    hard = sample_hardness(res, calcium_pid=1, magnesium_pid=2,
                           hardness_pid=3, dissolved_fid=10, total_fid=11,
                           caco3_sid=20)
    iv = hard.select("sample_id", F.lit(None).cast("int").alias("input_id"),
                     F.lit(None).cast("double").alias("input_value"),
                     F.lit(None).cast("string").alias("status"))
    rules = _ldf(spark, 
        [(1, 1, "upper", 1, "safe_expr", None, None, None, None,
          "exp(0.736 * ln(hardness) + 0.6951)", None, 150.0, 2, "round")],
        "rule_id int, guideline_id int, bound_code string,"
        " rule_priority int, algorithm_code string, fixed_value double,"
        " input_id int, intercept double, slope double,"
        " formula_expr string, min_output_value double,"
        " max_output_value double, rounding_digits int,"
        " rounding_method string",
    )
    ev = evaluate_guideline_rules(rules, iv, hard, samples=hard)
    out = ev.join(hard, "sample_id").select(
        "sample_id", "hardness", "guideline_value", "output_status")
    return _round(out, {"hardness": 4})


# ---------------------------------------------------------------------------
# §2.1 import-mapping resolution with subset-match criteria and
# specificity ranking (R/import_mappings.R:1266-1315): best match by
# priority ASC, criteria-count DESC, mapping id ASC; equal-priority
# equal-specificity ties are ambiguous; inactive and unmatchable
# mappings ignored.  (import_mapping_join covers the simple LIKE-join
# shape; this is the full DSL.)
# ---------------------------------------------------------------------------

_RESOLVE_ORACLE = """
    WITH mapping(import_mapping_id, priority, active, m_brand, m_size,
                 badkey, parameter_id) AS (VALUES
      (1, 1, true,  'Brand#13', NULL, 0, 101),
      (2, 1, true,  'Brand#13', '7',  0, 102),
      (3, 0, true,  NULL,       '3',  0, 103),
      (4, 1, true,  'Brand#22', NULL, 0, 104),
      (5, 1, true,  'Brand#22', NULL, 0, 105),
      (6, 1, true,  'Brand#13', '19', 0, 106),
      (7, 2, false, 'Brand#34', NULL, 0, 107),
      (8, 3, true,  NULL,       NULL, 1, 108),
      (9, 1, true,  'Brand#21', NULL, 0, 109)
    ), m AS (
      SELECT *,
             CAST(m_brand IS NOT NULL AS INT)
             + CAST(m_size IS NOT NULL AS INT) + badkey AS match_size
      FROM mapping WHERE active
    ), hits AS (
      SELECT p.p_partkey AS record_id, m.import_mapping_id, m.priority,
             m.match_size, m.parameter_id
      FROM part p JOIN m
        ON (m_brand IS NULL OR m_brand = coalesce(p.p_brand, ''))
       AND (m_size IS NULL
            OR m_size = coalesce(CAST(p.p_size AS VARCHAR), ''))
       AND badkey = 0
    ), rk AS (
      SELECT *,
             row_number() OVER (PARTITION BY record_id
               ORDER BY priority, match_size DESC, import_mapping_id) AS rk,
             count(*) OVER (PARTITION BY record_id, priority, match_size)
               AS n_tied
      FROM hits
    ), best AS (SELECT * FROM rk WHERE rk = 1)
    SELECT p.p_partkey AS record_id, p.p_brand AS brand,
           CAST(p.p_size AS VARCHAR) AS size,
           CASE WHEN b.record_id IS NULL THEN 'unmapped'
                WHEN b.n_tied > 1 THEN 'ambiguous'
                ELSE 'matched' END AS status,
           CASE WHEN b.n_tied = 1 THEN b.import_mapping_id END
             AS import_mapping_id,
           CASE WHEN b.n_tied = 1 THEN b.parameter_id END AS parameter_id
    FROM part p LEFT JOIN best b ON b.record_id = p.p_partkey
"""


@register("import_mapping_resolution", oracle=_RESOLVE_ORACLE)
def import_mapping_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full import-mapping DSL over the part table as source records
    (sources/import_mappings.resolve_mappings)."""
    from ..sources.import_mappings import resolve_mappings

    part = _t(spark, sf_dir, "part")
    records = part.select(
        F.col("p_partkey").alias("record_id"),
        F.col("p_brand").alias("brand"),
        F.col("p_size").cast("string").alias("size"),
    )
    rows = [
        (1, 1, True, {"brand": "Brand#13"}, 101),
        (2, 1, True, {"brand": "Brand#13", "size": "7"}, 102),
        (3, 0, True, {"size": "3"}, 103),
        (4, 1, True, {"brand": "Brand#22"}, 104),
        (5, 1, True, {"brand": "Brand#22"}, 105),
        (6, 1, True, {"brand": "Brand#13", "size": "19"}, 106),
        (7, 2, False, {"brand": "Brand#34"}, 107),
        (8, 3, True, {"no_such_key": "x"}, 108),
        (9, 1, True, {"brand": "Brand#21"}, 109),
    ]
    mappings = _ldf(spark, 
        rows,
        "import_mapping_id int, priority int, active boolean,"
        " source_match map<string,string>, parameter_id int",
    )
    out = resolve_mappings(records, mappings, payload_cols=("parameter_id",))
    return out.select(
        "record_id", "brand", "size", "status",
        "import_mapping_id", "parameter_id",
    )


# ---------------------------------------------------------------------------
# §2.12 point-in-time corrected read (apply_corrections_at +
# measurements_continuous_corrected_at, patch_55.R:460-545,3282-3600):
# the corrections table is reconstructed from its audit log at p_as_of,
# then the ordered chain applies to the measurements. Log fixture
# exercises: future update (original wins), future insert (excluded),
# future delete (resurrected), past delete (stays absent), untouched.
# ---------------------------------------------------------------------------

_CRA_AS_OF = "2024-06-01 00:00:00"

_CRA_ORACLE = f"""
    WITH current AS (
      SELECT * FROM (VALUES
        (1, 'click', TIMESTAMP '2024-01-05', TIMESTAMP '2024-01-10',
         'offset_linear', 0.9, CAST(NULL AS DOUBLE),
         TIMESTAMP '2024-02-01'),
        (2, 'purchase', TIMESTAMP '2024-01-10', TIMESTAMP '2024-01-20',
         'scale', 110.0, CAST(NULL AS DOUBLE), TIMESTAMP '2024-07-15'),
        (4, 'view', TIMESTAMP '2024-01-03', TIMESTAMP '2024-01-08',
         'offset_two_point', 1.0, 3.0, TIMESTAMP '2024-01-20')
      ) AS t(row_id, event_type, start_dt, end_dt, ctype, value1, value2,
             row_created)
    ), log AS (
      SELECT * FROM (VALUES
        (101, TIMESTAMP '2024-07-01', 1, 'click', TIMESTAMP '2024-01-05',
         TIMESTAMP '2024-01-10', 'offset_linear', 0.25,
         CAST(NULL AS DOUBLE), 1, TIMESTAMP '2024-02-01'),
        (102, TIMESTAMP '2024-07-15', CAST(NULL AS INT),
         CAST(NULL AS VARCHAR), CAST(NULL AS TIMESTAMP),
         CAST(NULL AS TIMESTAMP), CAST(NULL AS VARCHAR),
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), 2,
         TIMESTAMP '2024-07-15'),
        (103, TIMESTAMP '2024-08-01', 3, 'error', TIMESTAMP '2024-01-01',
         TIMESTAMP '2024-02-01', 'trim', 5.0, 45.0, CAST(NULL AS INT),
         TIMESTAMP '2024-01-15'),
        (104, TIMESTAMP '2024-05-01', 5, 'signup', TIMESTAMP '2024-01-02',
         TIMESTAMP '2024-01-12', 'drift_linear', 2.5,
         CAST(NULL AS DOUBLE), CAST(NULL AS INT), TIMESTAMP '2024-03-01')
      ) AS t(log_id, action_timestamp, orig_row_id, orig_event_type,
             orig_start_dt, orig_end_dt, orig_ctype, orig_value1,
             orig_value2, new_row_id, row_created)
    ), fut AS (
      SELECT *, coalesce(orig_row_id, new_row_id) AS key,
             row_number() OVER (
               PARTITION BY coalesce(orig_row_id, new_row_id)
               ORDER BY action_timestamp, log_id) AS rn
      FROM log WHERE action_timestamp > TIMESTAMP '{_CRA_AS_OF}'
    ), first_chg AS (SELECT * FROM fut WHERE rn = 1
    ), snap AS (
      SELECT coalesce(f.key, c.row_id) AS row_id,
             CASE WHEN f.key IS NOT NULL THEN f.orig_event_type
                  ELSE c.event_type END AS event_type,
             CASE WHEN f.key IS NOT NULL THEN f.orig_start_dt
                  ELSE c.start_dt END AS start_dt,
             CASE WHEN f.key IS NOT NULL THEN f.orig_end_dt
                  ELSE c.end_dt END AS end_dt,
             CASE WHEN f.key IS NOT NULL THEN f.orig_ctype
                  ELSE c.ctype END AS ctype,
             CASE WHEN f.key IS NOT NULL THEN f.orig_value1
                  ELSE c.value1 END AS value1,
             CASE WHEN f.key IS NOT NULL THEN f.orig_value2
                  ELSE c.value2 END AS value2,
             CASE WHEN f.key IS NOT NULL THEN f.row_created
                  ELSE c.row_created END AS row_created
      FROM current c FULL OUTER JOIN first_chg f ON c.row_id = f.key
    ), ao AS (
      SELECT * FROM snap
      WHERE row_created <= TIMESTAMP '{_CRA_AS_OF}'
        AND event_type IS NOT NULL
    ),
    -- the as-of set is (trim error; offset_linear 0.25 click;
    -- two-point view) — apply in (type priority, id) order
    c_trim AS (
      SELECT e.event_id, CAST(e.ts AS TIMESTAMP) AS ts, e.event_type,
             CASE WHEN a.row_id IS NOT NULL
                       AND (e.value < a.value1 OR e.value > a.value2)
                  THEN NULL ELSE e.value END AS v
      FROM events e
      LEFT JOIN ao a
        ON a.ctype = 'trim' AND e.event_type = a.event_type
       AND CAST(e.ts AS TIMESTAMP) >= a.start_dt
       AND CAST(e.ts AS TIMESTAMP) < a.end_dt
    ), c_off AS (
      SELECT t.event_id, t.ts, t.event_type,
             CASE WHEN a.row_id IS NOT NULL AND t.v IS NOT NULL
                  THEN t.v + a.value1 ELSE t.v END AS v
      FROM c_trim t
      LEFT JOIN ao a
        ON a.ctype = 'offset_linear' AND t.event_type = a.event_type
       AND t.ts >= a.start_dt AND t.ts < a.end_dt
    ), c_two AS (
      SELECT t.event_id, t.ts, t.event_type,
             CASE WHEN a.row_id IS NOT NULL AND t.v IS NOT NULL
                  THEN t.v + a.value1 + (a.value2 - a.value1)
                       * date_diff('second', a.start_dt, t.ts)
                       / date_diff('second', a.start_dt, a.end_dt)
                  ELSE t.v END AS v
      FROM c_off t
      LEFT JOIN ao a
        ON a.ctype = 'offset_two_point' AND t.event_type = a.event_type
       AND t.ts >= a.start_dt AND t.ts < a.end_dt
    )
    SELECT event_id, event_type, ts, {R('v', 4)} AS corrected_value
    FROM c_two
"""


@register("corrected_read_at", oracle=_CRA_ORACLE)
def corrected_read_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrections reconstructed from their audit log at a past
    timestamp (operators/audit.rows_as_of), compiled into the ordered
    chain and applied to the fact (apply_corrections_at)."""
    from ..operators.audit import rows_as_of

    current, log = _cra_frames(spark)
    snap = rows_as_of(current, log, _CRA_AS_OF,
                      field_cols=_CRA_FIELDS)
    rows = sorted(
        (r for r in snap.collect() if r["event_type"] is not None),
        key=lambda r: r["row_id"],
    )
    corrections = [
        Correction(r["row_id"], r["event_type"], str(r["start_dt"]),
                   str(r["end_dt"]), r["ctype"], value1=r["value1"],
                   value2=r["value2"])
        for r in rows
    ]
    ev = _t(spark, sf_dir, "events")
    out = apply_corrections(
        ev, corrections, ts_col="event_type", dt_col="ts",
        value_col="value", out_col="v",
    ).select("event_id", "event_type", "ts", "v")
    return _round(out, {"v": 4}).withColumnRenamed("v", "corrected_value")


_CRA_FIELDS = ("event_type", "start_dt", "end_dt", "ctype", "value1",
               "value2")


def _cra_frames(spark: SparkSession):
    """The corrections current-table + audit-log fixture shared by
    corrected_read_at and daily_corrected_at."""
    current = _ldf(spark, [
        (1, "click", "2024-01-05 00:00:00", "2024-01-10 00:00:00",
         "offset_linear", 0.9, None, "2024-02-01 00:00:00"),
        (2, "purchase", "2024-01-10 00:00:00", "2024-01-20 00:00:00",
         "scale", 110.0, None, "2024-07-15 00:00:00"),
        (4, "view", "2024-01-03 00:00:00", "2024-01-08 00:00:00",
         "offset_two_point", 1.0, 3.0, "2024-01-20 00:00:00"),
    ], "row_id int, event_type string, start_dt string, end_dt string,"
       " ctype string, value1 double, value2 double, row_created string")
    log = _ldf(spark, [
        (101, "2024-07-01 00:00:00", 1, "click", "2024-01-05 00:00:00",
         "2024-01-10 00:00:00", "offset_linear", 0.25, None, 1,
         "2024-02-01 00:00:00"),
        (102, "2024-07-15 00:00:00", None, None, None, None, None,
         None, None, 2, "2024-07-15 00:00:00"),
        (103, "2024-08-01 00:00:00", 3, "error", "2024-01-01 00:00:00",
         "2024-02-01 00:00:00", "trim", 5.0, 45.0, None,
         "2024-01-15 00:00:00"),
        (104, "2024-05-01 00:00:00", 5, "signup", "2024-01-02 00:00:00",
         "2024-01-12 00:00:00", "drift_linear", 2.5, None, None,
         "2024-03-01 00:00:00"),
    ], "log_id int, action_timestamp string, orig_row_id int,"
       " orig_event_type string, orig_start_dt string,"
       " orig_end_dt string, orig_ctype string, orig_value1 double,"
       " orig_value2 double, new_row_id int, row_created string")
    for c in ("start_dt", "end_dt", "row_created"):
        current = current.withColumn(c, F.col(c).cast("timestamp"))
    for c in ("action_timestamp", "orig_start_dt", "orig_end_dt",
              "row_created"):
        log = log.withColumn(c, F.col(c).cast("timestamp"))
    return current, log


# ---------------------------------------------------------------------------
# RLS share_with maintenance (public.cleanup_share_with_role,
# patch_45.R:104-210; public.validate_share_with trigger,
# patch_11.R:415-424): role removal with sole-entry blocking, role
# replacement with distinct+sort, unknown-role validation.
# ---------------------------------------------------------------------------

_SHARE_ORACLE = """
    WITH tagged AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN ['yg_reader']
                  WHEN doc_id % 5 = 1 THEN ['admin', 'yg_reader']
                  WHEN doc_id % 5 = 2 THEN ['public_reader']
                  WHEN doc_id % 5 = 3 THEN ['admin', 'ghost_role']
                  ELSE ['yg_reader', 'public_reader', 'yg_reader'] END
               AS share_with
      FROM documents
    ), removal AS (
      SELECT doc_id, share_with,
             list_contains(share_with, 'yg_reader') AS matched,
             list_contains(share_with, 'yg_reader')
               AND len(list_filter(share_with,
                                   x -> x <> 'yg_reader')) = 0
               AS only_role
      FROM tagged
    )
    SELECT doc_id,
           array_to_string(share_with, ',') AS share_with,
           matched, only_role,
           CASE WHEN only_role THEN 'blocked'
                WHEN matched THEN 'updated'
                ELSE 'unchanged' END AS action,
           array_to_string(
             CASE WHEN matched AND NOT only_role
                  THEN list_filter(share_with, x -> x <> 'yg_reader')
                  ELSE share_with END, ',') AS removed_arr,
           array_to_string(
             CASE WHEN matched
                  THEN list_sort(list_distinct(list_transform(
                         share_with,
                         x -> CASE WHEN x = 'yg_reader'
                                   THEN 'public_reader' ELSE x END)))
                  ELSE share_with END, ',') AS replaced_arr,
           coalesce(array_to_string(
             list_sort(list_filter(list_distinct(share_with),
               x -> NOT list_contains(
                 ['admin', 'public_reader', 'yg_reader'], x))), ','), '')
             AS unknown_roles,
           len(list_filter(list_distinct(share_with),
               x -> NOT list_contains(
                 ['admin', 'public_reader', 'yg_reader'], x))) = 0
             AS share_with_valid
    FROM removal
"""


@register("share_with_maintenance", oracle=_SHARE_ORACLE)
def share_with_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Role removal (sole-entry blocked), role replacement, and
    unknown-role validation over synthesized share_with arrays
    (operators/maintenance.cleanup_share_with / validate_share_with).
    """
    from ..operators.maintenance import cleanup_share_with, validate_share_with

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id") % 5
    tagged = docs.select(
        "doc_id",
        F.when(k == 0, F.array(F.lit("yg_reader")))
        .when(k == 1, F.array(F.lit("admin"), F.lit("yg_reader")))
        .when(k == 2, F.array(F.lit("public_reader")))
        .when(k == 3, F.array(F.lit("admin"), F.lit("ghost_role")))
        .otherwise(F.array(F.lit("yg_reader"), F.lit("public_reader"),
                           F.lit("yg_reader"))).alias("share_with"),
    )
    removed = cleanup_share_with(tagged, "yg_reader")
    replaced = cleanup_share_with(
        tagged, "yg_reader", replacement="public_reader"
    ).select("doc_id", F.col("share_with_new").alias("__rep"))
    roles = _ldf(spark, [("admin",), ("public_reader",), ("yg_reader",)],
                 ["role_name"])
    out = (
        validate_share_with(
            removed.join(replaced, "doc_id"),
            roles,
        )
        .select(
            "doc_id",
            F.array_join("share_with", ",").alias("share_with"),
            "matched", "only_role", "action",
            F.array_join("share_with_new", ",").alias("removed_arr"),
            F.array_join("__rep", ",").alias("replaced_arr"),
            F.array_join("unknown_roles", ",").alias("unknown_roles"),
            "share_with_valid",
        )
    )
    return out


# ---------------------------------------------------------------------------
# §2.6/§2.11 adjust() end to end (R/adjust_functions.R:18-250,540-620):
# incoming point-wise QC codes -> run-length segments (prevailing until
# the next change) -> overlay onto the existing interval table (new
# wins, adjacent equal values merge) -> positional id recycling with
# delete actions. The overlay+recycle tail is shared verbatim with the
# segment_id_recycling oracle.
# ---------------------------------------------------------------------------

_ADJUST_SRC_SQL = """
    ex AS (
      SELECT * FROM (VALUES
        ('click', 1, TIMESTAMP '2024-01-03', TIMESTAMP '2024-01-08 12:00:00', 'A'),
        ('click', 2, TIMESTAMP '2024-01-08 12:00:00', TIMESTAMP '2024-01-09 06:00:00', 'B'),
        ('click', 3, TIMESTAMP '2024-01-09 06:00:00', TIMESTAMP '2024-01-11', 'A'),
        ('error', 4, TIMESTAMP '2024-01-05', TIMESTAMP '2024-01-09', 'C'),
        ('error', 5, TIMESTAMP '2024-01-09', TIMESTAMP '2024-01-12', 'B')
      ) AS t(series, segment_id, start_dt, end_dt, value)
    ), pts AS (
      SELECT event_type AS series, CAST(ts AS TIMESTAMP) AS t, event_id,
             CASE WHEN value < 10 THEN 'A'
                  WHEN value < 30 THEN 'B' ELSE 'C' END AS g
      FROM events
      -- one fetch batch's worth of points: the interval algebra
      -- operates on catalog-sized QC segment sets (a batch's runs),
      -- never a month of raw points (adjust_functions.R applies per
      -- getNewContinuous fetch)
      WHERE event_type IN ('click', 'error')
        AND ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-10'
    ), rle0 AS (
      SELECT *, CASE WHEN g IS NOT DISTINCT FROM
                       lag(g) OVER (PARTITION BY series ORDER BY t, event_id)
                THEN 0 ELSE 1 END AS new_run
      FROM pts
    ), rle1 AS (
      SELECT *, sum(new_run) OVER (
        PARTITION BY series ORDER BY t, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      FROM rle0
    ), seg AS (
      SELECT series, min(t) AS rs, max(t) AS re, min(g) AS value
      FROM rle1 GROUP BY series, run
    ), nw0 AS (
      SELECT *, lead(rs) OVER (PARTITION BY series ORDER BY rs) AS nxt
      FROM seg
    ), nw AS (
      SELECT series, rs AS start_dt, COALESCE(nxt, re) AS end_dt, value
      FROM nw0 WHERE COALESCE(nxt, re) > rs
    )
"""

_ADJUST_ORACLE = (
    "WITH " + _ADJUST_SRC_SQL
    + ", allseg AS" + _SEG_IDS_ORACLE.split(", allseg AS", 1)[1]
)


@register("qc_adjust_e2e", oracle=_ADJUST_ORACLE)
def qc_adjust_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """adjust() composition: rle_segments -> prevailing-interval
    conversion -> split_segments -> recycle_split_ids."""
    from ..operators.segments import (
        recycle_split_ids, rle_segments, split_segments,
    )

    ev = _t(spark, sf_dir, "events")
    pts = ev.where(
        F.col("event_type").isin("click", "error")
        & (F.col("ts") >= F.lit("2024-01-08").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-10").cast("timestamp"))
    ).select(
        F.col("event_type").alias("series"), "ts", "event_id",
        F.when(F.col("value") < 10, "A")
        .when(F.col("value") < 30, "B").otherwise("C").alias("g"),
    )
    runs = rle_segments(pts, keys=["series"], order_col=["ts", "event_id"],
                        value_col="g")
    w = Window.partitionBy("series").orderBy("start")
    new = (
        runs.withColumn("__nxt", F.lead("start").over(w))
        .withColumn("end_dt", F.coalesce("__nxt", "end"))
        .where(F.col("end_dt") > F.col("start"))
        .select("series", F.col("start").alias("start_dt"), "end_dt",
                F.col("g").alias("value"))
    )
    existing = _ldf(spark, [
        ("click", 1, "2024-01-03 00:00:00", "2024-01-08 12:00:00", "A"),
        ("click", 2, "2024-01-08 12:00:00", "2024-01-09 06:00:00", "B"),
        ("click", 3, "2024-01-09 06:00:00", "2024-01-11 00:00:00", "A"),
        ("error", 4, "2024-01-05 00:00:00", "2024-01-09 00:00:00", "C"),
        ("error", 5, "2024-01-09 00:00:00", "2024-01-12 00:00:00", "B"),
    ], "series string, segment_id int, start_dt string, end_dt string,"
       " value string")
    for c in ("start_dt", "end_dt"):
        existing = existing.withColumn(c, F.col(c).cast("timestamp"))
    final = split_segments(
        existing.drop("segment_id"), new, keys=["series"],
        start_col="start_dt", end_col="end_dt", value_col="value",
    )
    return recycle_split_ids(
        existing, final, keys=["series"], id_col="segment_id",
        start_col="start_dt", end_col="end_dt",
    )


# ---------------------------------------------------------------------------
# §2.12 measurements_calculated_daily_corrected_at (patch_55.R:3282-3600):
# the daily table recomputed from the point-in-time CORRECTED fact —
# corrections reconstructed from their audit log at p_as_of, then the
# exact same refresh ladder as the live table (the oracle reuses
# _refresh_tail_sql, pinning all three daily queries to one definition).
# ---------------------------------------------------------------------------

_DAILY_CORR_AT_ORACLE = (
    _CRA_ORACLE.split("SELECT event_id, event_type, ts,")[0]
    + f""", daily AS (
      SELECT event_type AS priority, CAST(ts AS DATE) AS date,
             {DSUM('v')} / count(v) AS value
      FROM c_two GROUP BY 1, 2 HAVING count(v) > 0"""
    + _refresh_tail_sql(
        """SELECT event_type AS priority,
             max(CAST(ts AS DATE)) AS last_d
      FROM events GROUP BY 1"""
    )
)


@register("daily_corrected_at", oracle=_DAILY_CORR_AT_ORACLE)
def daily_corrected_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of corrections (operators/audit.rows_as_of) -> corrected
    fact -> full daily refresh ladder (operators/refresh)."""
    from ..operators.audit import rows_as_of
    from ..operators.refresh import refresh_calculated_daily

    current, log = _cra_frames(spark)
    snap = rows_as_of(current, log, _CRA_AS_OF, field_cols=_CRA_FIELDS)
    rows = sorted(
        (r for r in snap.collect() if r["event_type"] is not None),
        key=lambda r: r["row_id"],
    )
    corrections = [
        Correction(r["row_id"], r["event_type"], str(r["start_dt"]),
                   str(r["end_dt"]), r["ctype"], value1=r["value1"],
                   value2=r["value2"])
        for r in rows
    ]
    raw = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("priority"),
        F.col("ts"), F.col("value"),
    )
    out = refresh_calculated_daily(
        raw, corrections, series_col="priority", dt_col="ts",
        value_col="value", agg_type="mean", today="2026-01-15",
    )
    return _round(
        out,
        {"value": 4, "percent_historic_range": 4, "max": 4, "min": 4,
         "mean": 4, "q10": 4, "q25": 4, "q50": 4, "q75": 4, "q90": 4},
    )


# ---------------------------------------------------------------------------
# Instruments metadata validation (inst/patches/patch_44.R): the
# sensor-current-assignment uniqueness trigger (:1290-1342, with the
# 'BLANK' exemption), the connection-signal/timeseries consistency
# trigger (:552-642), and the deferred deployment-overlap constraint
# (:716-755) — each replayed set-wise over a synthetic instruments
# schema derived from the TPC-H keys.
# ---------------------------------------------------------------------------

_SENSOR_ASSIGN_ORACLE = """
    WITH ev AS (
      SELECT o_orderkey AS event_id, o_custkey % 120 AS instrument_id,
             CAST(o_orderdate AS TIMESTAMP) AS obs_datetime
      FROM orders WHERE o_orderkey % 3 = 0
    ), sl AS (
      SELECT o_orderkey AS event_id,
             1 + (o_orderkey // 3) % 4 AS slot_number,
             CASE WHEN o_orderkey % 13 = 0 THEN NULL
                  ELSE 1 + (o_orderkey * 7) % 300 END AS sensor_id
      FROM orders WHERE o_orderkey % 3 = 0
    ), sn AS (
      SELECT p_partkey AS sensor_id,
             CASE WHEN p_partkey % 29 = 0 THEN '  Blank '
                  ELSE 'SN-' || CAST(p_partkey AS VARCHAR)
             END AS sensor_serial
      FROM part WHERE p_partkey <= 300
    ), cur AS (
      SELECT instrument_id, slot_number, sensor_id FROM (
        SELECT ev.instrument_id, sl.slot_number, sl.sensor_id,
               row_number() OVER (
                 PARTITION BY ev.instrument_id, sl.slot_number
                 ORDER BY ev.obs_datetime DESC, ev.event_id DESC) AS rn
        FROM ev JOIN sl ON ev.event_id = sl.event_id
      ) WHERE rn = 1
    ), asg AS (
      SELECT c.sensor_id, sn.sensor_serial, c.instrument_id, c.slot_number
      FROM cur c LEFT JOIN sn ON c.sensor_id = sn.sensor_id
      WHERE c.sensor_id IS NOT NULL
    )
    SELECT sensor_id, sensor_serial,
           CAST(count(*) AS BIGINT) AS n_assignments,
           string_agg('instrument ' || CAST(instrument_id AS VARCHAR)
                      || ' slot ' || CAST(slot_number AS VARCHAR), ', '
                      ORDER BY instrument_id, slot_number)
             AS assignment_summary,
           upper(trim(coalesce(sensor_serial, ''))) = 'BLANK' AS exempt,
           count(*) > 1
             AND NOT upper(trim(coalesce(sensor_serial, ''))) = 'BLANK'
             AS violation
    FROM asg
    GROUP BY sensor_id, sensor_serial
"""


@register("sensor_assignment_validation", oracle=_SENSOR_ASSIGN_ORACLE)
def sensor_assignment_validation_q(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """patch_44.R:1290-1342 assert_sensor_current_assignment_is_unique
    for every sensor at once: latest event per (instrument, slot) via
    the DISTINCT ON replay, then per-sensor assignment counts with the
    trigger's string_agg diagnostic; ' Blank ' serials exempt."""
    from ..operators.instruments import sensor_assignment_validation

    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 3 == 0)
    k = F.col("o_orderkey")
    events = o.select(
        k.alias("event_id"),
        (F.col("o_custkey") % 120).alias("instrument_id"),
        (F.col("o_custkey") % 40).alias("observer"),
        F.col("o_orderdate").cast("timestamp").alias("obs_datetime"),
    )
    slots = o.select(
        k.alias("event_id"),
        (F.lit(1) + F.floor(k / 3) % 4).alias("slot_number"),
        F.when(k % 13 != 0, F.lit(1) + (k * 7) % 300).alias("sensor_id"),
        F.when(k % 13 == 0, F.lit("sensor removed")).alias("note"),
    )
    p = _t(spark, sf_dir, "part").where(F.col("p_partkey") <= 300)
    sensors = p.select(
        F.col("p_partkey").alias("sensor_id"),
        F.when(F.col("p_partkey") % 29 == 0, F.lit("  Blank "))
        .otherwise(F.concat(F.lit("SN-"),
                            F.col("p_partkey").cast("string")))
        .alias("sensor_serial"),
        (F.col("p_partkey") % 6).alias("sensor_type"),
    )
    return sensor_assignment_validation(events, slots, sensors)


def _instruments_fixture(spark, sf_dir):
    """Shared synthetic instruments schema (deployments / timeseries /
    connections / signals) keyed off dense customer keys so reference
    existence is SF-proportional: custkey %3==0 -> deployment AND
    timeseries, %3==1 -> connection (instrument side = ck-1, every
    11th points at a nonexistent deployment), %3==2 -> signal
    (connection = sk-1, every 13th unknown; timeseries normally sk-2 =
    the connection's own deployment key, with NULL / unknown / shared
    branches to exercise every trigger arm)."""
    c = _t(spark, sf_dir, "customer")
    m = F.col("c_custkey")
    d0 = F.lit("2020-01-01").cast("date")
    dep = c.where(m % 3 == 0).select(
        m.alias("metadata_id"),
        (m % 10).alias("location_id"),
        F.when(m % 4 != 0, m % 5).alias("sub_location_id"),
        F.when(m % 6 == 0, m % 7).alias("z_id"),
        F.when(m % 19 != 0, F.lit(1) + m % 400).alias("instrument_id"),
        F.date_add(d0, (m % 100).cast("int")).cast("timestamp")
        .alias("start_datetime"),
        F.when(m % 9 != 0,
               F.date_add(d0, (m % 100 + 400).cast("int"))
               .cast("timestamp")).alias("end_datetime"),
    )
    ts = c.where(m % 3 == 0).select(
        m.alias("timeseries_id"),
        (m % 40).alias("parameter_id"),
        F.when(m % 8 == 0, m % 10 + 1).otherwise(m % 10)
        .alias("location_id"),
        F.when(m % 4 == 0, F.lit(None).cast("bigint"))
        .when(m % 13 == 0, m % 5 + 1).otherwise(m % 5)
        .alias("sub_location_id"),
        F.when(m % 6 == 0,
               F.when(m % 12 == 0, m % 7).otherwise(m % 7 + 1))
        .alias("z_id"),
    )
    conn = c.where(m % 3 == 1).select(
        m.alias("connection_id"),
        F.when(m % 11 == 0, m).otherwise(m - 1)
        .alias("instrument_metadata_id"),
        F.when(m % 7 == 0, m - 1).otherwise(m - 31)
        .alias("logger_metadata_id"),
        (m % 5).alias("protocol_id"),
        F.date_add(d0, (180 + m % 100).cast("int")).cast("timestamp")
        .alias("start_datetime"),
        F.when(m % 5 != 0,
               F.date_add(d0, (m % 100 + 270).cast("int"))
               .cast("timestamp")).alias("end_datetime"),
    )
    sig = c.where(m % 3 == 2).select(
        m.alias("connection_signal_id"),
        F.when(m % 13 == 0, m).otherwise(m - 1).alias("connection_id"),
        F.when(m % 7 == 0, F.lit(None).cast("bigint"))
        .when(m % 17 == 0, 3 * m + 1)
        .when(m % 10 == 7, m - 14)
        .otherwise(m - 2).alias("timeseries_id"),
        F.when(m % 6 == 0, F.lit(None).cast("bigint"))
        .when(m % 10 == 3, (m - 2) % 40 + 1)
        .otherwise((m - 2) % 40).alias("parameter_id"),
    )
    return dep, ts, conn, sig


_INSTR_FIXTURE_SQL = """
    dep AS (
      SELECT c_custkey AS metadata_id,
             c_custkey % 10 AS location_id,
             CASE WHEN c_custkey % 4 = 0 THEN NULL
                  ELSE c_custkey % 5 END AS sub_location_id,
             CASE WHEN c_custkey % 6 = 0 THEN c_custkey % 7 END AS z_id,
             CASE WHEN c_custkey % 19 = 0 THEN NULL
                  ELSE 1 + c_custkey % 400 END AS instrument_id,
             CAST(DATE '2020-01-01' + (c_custkey % 100) * INTERVAL 1 DAY
                  AS TIMESTAMP) AS start_datetime,
             CASE WHEN c_custkey % 9 = 0 THEN NULL
                  ELSE CAST(DATE '2020-01-01'
                            + (c_custkey % 100 + 400) * INTERVAL 1 DAY
                            AS TIMESTAMP) END AS end_datetime
      FROM customer WHERE c_custkey % 3 = 0
    ), ts AS (
      SELECT c_custkey AS timeseries_id,
             c_custkey % 40 AS parameter_id,
             CASE WHEN c_custkey % 8 = 0 THEN c_custkey % 10 + 1
                  ELSE c_custkey % 10 END AS location_id,
             CASE WHEN c_custkey % 4 = 0 THEN NULL
                  WHEN c_custkey % 13 = 0 THEN c_custkey % 5 + 1
                  ELSE c_custkey % 5 END AS sub_location_id,
             CASE WHEN c_custkey % 6 = 0 THEN
                  CASE WHEN c_custkey % 12 = 0 THEN c_custkey % 7
                       ELSE c_custkey % 7 + 1 END
             END AS z_id
      FROM customer WHERE c_custkey % 3 = 0
    ), conn AS (
      SELECT c_custkey AS connection_id,
             CASE WHEN c_custkey % 11 = 0 THEN c_custkey
                  ELSE c_custkey - 1 END AS instrument_metadata_id,
             CASE WHEN c_custkey % 7 = 0 THEN c_custkey - 1
                  ELSE c_custkey - 31 END AS logger_metadata_id,
             c_custkey % 5 AS protocol_id,
             CAST(DATE '2020-01-01'
                  + (180 + c_custkey % 100) * INTERVAL 1 DAY
                  AS TIMESTAMP) AS start_datetime,
             CASE WHEN c_custkey % 5 = 0 THEN NULL
                  ELSE CAST(DATE '2020-01-01'
                            + (c_custkey % 100 + 270) * INTERVAL 1 DAY
                            AS TIMESTAMP) END AS end_datetime
      FROM customer WHERE c_custkey % 3 = 1
    ), sig AS (
      SELECT c_custkey AS connection_signal_id,
             CASE WHEN c_custkey % 13 = 0 THEN c_custkey
                  ELSE c_custkey - 1 END AS connection_id,
             CASE WHEN c_custkey % 7 = 0 THEN NULL
                  WHEN c_custkey % 17 = 0 THEN 3 * c_custkey + 1
                  WHEN c_custkey % 10 = 7 THEN c_custkey - 14
                  ELSE c_custkey - 2 END AS timeseries_id,
             CASE WHEN c_custkey % 6 = 0 THEN NULL
                  WHEN c_custkey % 10 = 3 THEN (c_custkey - 2) % 40 + 1
                  ELSE (c_custkey - 2) % 40 END AS parameter_id
      FROM customer WHERE c_custkey % 3 = 2
    )
"""


_CONN_SIGNAL_ORACLE = "WITH " + _INSTR_FIXTURE_SQL + """
    , j AS (
      SELECT s.connection_signal_id, s.connection_id, s.timeseries_id,
             s.parameter_id,
             c.connection_id IS NOT NULL AS has_con,
             c.start_datetime AS cs,
             coalesce(c.end_datetime, TIMESTAMP '9999-01-01') AS ce,
             d.metadata_id IS NOT NULL AS has_dep,
             d.location_id AS d_loc, d.sub_location_id AS d_sub,
             d.z_id AS d_z,
             t.timeseries_id IS NOT NULL AS has_ts,
             t.parameter_id AS t_param, t.location_id AS t_loc,
             t.sub_location_id AS t_sub, t.z_id AS t_z
      FROM sig s
      LEFT JOIN conn c ON c.connection_id = s.connection_id
      LEFT JOIN dep d ON d.metadata_id = c.instrument_metadata_id
      LEFT JOIN ts t ON t.timeseries_id = s.timeseries_id
    ), linked AS (
      SELECT DISTINCT j.connection_signal_id
      FROM j
      JOIN sig o ON o.timeseries_id = j.timeseries_id
              AND o.connection_signal_id <> j.connection_signal_id
      JOIN conn oc ON oc.connection_id = o.connection_id
      WHERE j.cs < coalesce(oc.end_datetime, TIMESTAMP '9999-01-01')
        AND j.ce > oc.start_datetime
    )
    SELECT j.connection_signal_id, j.connection_id, j.timeseries_id,
           j.parameter_id,
           CASE WHEN j.timeseries_id IS NULL THEN NULL
                WHEN NOT has_con THEN 'unknown_connection'
                WHEN NOT has_dep THEN 'unknown_deployment'
                WHEN NOT has_ts THEN 'unknown_timeseries'
                WHEN t_loc <> d_loc OR t_sub IS DISTINCT FROM d_sub
                  THEN 'location_mismatch'
                WHEN d_z IS NOT NULL AND t_z IS DISTINCT FROM d_z
                  THEN 'z_mismatch'
                WHEN j.parameter_id IS NOT NULL
                     AND t_param IS DISTINCT FROM j.parameter_id
                  THEN 'parameter_mismatch'
                WHEN l.connection_signal_id IS NOT NULL
                  THEN 'timeseries_already_linked'
           END AS reject_reason
    FROM j LEFT JOIN linked l
      ON l.connection_signal_id = j.connection_signal_id
"""


@register("instrument_connection_signal_check", oracle=_CONN_SIGNAL_ORACLE)
def instrument_connection_signal_check(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """patch_44.R:552-642 check_instrument_connection_signal_timeseries
    set-wise: every connection-signal row labelled with the first
    failing trigger check (unknown refs, location/z/parameter
    consistency, overlapping duplicate timeseries link)."""
    from ..operators.instruments import connection_signal_validation

    dep, ts, conn, sig = _instruments_fixture(spark, sf_dir)
    return connection_signal_validation(sig, conn, dep, ts)


_DEPLOY_OVERLAP_ORACLE = "WITH " + _INSTR_FIXTURE_SQL + """
    , links AS (
      SELECT c_custkey - 1 AS metadata_id,
             (c_custkey - 1) % 90 AS timeseries_id
      FROM customer WHERE c_custkey % 3 = 1
    ), ld AS (
      SELECT l.timeseries_id, l.metadata_id, d.start_datetime AS s,
             coalesce(d.end_datetime, TIMESTAMP '9999-01-01') AS e
      FROM links l JOIN dep d ON d.metadata_id = l.metadata_id
    )
    SELECT DISTINCT a.timeseries_id, a.metadata_id AS metadata_a,
           b.metadata_id AS metadata_b
    FROM ld a JOIN ld b
      ON a.timeseries_id = b.timeseries_id
     AND a.metadata_id < b.metadata_id
     AND a.s < b.e AND a.e > b.s
"""


@register("instrument_deployment_overlap", oracle=_DEPLOY_OVERLAP_ORACLE)
def instrument_deployment_overlap(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """patch_44.R:716-755 deferred tstzrange && constraint replay: the
    (timeseries, deployment-pair) conflicts where one timeseries is
    linked to two deployments with overlapping periods."""
    from ..operators.instruments import deployment_timeseries_overlap

    dep, _, _, _ = _instruments_fixture(spark, sf_dir)
    c = _t(spark, sf_dir, "customer")
    m = F.col("c_custkey")
    links = c.where(m % 3 == 1).select(
        (m - 1).alias("metadata_id"),
        ((m - 1) % 90).alias("timeseries_id"),
    )
    return deployment_timeseries_overlap(links, dep)


_ACQ_DEP_ORACLE = "WITH " + _INSTR_FIXTURE_SQL + """
    , instr AS (
      SELECT p_partkey AS instrument_id,
             CASE WHEN p_partkey % 17 = 0 THEN NULL
                  ELSE p_partkey % 3 <> 1 END AS can_be_logger
      FROM part WHERE p_partkey <= 400
    ), prot AS (
      SELECT * FROM (VALUES (0, 'internal'), (1, 'sdi12'), (2, 'modbus'),
                            (3, 'analog'), (4, 'rs232'))
        AS t(protocol_id, family_code)
    ), cj AS (
      SELECT c.instrument_metadata_id, c.logger_metadata_id,
             c.start_datetime AS c_s,
             coalesce(c.end_datetime, TIMESTAMP '9999-01-01') AS c_e,
             i.instrument_id AS i_inst, i.location_id AS i_loc,
             i.start_datetime AS i_s,
             coalesce(i.end_datetime, TIMESTAMP '9999-01-01') AS i_e,
             l.instrument_id AS l_inst, l.location_id AS l_loc,
             l.start_datetime AS l_s,
             coalesce(l.end_datetime, TIMESTAMP '9999-01-01') AS l_e,
             p.family_code, li.can_be_logger
      FROM conn c
      LEFT JOIN dep i ON i.metadata_id = c.instrument_metadata_id
      LEFT JOIN dep l ON l.metadata_id = c.logger_metadata_id
      LEFT JOIN prot p ON p.protocol_id = c.protocol_id
      LEFT JOIN instr li ON li.instrument_id = l.instrument_id
    ), bad AS (
      SELECT * FROM cj WHERE
        i_inst IS NULL OR l_inst IS NULL
        OR can_be_logger IS DISTINCT FROM TRUE
        OR (family_code = 'internal'
            AND instrument_metadata_id <> logger_metadata_id)
        OR (family_code <> 'internal'
            AND instrument_metadata_id = logger_metadata_id)
        OR i_loc <> l_loc
        OR c_s < i_s OR c_s < l_s
        OR c_e > i_e OR c_e > l_e
    ), f1 AS (
      SELECT DISTINCT metadata_id FROM (
        SELECT instrument_metadata_id AS metadata_id FROM bad
        UNION ALL
        SELECT logger_metadata_id AS metadata_id FROM bad
      ) WHERE metadata_id IS NOT NULL
    ), f2 AS (
      SELECT DISTINCT d.metadata_id
      FROM sig s
      JOIN conn c ON c.connection_id = s.connection_id
      JOIN ts t ON t.timeseries_id = s.timeseries_id
      JOIN dep d ON d.metadata_id = c.instrument_metadata_id
      WHERE s.timeseries_id IS NOT NULL AND (
        t.location_id <> d.location_id
        OR t.sub_location_id IS DISTINCT FROM d.sub_location_id
        OR (d.z_id IS NOT NULL AND t.z_id IS DISTINCT FROM d.z_id)
        OR (s.parameter_id IS NOT NULL
            AND t.parameter_id IS DISTINCT FROM s.parameter_id))
    )
    SELECT d.metadata_id,
           f1.metadata_id IS NOT NULL AS invalid_connection_metadata,
           f2.metadata_id IS NOT NULL AS invalid_signal_mapping,
           NOT (f1.metadata_id IS NOT NULL OR f2.metadata_id IS NOT NULL)
             AS valid
    FROM dep d
    LEFT JOIN f1 ON f1.metadata_id = d.metadata_id
    LEFT JOIN f2 ON f2.metadata_id = d.metadata_id
"""


@register("instrument_acquisition_validation", oracle=_ACQ_DEP_ORACLE)
def instrument_acquisition_validation(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """patch_44.R:645-714
    check_locations_metadata_instruments_acquisition_dependents for
    every deployment at once: probe 1 flags deployments whose
    dependent connections violate the instrument/logger/protocol/
    period rules; probe 2 flags deployments whose signal->timeseries
    mappings disagree on location / sub-location / z / parameter."""
    from ..operators.instruments import deployment_acquisition_validation

    dep, ts, conn, sig = _instruments_fixture(spark, sf_dir)
    p = _t(spark, sf_dir, "part").where(F.col("p_partkey") <= 400)
    instruments = p.select(
        F.col("p_partkey").alias("instrument_id"),
        F.when(F.col("p_partkey") % 17 != 0, F.col("p_partkey") % 3 != 1)
        .alias("can_be_logger"),
    )
    protocols = _ldf(
        spark,
        [(0, "internal"), (1, "sdi12"), (2, "modbus"), (3, "analog"),
         (4, "rs232")],
        "protocol_id bigint, family_code string",
    )
    return deployment_acquisition_validation(
        dep, conn, instruments, protocols, sig, ts)


# ---------------------------------------------------------------------------
# Data-sharing agreements + CSW layer (inst/patches/patch_32.R): the
# agreement-overlap constraint trigger (:259-289), the
# default-agreement document-type trigger (:304-330), and the
# get_csw_layer() catalog read view (:1415-1520).
# ---------------------------------------------------------------------------

_SHARING_OVERLAP_ORACLE = """
    WITH ag AS (
      SELECT o_orderkey AS timeseries_data_sharing_agreement_id,
             o_custkey % 150 AS timeseries_id,
             (o_orderkey * 11) % 500 AS data_sharing_agreement_id,
             CAST(o_orderdate AS TIMESTAMP) AS start_dt,
             CASE WHEN o_orderkey % 6 = 0 THEN NULL
                  ELSE CAST(CAST(o_orderdate AS DATE) + 120 AS TIMESTAMP)
             END AS end_dt
      FROM orders WHERE o_orderkey % 4 = 1
    )
    SELECT a.timeseries_data_sharing_agreement_id, a.timeseries_id,
           a.data_sharing_agreement_id, a.start_dt, a.end_dt,
           EXISTS (
             SELECT 1 FROM ag b
             WHERE b.timeseries_id = a.timeseries_id
               AND b.timeseries_data_sharing_agreement_id
                   <> a.timeseries_data_sharing_agreement_id
               AND a.start_dt < coalesce(b.end_dt, TIMESTAMP '9999-01-01')
               AND coalesce(a.end_dt, TIMESTAMP '9999-01-01') > b.start_dt
           ) AS violation
    FROM ag a
"""


@register("sharing_agreement_overlap_check",
          oracle=_SHARING_OVERLAP_ORACLE)
def sharing_agreement_overlap_check(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """patch_32.R:259-289 check_timeseries_data_sharing_agreements_
    overlap replayed for the whole table: both members of an
    overlapping same-timeseries pair flag."""
    from ..operators.sharing import sharing_agreement_overlap_validation

    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 4 == 1)
    k = F.col("o_orderkey")
    ag = o.select(
        k.alias("timeseries_data_sharing_agreement_id"),
        (F.col("o_custkey") % 150).alias("timeseries_id"),
        ((k * 11) % 500).alias("data_sharing_agreement_id"),
        F.col("o_orderdate").cast("timestamp").alias("start_dt"),
        F.when(k % 6 != 0,
               F.date_add(F.col("o_orderdate"), 120).cast("timestamp"))
        .alias("end_dt"),
    )
    return sharing_agreement_overlap_validation(ag)


_DEFAULT_AGREEMENT_ORACLE = """
    WITH ts AS (
      SELECT c_custkey AS timeseries_id,
             CASE WHEN c_custkey % 5 = 0 THEN NULL
                  ELSE (c_custkey * 3) % 520
             END AS default_data_sharing_agreement_id
      FROM customer
    ), doc AS (
      SELECT p_partkey AS document_id, p_partkey % 8 AS document_type_id
      FROM part WHERE p_partkey <= 500
    ), ok AS (
      SELECT document_id FROM doc WHERE document_type_id = 3
    )
    SELECT t.timeseries_id, t.default_data_sharing_agreement_id,
           CASE WHEN t.default_data_sharing_agreement_id IS NOT NULL
                     AND o.document_id IS NULL
                THEN 'invalid_document_type' END AS reject_reason
    FROM ts t
    LEFT JOIN ok o ON o.document_id = t.default_data_sharing_agreement_id
"""


@register("default_sharing_agreement_check",
          oracle=_DEFAULT_AGREEMENT_ORACLE)
def default_sharing_agreement_check(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """patch_32.R:304-330 files.check_default_data_sharing_agreement:
    non-NULL default agreement ids must reference a document typed
    'data sharing agreement' (type_id 3 in the fixture's type table)."""
    from ..operators.sharing import default_agreement_type_validation

    c = _t(spark, sf_dir, "customer")
    m = F.col("c_custkey")
    ts = c.select(
        m.alias("timeseries_id"),
        F.when(m % 5 != 0, (m * 3) % 520)
        .alias("default_data_sharing_agreement_id"),
    )
    p = _t(spark, sf_dir, "part").where(F.col("p_partkey") <= 500)
    docs = p.select(
        F.col("p_partkey").alias("document_id"),
        (F.col("p_partkey") % 8).alias("document_type_id"),
    )
    types = _ldf(
        spark,
        [(i, "data sharing agreement" if i == 3 else f"report-{i}")
         for i in range(8)],
        "document_type_id bigint, type string",
    )
    return default_agreement_type_validation(ts, docs, types)


_CSW_LAYER_ORACLE = """
    WITH loc AS (
      SELECT c_custkey AS location_id,
             'LOC-' || CAST(c_custkey AS VARCHAR) AS location_code,
             'Station ' || CAST(c_custkey AS VARCHAR) AS name,
             'Poste ' || CAST(c_custkey AS VARCHAR) AS name_fr,
             (c_custkey % 120) - 60 + CAST(0.5 AS DOUBLE) AS latitude,
             (c_custkey % 300) - 150 + CAST(0.25 AS DOUBLE) AS longitude,
             1 + c_custkey % 20 AS location_type,
             c_custkey % 7 <> 0 AS jurisdictional_relevance
      FROM customer WHERE c_custkey % 2 = 0
    ), lt AS (
      SELECT type_id, 'type-' || CAST(type_id AS VARCHAR) AS type
      FROM (SELECT unnest(generate_series(1, 20)) AS type_id)
    ), tser AS (
      SELECT c_custkey AS timeseries_id,
             c_custkey - 1 AS location_id,
             CASE WHEN c_custkey % 9 = 0 THEN 999
                  WHEN c_custkey % 8 = 1 THEN 1150
                  WHEN c_custkey % 8 = 3 THEN 1165
                  WHEN c_custkey % 8 = 5 THEN 21
                  ELSE 1220 END AS parameter_id,
             CASE WHEN c_custkey % 3 = 0 THEN NULL
                  ELSE c_custkey % 6 END AS sub_location_id
      FROM customer WHERE c_custkey % 2 = 1
    ), subl AS (
      SELECT sub_location_id,
             'Sub ' || CAST(sub_location_id AS VARCHAR)
               AS sub_location_name,
             'Sous ' || CAST(sub_location_id AS VARCHAR)
               AS sub_location_name_fr
      FROM (SELECT unnest(generate_series(0, 5)) AS sub_location_id)
    ), par AS (
      SELECT * FROM (VALUES
        (1150, 'water level', 'niveau d''eau', 'm'),
        (1165, 'discharge', 'debit', 'm3/s'),
        (21, 'air temperature', 'temperature de l''air', 'C'),
        (1220, 'snow depth', 'profondeur de neige', 'cm'),
        (999, 'turbidity', 'turbidite', 'NTU'))
        AS t(parameter_id, param_name, param_name_fr, param_units)
    ), daily AS (
      SELECT (o_custkey % 750) * 2 + 1 AS timeseries_id,
             CAST(o_orderdate AS DATE) AS date,
             CAST(o_orderkey % 1000 AS DOUBLE) / 10 AS value,
             CAST(o_orderkey % 200 AS DOUBLE) / 2
               AS percent_historic_range,
             CAST(o_orderkey % 1000 AS DOUBLE) / 10 - 1 AS mean,
             CAST(o_orderkey % 1000 AS DOUBLE) / 10 - 5 AS min,
             CAST(o_orderkey % 1000 AS DOUBLE) / 10 + 5 AS max,
             o_orderkey % 40 AS doy_count
      FROM orders
    ), dr AS (
      SELECT 'LOC-' || CAST(p_partkey AS VARCHAR) AS feature_name,
             CAST(p_partkey AS DOUBLE) / 4 AS drainage_area_km2
      FROM part WHERE p_partkey % 3 = 0
    ), cdat AS (
      SELECT c_custkey AS location_id,
             CAST(c_custkey % 9 AS DOUBLE) / 4 AS conversion_m,
             'datum-en-' || CAST(c_custkey % 5 AS VARCHAR)
               AS datum_name_en,
             'datum-fr-' || CAST(c_custkey % 5 AS VARCHAR)
               AS datum_name_fr
      FROM customer WHERE c_custkey % 10 = 0 AND c_custkey % 20 = 0
    ), own AS (
      SELECT c_custkey AS timeseries_id, c_custkey % 12 AS organization_id,
             CAST(DATE '2015-01-01' + ((c_custkey * 13) % 3000)
                  * INTERVAL 1 DAY AS TIMESTAMP) AS start_dt,
             CAST(DATE '2015-01-01' + ((c_custkey * 13) % 3000 + 200)
                  * INTERVAL 1 DAY AS TIMESTAMP) AS end_dt
      FROM customer WHERE c_custkey % 2 = 1
      UNION ALL
      SELECT c_custkey, (c_custkey + 5) % 12,
             CAST(DATE '2015-01-01'
                  + ((c_custkey * 13) % 3000 + c_custkey % 7 - 3)
                  * INTERVAL 1 DAY AS TIMESTAMP),
             CAST(DATE '2015-01-01'
                  + ((c_custkey * 13) % 3000 + c_custkey % 7 + 97)
                  * INTERVAL 1 DAY AS TIMESTAMP)
      FROM customer WHERE c_custkey % 4 = 1
    ), own1 AS (
      SELECT location_id,
             'Org-' || CAST(organization_id AS VARCHAR) AS owner_name,
             'OrgFR-' || CAST(organization_id AS VARCHAR) AS owner_name_fr
      FROM (
        SELECT t.location_id, o.organization_id,
               row_number() OVER (
                 PARTITION BY t.location_id
                 ORDER BY o.start_dt DESC, o.end_dt DESC,
                          o.organization_id DESC) AS rn
        FROM own o JOIN tser t ON t.timeseries_id = o.timeseries_id
      ) WHERE rn = 1
    )
    SELECT l.location_code AS location,
           CASE WHEN s.sub_location_name IS NOT NULL
                THEN l.name || ' - ' || s.sub_location_name
                ELSE l.name END AS station_name,
           CASE WHEN s.sub_location_name_fr IS NOT NULL
                THEN l.name_fr || ' - ' || s.sub_location_name_fr
                ELSE l.name_fr END AS station_name_fr,
           l.latitude, l.longitude, lt.type,
           ow.owner_name, ow.owner_name_fr,
           t.timeseries_id, t.parameter_id, p.param_name, p.param_name_fr,
           p.param_units, d.date,
           CASE WHEN p.param_name = 'water level'
                THEN d.value + coalesce(c.conversion_m, CAST(0 AS DOUBLE))
                ELSE d.value END AS value,
           d.percent_historic_range,
           CASE WHEN p.param_name = 'water level'
                THEN d.mean + coalesce(c.conversion_m, CAST(0 AS DOUBLE))
                ELSE d.mean END AS mean,
           CASE WHEN p.param_name = 'water level'
                THEN d.min + coalesce(c.conversion_m, CAST(0 AS DOUBLE))
                ELSE d.min END AS min,
           CASE WHEN p.param_name = 'water level'
                THEN d.max + coalesce(c.conversion_m, CAST(0 AS DOUBLE))
                ELSE d.max END AS max,
           d.doy_count, dr.drainage_area_km2,
           CASE WHEN p.param_name = 'water level'
                THEN c.datum_name_en END AS datum_name_en,
           CASE WHEN p.param_name = 'water level'
                THEN c.datum_name_fr END AS datum_name_fr
    FROM daily d
    JOIN tser t ON t.timeseries_id = d.timeseries_id
    JOIN loc l ON l.location_id = t.location_id
    JOIN lt ON lt.type_id = l.location_type
    LEFT JOIN subl s ON s.sub_location_id = t.sub_location_id
    JOIN par p ON p.parameter_id = t.parameter_id
    LEFT JOIN dr ON dr.feature_name = l.location_code
    LEFT JOIN cdat c ON c.location_id = l.location_id
    LEFT JOIN own1 ow ON ow.location_id = l.location_id
    WHERE l.jurisdictional_relevance
      AND lt.type_id IN (1, 2, 16)
      AND t.parameter_id IN (1150, 1165, 21, 1220)
      AND d.date >= DATE '1998-08-02' - 30
"""


@register("csw_layer_read", oracle=_CSW_LAYER_ORACLE)
def csw_layer_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """patch_32.R:1415-1520 public.get_csw_layer(): the CSW catalog
    view — trailing-30-day corrected daily values joined to station /
    parameter / latest-owner / drainage / datum metadata, with the
    water-level datum offset applied to value/mean/min/max."""
    from ..operators.sharing import csw_layer

    c = _t(spark, sf_dir, "customer")
    m = F.col("c_custkey")
    locations = c.where(m % 2 == 0).select(
        m.alias("location_id"),
        F.concat(F.lit("LOC-"), m.cast("string")).alias("location_code"),
        F.concat(F.lit("Station "), m.cast("string")).alias("name"),
        F.concat(F.lit("Poste "), m.cast("string")).alias("name_fr"),
        ((m % 120) - 60 + F.lit(0.5)).alias("latitude"),
        ((m % 300) - 150 + F.lit(0.25)).alias("longitude"),
        (F.lit(1) + m % 20).alias("location_type"),
        (m % 7 != 0).alias("jurisdictional_relevance"),
    )
    location_types = _ldf(
        spark, [(i, f"type-{i}") for i in range(1, 21)],
        "type_id bigint, type string")
    timeseries = c.where(m % 2 == 1).select(
        m.alias("timeseries_id"),
        (m - 1).alias("location_id"),
        F.when(m % 9 == 0, 999).when(m % 8 == 1, 1150)
        .when(m % 8 == 3, 1165).when(m % 8 == 5, 21)
        .otherwise(1220).alias("parameter_id"),
        F.when(m % 3 != 0, m % 6).alias("sub_location_id"),
    )
    sub_locations = _ldf(
        spark, [(i, f"Sub {i}", f"Sous {i}") for i in range(6)],
        "sub_location_id bigint, sub_location_name string, "
        "sub_location_name_fr string")
    parameters = _ldf(
        spark,
        [(1150, "water level", "niveau d'eau", "m"),
         (1165, "discharge", "debit", "m3/s"),
         (21, "air temperature", "temperature de l'air", "C"),
         (1220, "snow depth", "profondeur de neige", "cm"),
         (999, "turbidity", "turbidite", "NTU")],
        "parameter_id bigint, param_name string, param_name_fr string, "
        "unit_default string")
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    v = (k % 1000).cast("double") / 10
    daily = o.select(
        ((F.col("o_custkey") % 750) * 2 + 1).alias("timeseries_id"),
        F.col("o_orderdate").cast("date").alias("date"),
        v.alias("value"),
        ((k % 200).cast("double") / 2).alias("percent_historic_range"),
        (v - 1).alias("mean"), (v - 5).alias("min"), (v + 5).alias("max"),
        (k % 40).alias("doy_count"),
    )
    p = _t(spark, sf_dir, "part").where(F.col("p_partkey") % 3 == 0)
    drainage = p.select(
        F.concat(F.lit("LOC-"), F.col("p_partkey").cast("string"))
        .alias("feature_name"),
        (F.col("p_partkey").cast("double") / 4).alias("drainage_area_km2"),
    )
    datum_conversions = c.where(m % 10 == 0).select(
        m.alias("location_id"),
        (m % 5).alias("datum_id_to"),
        ((m % 9).cast("double") / 4).alias("conversion_m"),
        (m % 20 == 0).alias("current"),
    )
    datum_list = _ldf(
        spark, [(i, f"datum-en-{i}", f"datum-fr-{i}") for i in range(5)],
        "datum_id bigint, datum_name_en string, datum_name_fr string")
    d0 = F.lit("2015-01-01").cast("date")
    own_a = c.where(m % 2 == 1).select(
        m.alias("timeseries_id"), (m % 12).alias("organization_id"),
        F.date_add(d0, ((m * 13) % 3000).cast("int")).cast("timestamp")
        .alias("start_dt"),
        F.date_add(d0, ((m * 13) % 3000 + 200).cast("int"))
        .cast("timestamp").alias("end_dt"),
    )
    own_b = c.where(m % 4 == 1).select(
        m.alias("timeseries_id"), ((m + 5) % 12).alias("organization_id"),
        F.date_add(d0, ((m * 13) % 3000 + m % 7 - 3).cast("int"))
        .cast("timestamp").alias("start_dt"),
        F.date_add(d0, ((m * 13) % 3000 + m % 7 + 97).cast("int"))
        .cast("timestamp").alias("end_dt"),
    )
    owners = own_a.unionByName(own_b)
    organizations = _ldf(
        spark, [(i, f"Org-{i}", f"OrgFR-{i}") for i in range(12)],
        "organization_id bigint, name string, name_fr string")
    return csw_layer(
        locations, location_types, timeseries, sub_locations, parameters,
        daily, drainage, datum_conversions, datum_list, owners,
        organizations, as_of_date="1998-08-02")


# ---------------------------------------------------------------------------
# Deep-graph connected components (operators/graph.connected_components,
# pointer jumping): 97-node chains are the adversarial shape for plain
# min-label propagation (depth rounds); path halving converges in
# O(log depth). Chain-break fixture has a closed-form answer.
# ---------------------------------------------------------------------------

_CHAIN_CC_ORACLE = """
    WITH nd AS (SELECT count(*) AS n FROM documents)
    SELECT doc_id,
           (doc_id // 97) * 97 AS component_rep,
           CAST(least(97, nd.n - (doc_id // 97) * 97) AS BIGINT)
             AS component_size
    FROM documents CROSS JOIN nd
"""


@register("chain_components", oracle=_CHAIN_CC_ORACLE)
def chain_components_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over consecutive-id chains broken at
    multiples of 97 (depth-97 paths — the min-label worst case,
    solved in ~8 pointer-jumping rounds)."""
    from ..operators.graph import connected_components

    ids = _t(spark, sf_dir, "documents").select("doc_id")
    a = ids.select(F.col("doc_id").alias("id_a"))
    b = ids.select(F.col("doc_id").alias("id_b"))
    edges = a.join(
        b, (b["id_b"] == a["id_a"] + 1)
        & ((a["id_a"] + 1) % 97 != 0))
    return connected_components(edges, ids)


# ---------------------------------------------------------------------------
# Bilingual denormalized metadata views (operators/metadata.py) — the
# reference's main human/catalog read surface:
# public.location_metadata_en/fr (patch_45.R:381-472) and
# continuous.timeseries_metadata_en/fr (patch_45.R:489-572), with units
# resolved through get_parameter_unit_name (patch_39.R:846, consumed at
# patch_51.R:2961). Catalog tables are synthesized identically in both
# engines from supplier/nation/region/part; m:n rollups are
# pre-aggregated per location and the view itself is a pure broadcast
# star join (the 100 TB story: catalogs are catalog-class, the view
# never touches measurement-cardinality data).
# ---------------------------------------------------------------------------

def _meta_fixture(spark: SparkSession, sf_dir: str) -> dict:
    """Synthetic reference catalog: locations/dims/bridges from the
    TPC-H tables (mirrored exactly by _META_CTES below)."""
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    part = _t(spark, sf_dir, "part")
    s = F.col("s_suppkey")
    n = F.col("n_nationkey")
    r = F.col("r_regionkey")
    p = F.col("p_partkey")

    locations = supp.select(
        s.alias("location_id"),
        F.col("s_name").alias("name"),
        F.concat(F.lit("fr "), F.col("s_name")).alias("name_fr"),
        F.when(s % 3 == 0,
               F.concat(F.lit("alias-"), s.cast("string"))).alias("alias"),
        F.concat(F.lit("LOC-"), s.cast("string")).alias("location_code"),
        (s % 5).alias("location_type"),
        (F.lit(50.0) + (s % 200).cast("double") / 4.0).alias("latitude"),
        (F.lit(-140.0) + (s % 500).cast("double") / 8.0).alias("longitude"),
        F.when(s % 4 == 0,
               F.concat(F.lit("note "), s.cast("string"))).alias("note"),
        F.col("s_nationkey").cast("long").alias("__natkey"),
    )
    location_types = reg.select(
        r.alias("type_id"),
        F.concat(F.lit("type "), F.col("r_name")).alias("type"),
        F.concat(F.lit("typefr "), F.col("r_name")).alias("type_fr"))
    projects = nat.select(
        n.cast("long").alias("project_id"),
        F.concat(F.lit("proj "), F.col("n_name")).alias("name"),
        F.concat(F.lit("projfr "), F.col("n_name")).alias("name_fr"))
    lp1 = locations.where(F.col("location_id") % 7 != 3).select(
        "location_id", F.col("__natkey").alias("project_id"))
    lp2 = locations.where((F.col("location_id") % 7 != 3)
                          & (F.col("location_id") % 2 == 0)).select(
        "location_id", ((F.col("__natkey") + 7) % 25).alias("project_id"))
    locations_projects = lp1.unionByName(lp2)
    networks = reg.select(
        r.cast("long").alias("network_id"),
        F.concat(F.lit("net "), F.col("r_name")).alias("name"),
        F.concat(F.lit("netfr "), F.col("r_name")).alias("name_fr"))
    ln1 = locations.where(F.col("location_id") % 6 != 1).select(
        "location_id", (F.col("location_id") % 5).alias("network_id"))
    ln2 = locations.where(F.col("location_id") % 3 == 0).select(
        "location_id",
        ((F.col("location_id") * 3 + 1) % 5).alias("network_id"))
    locations_networks = ln1.unionByName(ln2)
    # one current + one superseded conversion per covered location —
    # the view must keep only current=true
    dc_cur = locations.where(F.col("location_id") % 3 != 1).select(
        "location_id",
        (F.col("location_id") % 4).alias("datum_id_to"),
        ((F.col("location_id") % 97).cast("double") + 0.5)
        .alias("conversion_m"),
        F.lit(True).alias("current"))
    dc_old = locations.where(F.col("location_id") % 3 != 1).select(
        "location_id",
        ((F.col("location_id") + 1) % 4).alias("datum_id_to"),
        ((F.col("location_id") % 97).cast("double") + 100.5)
        .alias("conversion_m"),
        F.lit(False).alias("current"))
    datum_conversions = dc_cur.unionByName(dc_old)
    datum_list = reg.where(r < 4).select(
        r.cast("long").alias("datum_id"),
        F.concat(F.lit("datum "), F.col("r_name")).alias("datum_name_en"),
        F.concat(F.lit("datumfr "), F.col("r_name"))
        .alias("datum_name_fr"))
    languages = reg.where(r < 3).select(
        r.cast("long").alias("language_id"),
        F.concat(F.lit("lang "), F.col("r_name")).alias("language_name_en"),
        F.concat(F.lit("langfr "), F.col("r_name"))
        .alias("language_name_fr"))
    fn1 = locations.where(F.col("location_id") % 4 == 0).select(
        "location_id", (F.col("location_id") % 3).alias("language_id"),
        F.concat(F.lit("FN name "), F.col("location_id").cast("string"))
        .alias("name"))
    fn2 = locations.where(F.col("location_id") % 8 == 0).select(
        "location_id", ((F.col("location_id") + 1) % 3).alias("language_id"),
        F.concat(F.lit("FN alt "), F.col("location_id").cast("string"))
        .alias("name"))
    location_names = fn1.unionByName(fn2)

    parameters = nat.select(
        n.cast("long").alias("parameter_id"),
        F.concat(F.lit("param "), F.col("n_name")).alias("param_name"),
        F.concat(F.lit("paramfr "), F.col("n_name")).alias("param_name_fr"),
        F.when(n % 5 != 0, (n % 7).cast("long")).alias("units_liquid"),
        F.when(n % 4 != 0, ((n + 1) % 7).cast("long")).alias("units_solid"),
        F.when(n % 3 != 0, ((n + 2) % 7).cast("long")).alias("units_gas"))
    units = nat.where(n < 7).select(
        n.cast("long").alias("unit_id"),
        F.concat(F.lit("u-"), F.col("n_name")).alias("unit_name"))
    matrix_states = reg.where(r < 4).select(
        (r + 1).cast("long").alias("matrix_state_id"),
        F.when(r == 0, "liquid").when(r == 1, "solid")
        .when(r == 2, "gas").otherwise("plasma")
        .alias("matrix_state_code"))
    media_types = reg.where(r < 4).select(
        r.cast("long").alias("media_id"),
        F.concat(F.lit("media "), F.col("r_name")).alias("media_type"),
        F.concat(F.lit("mediafr "), F.col("r_name"))
        .alias("media_type_fr"))
    aggregation_types = reg.where(r < 3).select(
        r.cast("long").alias("aggregation_type_id"),
        F.concat(F.lit("agg "), F.col("r_name")).alias("aggregation_type"),
        F.concat(F.lit("aggfr "), F.col("r_name"))
        .alias("aggregation_type_fr"))
    locations_z = nat.where(n < 7).select(
        n.cast("long").alias("z_id"),
        (n.cast("double") * 1.5 - 3.0).alias("z_meters"))
    timeseries_types = reg.where(r < 2).select(
        (r + 1).cast("long").alias("timeseries_type"),
        F.concat(F.lit("tstype "), F.col("r_name"))
        .alias("timeseries_type_name"),
        F.concat(F.lit("tstypefr "), F.col("r_name"))
        .alias("timeseries_type_name_fr"),
        F.concat(F.lit("desc "), F.col("r_name")).alias("description"),
        F.concat(F.lit("descfr "), F.col("r_name")).alias("description_fr"))
    epoch = F.lit("2020-01-01").cast("date")
    timeseries = part.select(
        p.alias("timeseries_id"),
        (p % 10).alias("location_id"),
        (p % 25).alias("parameter_id"),
        (p % 4 + 1).alias("matrix_state_id"),
        (p % 4).alias("media_id"),
        (p % 3).alias("aggregation_type_id"),
        F.when(p % 5 == 0, p % 7).alias("z_id"),
        F.when(p % 3 == 0, "PT5M").when(p % 3 == 1, "PT1H")
        .otherwise("P1D").alias("record_rate"),
        (p % 3 + 1).alias("sensor_priority"),
        F.to_timestamp(F.date_add(epoch, (p % 1000).cast("int")))
        .alias("start_datetime"),
        F.to_timestamp(
            F.date_add(epoch, (p % 1000 + p % 300 + 10).cast("int")))
        .alias("end_datetime"),
        F.when(p % 6 == 0, F.concat(F.lit("ts note "), p.cast("string")))
        .alias("note"),
        (p % 2 + 1).alias("timeseries_type"),
        F.to_timestamp(
            F.date_add(epoch, (p % 1000 + p % 300 + 10).cast("int")))
        .alias("last_new_data"),
    )
    return {
        "locations": locations.drop("__natkey"),
        "location_types": location_types,
        "projects": projects, "locations_projects": locations_projects,
        "networks": networks, "locations_networks": locations_networks,
        "datum_conversions": datum_conversions, "datum_list": datum_list,
        "languages": languages, "location_names": location_names,
        "parameters": parameters, "units": units,
        "matrix_states": matrix_states, "media_types": media_types,
        "aggregation_types": aggregation_types,
        "locations_z": locations_z,
        "timeseries_types": timeseries_types, "timeseries": timeseries,
    }


_META_CTES = """
    locs AS (
      SELECT s_suppkey AS location_id,
             s_name AS name,
             'fr ' || s_name AS name_fr,
             CASE WHEN s_suppkey % 3 = 0
                  THEN 'alias-' || CAST(s_suppkey AS VARCHAR) END AS alias,
             'LOC-' || CAST(s_suppkey AS VARCHAR) AS location_code,
             s_suppkey % 5 AS location_type,
             CAST(50 AS DOUBLE)
               + CAST(s_suppkey % 200 AS DOUBLE) / CAST(4 AS DOUBLE)
               AS latitude,
             CAST(-140 AS DOUBLE)
               + CAST(s_suppkey % 500 AS DOUBLE) / CAST(8 AS DOUBLE)
               AS longitude,
             CASE WHEN s_suppkey % 4 = 0
                  THEN 'note ' || CAST(s_suppkey AS VARCHAR) END AS note,
             CAST(s_nationkey AS BIGINT) AS natkey
      FROM supplier
    ), ltypes AS (
      SELECT r_regionkey AS type_id, 'type ' || r_name AS type,
             'typefr ' || r_name AS type_fr FROM region
    ), projs AS (
      SELECT CAST(n_nationkey AS BIGINT) AS project_id,
             'proj ' || n_name AS pname, 'projfr ' || n_name AS pname_fr
      FROM nation
    ), loc_proj AS (
      SELECT location_id, natkey AS project_id FROM locs
      WHERE location_id % 7 != 3
      UNION ALL
      SELECT location_id, (natkey + 7) % 25 FROM locs
      WHERE location_id % 7 != 3 AND location_id % 2 = 0
    ), nets AS (
      SELECT CAST(r_regionkey AS BIGINT) AS network_id,
             'net ' || r_name AS nname, 'netfr ' || r_name AS nname_fr
      FROM region
    ), loc_net AS (
      SELECT location_id, location_id % 5 AS network_id FROM locs
      WHERE location_id % 6 != 1
      UNION ALL
      SELECT location_id, (location_id * 3 + 1) % 5 FROM locs
      WHERE location_id % 3 = 0
    ), dconv AS (
      SELECT location_id, location_id % 4 AS datum_id_to,
             CAST(location_id % 97 AS DOUBLE) + CAST(0.5 AS DOUBLE)
               AS conversion_m
      FROM locs WHERE location_id % 3 != 1
    ), dlist AS (
      SELECT CAST(r_regionkey AS BIGINT) AS datum_id,
             'datum ' || r_name AS datum_name_en,
             'datumfr ' || r_name AS datum_name_fr
      FROM region WHERE r_regionkey < 4
    ), langs AS (
      SELECT CAST(r_regionkey AS BIGINT) AS language_id,
             'lang ' || r_name AS language_name_en,
             'langfr ' || r_name AS language_name_fr
      FROM region WHERE r_regionkey < 3
    ), lnames AS (
      SELECT location_id, location_id % 3 AS language_id,
             'FN name ' || CAST(location_id AS VARCHAR) AS fname
      FROM locs WHERE location_id % 4 = 0
      UNION ALL
      SELECT location_id, (location_id + 1) % 3,
             'FN alt ' || CAST(location_id AS VARCHAR)
      FROM locs WHERE location_id % 8 = 0
    )"""

_META_TS_CTES = """
    , mstates AS (
      SELECT CAST(r_regionkey + 1 AS BIGINT) AS matrix_state_id,
             CASE r_regionkey WHEN 0 THEN 'liquid' WHEN 1 THEN 'solid'
                  WHEN 2 THEN 'gas' ELSE 'plasma' END AS matrix_state_code
      FROM region WHERE r_regionkey < 4
    ), params AS (
      SELECT CAST(n_nationkey AS BIGINT) AS parameter_id,
             'param ' || n_name AS param_name,
             'paramfr ' || n_name AS param_name_fr,
             CASE WHEN n_nationkey % 5 != 0
                  THEN CAST(n_nationkey % 7 AS BIGINT) END AS units_liquid,
             CASE WHEN n_nationkey % 4 != 0
                  THEN CAST((n_nationkey + 1) % 7 AS BIGINT)
             END AS units_solid,
             CASE WHEN n_nationkey % 3 != 0
                  THEN CAST((n_nationkey + 2) % 7 AS BIGINT)
             END AS units_gas
      FROM nation
    ), unitst AS (
      SELECT CAST(n_nationkey AS BIGINT) AS unit_id,
             'u-' || n_name AS unit_name
      FROM nation WHERE n_nationkey < 7
    ), unit_map AS (
      SELECT p.parameter_id, ms.matrix_state_id,
             CASE ms.matrix_state_code WHEN 'liquid' THEN p.units_liquid
                  WHEN 'solid' THEN p.units_solid
                  WHEN 'gas' THEN p.units_gas END AS unit_id
      FROM params p CROSS JOIN mstates ms
    ), mtypes AS (
      SELECT CAST(r_regionkey AS BIGINT) AS media_id,
             'media ' || r_name AS media_type,
             'mediafr ' || r_name AS media_type_fr
      FROM region WHERE r_regionkey < 4
    ), aggts AS (
      SELECT CAST(r_regionkey AS BIGINT) AS aggregation_type_id,
             'agg ' || r_name AS aggregation_type,
             'aggfr ' || r_name AS aggregation_type_fr
      FROM region WHERE r_regionkey < 3
    ), locz AS (
      SELECT CAST(n_nationkey AS BIGINT) AS z_id,
             CAST(n_nationkey AS DOUBLE) * CAST(1.5 AS DOUBLE)
               - CAST(3 AS DOUBLE) AS z_meters
      FROM nation WHERE n_nationkey < 7
    ), tstypes AS (
      SELECT CAST(r_regionkey + 1 AS BIGINT) AS timeseries_type,
             'tstype ' || r_name AS timeseries_type_name,
             'tstypefr ' || r_name AS timeseries_type_name_fr,
             'desc ' || r_name AS description,
             'descfr ' || r_name AS description_fr
      FROM region WHERE r_regionkey < 2
    ), ts AS (
      SELECT p_partkey AS timeseries_id,
             p_partkey % 10 AS location_id,
             p_partkey % 25 AS parameter_id,
             p_partkey % 4 + 1 AS matrix_state_id,
             p_partkey % 4 AS media_id,
             p_partkey % 3 AS aggregation_type_id,
             CASE WHEN p_partkey % 5 = 0 THEN p_partkey % 7 END AS z_id,
             CASE p_partkey % 3 WHEN 0 THEN 'PT5M' WHEN 1 THEN 'PT1H'
                  ELSE 'P1D' END AS record_rate,
             p_partkey % 3 + 1 AS sensor_priority,
             CAST(DATE '2020-01-01' + CAST(p_partkey % 1000 AS INTEGER)
                  AS TIMESTAMP) AS start_datetime,
             CAST(DATE '2020-01-01'
                  + CAST(p_partkey % 1000 + p_partkey % 300 + 10
                         AS INTEGER) AS TIMESTAMP) AS end_datetime,
             CASE WHEN p_partkey % 6 = 0
                  THEN 'ts note ' || CAST(p_partkey AS VARCHAR) END AS note,
             p_partkey % 2 + 1 AS timeseries_type
      FROM part
    )"""


def _meta_rollup_ctes(lang: str) -> str:
    """Per-location sorted-distinct rollups (projects, networks, First
    Nations names JSON) — the engine-portable array_agg(DISTINCT) /
    jsonb_agg(DISTINCT) analog, rendered as sorted CSV / JSON-array
    strings so the driver's value hash is order-insensitive."""
    pn = "pname" if lang == "en" else "pname_fr"
    nn = "nname" if lang == "en" else "nname_fr"
    if lang == "en":
        js = ("'{\"language_code\":' || CAST(ln.language_id AS VARCHAR)"
              " || ',\"language_name_en\":\"' || lg.language_name_en"
              " || '\",\"name\":\"' || ln.fname || '\"}'")
    else:
        js = ("'{\"language_id\":' || CAST(ln.language_id AS VARCHAR)"
              " || ',\"language_name_fr\":\"' || lg.language_name_fr"
              " || '\",\"name\":\"' || ln.fname || '\"}'")
    return f"""
    , proj_roll AS (
      SELECT location_id, string_agg({pn}, ',' ORDER BY {pn}) AS projects
      FROM (SELECT DISTINCT lp.location_id, p.{pn}
            FROM loc_proj lp JOIN projs p USING (project_id))
      GROUP BY 1
    ), net_roll AS (
      SELECT location_id, string_agg({nn}, ',' ORDER BY {nn}) AS networks
      FROM (SELECT DISTINCT lnk.location_id, n.{nn}
            FROM loc_net lnk JOIN nets n USING (network_id))
      GROUP BY 1
    ), fn_roll AS (
      SELECT location_id,
             '[' || string_agg(js, ',' ORDER BY js) || ']' AS fn_names
      FROM (SELECT DISTINCT ln.location_id, {js} AS js
            FROM lnames ln JOIN langs lg USING (language_id))
      GROUP BY 1
    )"""


_LOCMETA_EN_ORACLE = "WITH " + _META_CTES + _meta_rollup_ctes("en") + """
    SELECT l.location_id, l.name, l.alias, l.location_code,
           lt.type AS location_type, l.latitude, l.longitude,
           dc.conversion_m AS elevation, dl.datum_name_en AS datum,
           l.note,
           COALESCE(pr.projects, '') AS projects,
           COALESCE(nr.networks, '') AS networks,
           COALESCE(fr.fn_names, '[]') AS fn_names
    FROM locs l
    LEFT JOIN ltypes lt ON l.location_type = lt.type_id
    LEFT JOIN dconv dc USING (location_id)
    LEFT JOIN dlist dl ON dc.datum_id_to = dl.datum_id
    LEFT JOIN proj_roll pr USING (location_id)
    LEFT JOIN net_roll nr USING (location_id)
    LEFT JOIN fn_roll fr USING (location_id)
"""

_LOCMETA_FR_ORACLE = "WITH " + _META_CTES + _meta_rollup_ctes("fr") + """
    SELECT l.location_id, l.name_fr AS nom, l.alias,
           l.location_code AS code_de_site,
           lt.type_fr AS type_de_site, l.latitude, l.longitude,
           dc.conversion_m AS altitude, dl.datum_name_fr AS datum,
           l.note,
           COALESCE(pr.projects, '') AS projets,
           COALESCE(nr.networks, '') AS "réseaux",
           COALESCE(fr.fn_names, '[]') AS "noms_premières_nations"
    FROM locs l
    LEFT JOIN ltypes lt ON l.location_type = lt.type_id
    LEFT JOIN dconv dc USING (location_id)
    LEFT JOIN dlist dl ON dc.datum_id_to = dl.datum_id
    LEFT JOIN proj_roll pr USING (location_id)
    LEFT JOIN net_roll nr USING (location_id)
    LEFT JOIN fn_roll fr USING (location_id)
"""


def _loc_meta(spark: SparkSession, sf_dir: str, lang: str) -> DataFrame:
    from ..operators.metadata import location_metadata

    fx = _meta_fixture(spark, sf_dir)
    return location_metadata(
        fx["locations"], fx["location_types"],
        fx["locations_projects"], fx["projects"],
        fx["locations_networks"], fx["networks"],
        fx["datum_conversions"], fx["datum_list"],
        fx["location_names"], fx["languages"], lang=lang)


@register("location_metadata_read", oracle=_LOCMETA_EN_ORACLE)
def location_metadata_read_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """public.location_metadata_en (patch_45.R:381-420): locations star
    with sorted project/network rollups, current-datum elevation, and
    the First Nations names JSON payload."""
    out = _loc_meta(spark, sf_dir, "en")
    return out.select(
        "location_id", "name", "alias", "location_code", "location_type",
        "latitude", "longitude", "elevation", "datum", "note",
        F.array_join("projects", ",").alias("projects"),
        F.array_join("networks", ",").alias("networks"),
        "fn_names")


@register("location_metadata_fr", oracle=_LOCMETA_FR_ORACLE)
def location_metadata_fr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """public.location_metadata_fr (patch_45.R:424-472): the French
    twin — name_fr/type_fr/datum_name_fr and the reference's accented
    column names."""
    out = _loc_meta(spark, sf_dir, "fr")
    return out.select(
        "location_id", "nom", "alias", "code_de_site", "type_de_site",
        "latitude", "longitude", "altitude", "datum", "note",
        F.array_join("projets", ",").alias("projets"),
        F.array_join("réseaux", ",").alias("réseaux"),
        "noms_premières_nations")


_TSMETA_EN_ORACLE = ("WITH " + _META_CTES + _META_TS_CTES
                     + _meta_rollup_ctes("en") + """
    SELECT t.timeseries_id, t.location_id,
           l.name AS location_name, lt.type AS location_type,
           l.alias AS alias_name, lz.z_meters AS depth_height_m,
           l.latitude, l.longitude,
           dc.conversion_m AS location_elevation,
           COALESCE(pr.projects, '') AS projects,
           COALESCE(nr.networks, '') AS networks,
           mt.media_type, pa.param_name AS parameter_name,
           u.unit_name AS units, ag.aggregation_type,
           t.record_rate AS recording_rate, t.sensor_priority,
           t.start_datetime, t.end_datetime, t.note,
           t.timeseries_type AS timeseries_type_code,
           tt.timeseries_type_name AS timeseries_type,
           tt.description AS timeseries_type_description,
           t.end_datetime AS last_new_data
    FROM ts t
    JOIN locs l USING (location_id)
    LEFT JOIN ltypes lt ON l.location_type = lt.type_id
    LEFT JOIN params pa USING (parameter_id)
    LEFT JOIN unit_map um USING (parameter_id, matrix_state_id)
    LEFT JOIN unitst u ON um.unit_id = u.unit_id
    LEFT JOIN mtypes mt USING (media_id)
    LEFT JOIN aggts ag USING (aggregation_type_id)
    LEFT JOIN locz lz USING (z_id)
    LEFT JOIN tstypes tt USING (timeseries_type)
    LEFT JOIN dconv dc USING (location_id)
    LEFT JOIN proj_roll pr USING (location_id)
    LEFT JOIN net_roll nr USING (location_id)
""")

_TSMETA_FR_ORACLE = ("WITH " + _META_CTES + _META_TS_CTES
                     + _meta_rollup_ctes("fr") + """
    SELECT t.timeseries_id, t.location_id,
           l.name_fr AS nom_endroit, lt.type_fr AS type_endroit,
           l.alias AS nom_alias, lz.z_meters AS profondeur_hauteur_m,
           l.latitude, l.longitude,
           dc.conversion_m AS "élévation_endroit",
           COALESCE(pr.projects, '') AS projets,
           COALESCE(nr.networks, '') AS "réseaux",
           mt.media_type_fr AS "type_de_média",
           pa.param_name_fr AS "nom_paramètre",
           u.unit_name AS "unités",
           ag.aggregation_type_fr AS "type_agrégation",
           t.record_rate AS "fréquence_enregistrement",
           t.sensor_priority AS "priorité_capteur",
           t.start_datetime AS "début", t.end_datetime AS fin, t.note,
           t.timeseries_type AS code_type_serie_temporelle,
           tt.timeseries_type_name_fr AS type_serie_temporelle,
           tt.description_fr AS description_type_serie_temporelle,
           t.end_datetime AS dernier_nouvelles_donnees
    FROM ts t
    JOIN locs l USING (location_id)
    LEFT JOIN ltypes lt ON l.location_type = lt.type_id
    LEFT JOIN params pa USING (parameter_id)
    LEFT JOIN unit_map um USING (parameter_id, matrix_state_id)
    LEFT JOIN unitst u ON um.unit_id = u.unit_id
    LEFT JOIN mtypes mt USING (media_id)
    LEFT JOIN aggts ag USING (aggregation_type_id)
    LEFT JOIN locz lz USING (z_id)
    LEFT JOIN tstypes tt USING (timeseries_type)
    LEFT JOIN dconv dc USING (location_id)
    LEFT JOIN proj_roll pr USING (location_id)
    LEFT JOIN net_roll nr USING (location_id)
""")


def _ts_meta(spark: SparkSession, sf_dir: str, lang: str) -> DataFrame:
    from ..operators.metadata import timeseries_metadata

    fx = _meta_fixture(spark, sf_dir)
    return timeseries_metadata(
        fx["timeseries"], fx["locations"], fx["location_types"],
        fx["parameters"], fx["matrix_states"], fx["units"],
        fx["media_types"], fx["aggregation_types"], fx["locations_z"],
        fx["locations_projects"], fx["projects"],
        fx["locations_networks"], fx["networks"],
        fx["datum_conversions"], fx["datum_list"],
        fx["timeseries_types"], lang=lang)


@register("timeseries_metadata_read", oracle=_TSMETA_EN_ORACLE)
def timeseries_metadata_read_q(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """continuous.timeseries_metadata_en (patch_45.R:489-535): the
    12-dimension catalog star with get_parameter_unit_name-resolved
    units (patch_39.R:846)."""
    out = _ts_meta(spark, sf_dir, "en")
    return out.select(
        "timeseries_id", "location_id", "location_name", "location_type",
        "alias_name", "depth_height_m", "latitude", "longitude",
        "location_elevation",
        F.array_join("projects", ",").alias("projects"),
        F.array_join("networks", ",").alias("networks"),
        "media_type", "parameter_name", "units", "aggregation_type",
        "recording_rate", "sensor_priority", "start_datetime",
        "end_datetime", "note", "timeseries_type_code",
        "timeseries_type", "timeseries_type_description",
        "last_new_data")


@register("timeseries_metadata_fr", oracle=_TSMETA_FR_ORACLE)
def timeseries_metadata_fr_q(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """continuous.timeseries_metadata_fr (patch_45.R:538-572)."""
    out = _ts_meta(spark, sf_dir, "fr")
    return out.select(
        "timeseries_id", "location_id", "nom_endroit", "type_endroit",
        "nom_alias", "profondeur_hauteur_m", "latitude", "longitude",
        "élévation_endroit",
        F.array_join("projets", ",").alias("projets"),
        F.array_join("réseaux", ",").alias("réseaux"),
        "type_de_média", "nom_paramètre", "unités", "type_agrégation",
        "fréquence_enregistrement", "priorité_capteur", "début", "fin",
        "note", "code_type_serie_temporelle", "type_serie_temporelle",
        "description_type_serie_temporelle", "dernier_nouvelles_donnees")


# ---------------------------------------------------------------------------
# Discrete bilingual metadata views (operators/metadata.py):
# discrete.samples_metadata_en/fr (patch_43.R:171-418) and
# discrete.results_metadata_en/fr (patch_43.R:419-652), both preserved
# verbatim by patch_52.R:338-470. Samples fact from orders, results
# fact from lineitem; every dimension catalog-class and broadcast; the
# project/network rollups resolve COALESCE(name_fr, name) in the fr
# views and the LATERAL datum pick is ORDER BY conversion_id LIMIT 1
# (min_by, exercised by locations carrying TWO current=true rows).
# ---------------------------------------------------------------------------

def _dmeta_fixture(spark: SparkSession, sf_dir: str) -> dict:
    """Discrete catalog + facts on top of _meta_fixture (mirrored by
    _DMETA_CTES): dims from region/nation with PARTIAL French names
    (NULLs exercise the fr views' COALESCE), samples from orders,
    results from lineitem."""
    fx = _meta_fixture(spark, sf_dir)
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    n = F.col("n_nationkey")
    r = F.col("r_regionkey")
    epoch = F.lit("2020-01-01").cast("date")

    fx["parameters"] = fx["parameters"].withColumn(
        "cas_number",
        F.when(F.col("parameter_id") % 2 == 0,
               F.concat(F.lit("50-00-"),
                        F.col("parameter_id").cast("string"))))
    fx["matrix_states"] = fx["matrix_states"].withColumns({
        "matrix_state_name":
            F.concat(F.lit("mstate "), F.col("matrix_state_code")),
        "matrix_state_name_fr":
            F.when(F.col("matrix_state_id") != 2,
                   F.concat(F.lit("mstatefr "),
                            F.col("matrix_state_code")))})
    fx["sub_locations"] = nat.where(n < 7).select(
        n.cast("long").alias("sub_location_id"),
        F.concat(F.lit("sub "), F.col("n_name"))
        .alias("sub_location_name"),
        F.when(n % 2 != 0, F.concat(F.lit("subfr "), F.col("n_name")))
        .alias("sub_location_name_fr"),
        (F.lit(60.0) + n.cast("double") / 10.0).alias("latitude"),
        (F.lit(-130.0) - n.cast("double") / 10.0).alias("longitude"))
    fx["collection_methods"] = reg.where(r < 3).select(
        r.cast("long").alias("collection_method_id"),
        F.concat(F.lit("cm "), F.col("r_name")).alias("collection_method"))
    fx["sample_types"] = reg.where(r < 4).select(
        r.cast("long").alias("sample_type_id"),
        F.concat(F.lit("stype "), F.col("r_name")).alias("sample_type"),
        F.when(r != 1, F.concat(F.lit("stypefr "), F.col("r_name")))
        .alias("sample_type_fr"))
    fx["grade_types"] = reg.select(
        r.cast("long").alias("grade_type_id"),
        F.concat(F.lit("G"), r.cast("string")).alias("grade_type_code"),
        F.concat(F.lit("grade "), F.col("r_name"))
        .alias("grade_type_description"),
        F.concat(F.lit("gradefr "), F.col("r_name"))
        .alias("grade_type_description_fr"))
    fx["approval_types"] = reg.select(
        r.cast("long").alias("approval_type_id"),
        F.concat(F.lit("A"), r.cast("string")).alias("approval_type_code"),
        F.concat(F.lit("appr "), F.col("r_name"))
        .alias("approval_type_description"),
        F.concat(F.lit("apprfr "), F.col("r_name"))
        .alias("approval_type_description_fr"))
    fx["qualifier_types"] = reg.select(
        r.cast("long").alias("qualifier_type_id"),
        F.concat(F.lit("Q"), r.cast("string"))
        .alias("qualifier_type_code"),
        F.concat(F.lit("qual "), F.col("r_name"))
        .alias("qualifier_type_description"),
        F.concat(F.lit("qualfr "), F.col("r_name"))
        .alias("qualifier_type_description_fr"))
    fx["organizations"] = nat.select(
        n.cast("long").alias("organization_id"),
        F.concat(F.lit("org "), F.col("n_name")).alias("name"),
        F.when(n % 3 != 0, F.concat(F.lit("orgfr "), F.col("n_name")))
        .alias("name_fr"))
    # TWO current=true conversions for location_id % 6 == 0 — the
    # ORDER BY conversion_id LIMIT 1 pick must take the even id
    loc_ids = fx["locations"].select("location_id") \
        .where(F.col("location_id") % 3 != 1)
    li = F.col("location_id")
    dc1 = loc_ids.select(
        "location_id", (li * 2).alias("conversion_id"),
        ((li % 97).cast("double") + 0.5).alias("conversion_m"),
        F.lit(True).alias("current"))
    dc2 = loc_ids.select(
        "location_id", (li * 2 + 1).alias("conversion_id"),
        ((li % 97).cast("double") + 50.5).alias("conversion_m"),
        (li % 6 == 0).alias("current"))
    fx["datum_conversions_d"] = dc1.unionByName(dc2)

    fx["sample_fractions"] = reg.select(
        r.cast("long").alias("sample_fraction_id"),
        F.concat(F.lit("frac "), F.col("r_name")).alias("sample_fraction"))
    fx["result_types"] = reg.where(r < 4).select(
        r.cast("long").alias("result_type_id"),
        F.concat(F.lit("rtype "), F.col("r_name")).alias("result_type"))
    fx["result_conditions"] = reg.where(r < 3).select(
        r.cast("long").alias("result_condition_id"),
        F.concat(F.lit("rcond "), F.col("r_name"))
        .alias("result_condition"))
    fx["result_value_types"] = reg.where(r < 3).select(
        r.cast("long").alias("result_value_type_id"),
        F.concat(F.lit("rvt "), F.col("r_name"))
        .alias("result_value_type"))
    fx["result_speciations"] = reg.where(r < 4).select(
        r.cast("long").alias("result_speciation_id"),
        F.concat(F.lit("rspec "), F.col("r_name"))
        .alias("result_speciation"))
    fx["protocols_methods"] = nat.where(n < 6).select(
        n.cast("long").alias("protocol_id"),
        F.concat(F.lit("proto "), F.col("n_name")).alias("protocol_name"),
        F.concat(F.lit("protodesc "), F.col("n_name"))
        .alias("protocol_description"),
        F.concat(F.lit("https://example.org/p/"), n.cast("string"))
        .alias("url"))
    fx["laboratories"] = nat.where(n < 8).select(
        n.cast("long").alias("lab_id"),
        F.concat(F.lit("lab "), F.col("n_name")).alias("lab_name"))

    o = F.col("o_orderkey")
    fx["samples"] = _t(spark, sf_dir, "orders").select(
        o.alias("sample_id"),
        (o % 10).alias("location_id"),
        F.when(o % 3 == 0, o % 7).alias("sub_location_id"),
        (o % 4).alias("media_id"),
        ((o % 50).cast("double") / 10.0).alias("z"),
        F.to_timestamp(F.date_add(epoch, (o % 1000).cast("int")))
        .alias("datetime"),
        F.when(o % 5 == 0, F.to_timestamp(
            F.date_add(epoch, (o % 1000 + 1).cast("int"))))
        .alias("target_datetime"),
        (o % 3).alias("collection_method"),
        (o % 4).alias("sample_type"),
        F.when(o % 11 == 0, o + 1).alias("linked_with"),
        F.when(o % 2 == 0, (o % 90).cast("double") * 10.0)
        .alias("sample_volume_ml"),
        F.when(o % 3 == 1, (o % 17).cast("double") / 2.0)
        .alias("purge_volume_l"),
        F.when(o % 4 == 2, (o % 30).cast("double"))
        .alias("purge_time_min"),
        F.when(o % 5 == 3, (o % 12).cast("double") / 4.0)
        .alias("flow_rate_l_min"),
        F.when(o % 7 == 4, (o % 9).cast("double") / 10.0)
        .alias("wave_hgt_m"),
        (o % 5).alias("sample_grade"),
        ((o + 1) % 5).alias("sample_approval"),
        F.when(o % 6 != 0, (o + 2) % 5).alias("sample_qualifier"),
        (o % 25).alias("owner"),
        ((o + 3) % 25).alias("contributor"),
        F.when(o % 2 == 0, (o + 5) % 25).alias("comissioning_org"),
        ((o + 7) % 25).alias("sampling_org"),
        F.when(o % 6 == 0, o * 2).alias("field_visit_id"),
        F.when(o % 9 == 0, o % 5).alias("data_sharing_agreement_id"),
        F.when(o % 8 == 0, F.concat(F.lit("doc-"), o.cast("string")))
        .alias("documents"),
        F.when(o % 2 == 0, F.lit("EQWin")).alias("import_source"),
        F.when(o % 2 == 0, F.concat(F.lit("EQ-"), o.cast("string")))
        .alias("import_source_id"),
        (o % 13 == 0).alias("no_update"),
        F.when(o % 10 == 0, F.concat(F.lit("s note "), o.cast("string")))
        .alias("note"),
        F.when(o % 2 == 0, F.lit("public_reader"))
        .otherwise(F.lit("yg_reader")).alias("share_with"),
        F.when(o % 15 == 0, F.to_timestamp(F.date_add(epoch, 1200)))
        .alias("private_expiry"),
        F.to_timestamp(F.date_add(epoch, (o % 400).cast("int")))
        .alias("created"),
        F.concat(F.lit("user"), (o % 7).cast("string")).alias("created_by"),
        F.when(o % 4 == 0, F.to_timestamp(
            F.date_add(epoch, (o % 400 + 30).cast("int"))))
        .alias("modified"),
        F.when(o % 4 == 0, F.concat(F.lit("user"), (o % 5).cast("string")))
        .alias("modified_by"),
    )
    k = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    fx["results"] = _t(spark, sf_dir, "lineitem").select(
        k.alias("result_id"),
        F.col("l_orderkey").alias("sample_id"),
        (F.col("l_partkey") % 25).alias("parameter_id"),
        (F.col("l_suppkey") % 4 + 1).alias("matrix_state_id"),
        F.when(k % 3 != 0, k % 5).alias("sample_fraction_id"),
        (k % 4).alias("result_type"),
        F.col("l_quantity").cast("double").alias("result"),
        F.when(k % 7 == 0, k % 3).alias("result_condition"),
        F.when(k % 7 == 0, (k % 50).cast("double") / 10.0)
        .alias("result_condition_value"),
        (k % 3).alias("result_value_type"),
        F.when(k % 5 == 0, k % 4).alias("result_speciation_id"),
        F.when(k % 4 != 2, k % 6).alias("protocol_method"),
        F.when(k % 4 != 1, k % 8).alias("laboratory"),
        F.to_timestamp(F.date_add(epoch, (k % 900).cast("int")))
        .alias("analysis_datetime"),
        (k % 17 == 0).alias("no_update"),
        F.when(k % 2 == 0, F.lit("public_reader"))
        .otherwise(F.lit("yg_reader")).alias("share_with"),
        F.when(k % 21 == 0,
               F.lit("2023-06-01 00:00:00").cast("timestamp"))
        .alias("private_expiry"),
        F.to_timestamp(F.date_add(epoch, (k % 500).cast("int")))
        .alias("created"),
        F.concat(F.lit("user"), (k % 7).cast("string")).alias("created_by"),
        F.when(k % 4 == 0, F.to_timestamp(
            F.date_add(epoch, (k % 500 + 30).cast("int"))))
        .alias("modified"),
        F.when(k % 4 == 0, F.concat(F.lit("user"), (k % 5).cast("string")))
        .alias("modified_by"),
    )
    return fx


_DMETA_CTES = """
    , params_d AS (
      SELECT *, CASE WHEN parameter_id % 2 = 0
                     THEN '50-00-' || CAST(parameter_id AS VARCHAR)
                END AS cas_number
      FROM params
    ), mstates_d AS (
      SELECT *, 'mstate ' || matrix_state_code AS matrix_state_name,
             CASE WHEN matrix_state_id != 2
                  THEN 'mstatefr ' || matrix_state_code
             END AS matrix_state_name_fr
      FROM mstates
    ), sublocs AS (
      SELECT CAST(n_nationkey AS BIGINT) AS sub_location_id,
             'sub ' || n_name AS sub_location_name,
             CASE WHEN n_nationkey % 2 != 0
                  THEN 'subfr ' || n_name END AS sub_location_name_fr,
             CAST(60 AS DOUBLE) + CAST(n_nationkey AS DOUBLE)
               / CAST(10 AS DOUBLE) AS sub_lat,
             CAST(-130 AS DOUBLE) - CAST(n_nationkey AS DOUBLE)
               / CAST(10 AS DOUBLE) AS sub_lon
      FROM nation WHERE n_nationkey < 7
    ), cmeths AS (
      SELECT CAST(r_regionkey AS BIGINT) AS collection_method_id,
             'cm ' || r_name AS collection_method
      FROM region WHERE r_regionkey < 3
    ), stypes AS (
      SELECT CAST(r_regionkey AS BIGINT) AS sample_type_id,
             'stype ' || r_name AS sample_type,
             CASE WHEN r_regionkey != 1
                  THEN 'stypefr ' || r_name END AS sample_type_fr
      FROM region WHERE r_regionkey < 4
    ), gtypes AS (
      SELECT CAST(r_regionkey AS BIGINT) AS grade_type_id,
             'G' || CAST(r_regionkey AS VARCHAR) AS grade_type_code,
             'grade ' || r_name AS grade_type_description,
             'gradefr ' || r_name AS grade_type_description_fr
      FROM region
    ), atypes AS (
      SELECT CAST(r_regionkey AS BIGINT) AS approval_type_id,
             'A' || CAST(r_regionkey AS VARCHAR) AS approval_type_code,
             'appr ' || r_name AS approval_type_description,
             'apprfr ' || r_name AS approval_type_description_fr
      FROM region
    ), qtypes AS (
      SELECT CAST(r_regionkey AS BIGINT) AS qualifier_type_id,
             'Q' || CAST(r_regionkey AS VARCHAR) AS qualifier_type_code,
             'qual ' || r_name AS qualifier_type_description,
             'qualfr ' || r_name AS qualifier_type_description_fr
      FROM region
    ), orgs AS (
      SELECT CAST(n_nationkey AS BIGINT) AS organization_id,
             'org ' || n_name AS oname,
             CASE WHEN n_nationkey % 3 != 0
                  THEN 'orgfr ' || n_name END AS oname_fr
      FROM nation
    ), dconv2 AS (
      SELECT location_id, location_id * 2 AS conversion_id,
             CAST(location_id % 97 AS DOUBLE) + CAST(0.5 AS DOUBLE)
               AS conversion_m, TRUE AS cur
      FROM locs WHERE location_id % 3 != 1
      UNION ALL
      SELECT location_id, location_id * 2 + 1,
             CAST(location_id % 97 AS DOUBLE) + CAST(50.5 AS DOUBLE),
             location_id % 6 = 0
      FROM locs WHERE location_id % 3 != 1
    ), dpick AS (
      SELECT location_id, arg_min(conversion_m, conversion_id)
               AS conversion_m
      FROM dconv2 WHERE cur GROUP BY 1
    ), fracs AS (
      SELECT CAST(r_regionkey AS BIGINT) AS sample_fraction_id,
             'frac ' || r_name AS sample_fraction FROM region
    ), rtypes AS (
      SELECT CAST(r_regionkey AS BIGINT) AS result_type_id,
             'rtype ' || r_name AS result_type
      FROM region WHERE r_regionkey < 4
    ), rconds AS (
      SELECT CAST(r_regionkey AS BIGINT) AS result_condition_id,
             'rcond ' || r_name AS result_condition
      FROM region WHERE r_regionkey < 3
    ), rvtypes AS (
      SELECT CAST(r_regionkey AS BIGINT) AS result_value_type_id,
             'rvt ' || r_name AS result_value_type
      FROM region WHERE r_regionkey < 3
    ), rspecs AS (
      SELECT CAST(r_regionkey AS BIGINT) AS result_speciation_id,
             'rspec ' || r_name AS result_speciation
      FROM region WHERE r_regionkey < 4
    ), protos AS (
      SELECT CAST(n_nationkey AS BIGINT) AS protocol_id,
             'proto ' || n_name AS protocol_name,
             'protodesc ' || n_name AS protocol_description,
             'https://example.org/p/' || CAST(n_nationkey AS VARCHAR)
               AS url
      FROM nation WHERE n_nationkey < 6
    ), labs AS (
      SELECT CAST(n_nationkey AS BIGINT) AS lab_id,
             'lab ' || n_name AS lab_name
      FROM nation WHERE n_nationkey < 8
    ), smp AS (
      SELECT o_orderkey AS sample_id,
             o_orderkey % 10 AS location_id,
             CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey % 7 END
               AS sub_location_id,
             o_orderkey % 4 AS media_id,
             CAST(o_orderkey % 50 AS DOUBLE) / CAST(10 AS DOUBLE) AS z,
             CAST(DATE '2020-01-01'
                  + CAST(o_orderkey % 1000 AS INTEGER) AS TIMESTAMP)
               AS datetime,
             CASE WHEN o_orderkey % 5 = 0 THEN
               CAST(DATE '2020-01-01'
                    + CAST(o_orderkey % 1000 + 1 AS INTEGER) AS TIMESTAMP)
             END AS target_datetime,
             o_orderkey % 3 AS collection_method,
             o_orderkey % 4 AS sample_type,
             CASE WHEN o_orderkey % 11 = 0 THEN o_orderkey + 1 END
               AS linked_with,
             CASE WHEN o_orderkey % 2 = 0 THEN
               CAST(o_orderkey % 90 AS DOUBLE) * CAST(10 AS DOUBLE)
             END AS sample_volume_ml,
             CASE WHEN o_orderkey % 3 = 1 THEN
               CAST(o_orderkey % 17 AS DOUBLE) / CAST(2 AS DOUBLE)
             END AS purge_volume_l,
             CASE WHEN o_orderkey % 4 = 2 THEN
               CAST(o_orderkey % 30 AS DOUBLE)
             END AS purge_time_min,
             CASE WHEN o_orderkey % 5 = 3 THEN
               CAST(o_orderkey % 12 AS DOUBLE) / CAST(4 AS DOUBLE)
             END AS flow_rate_l_min,
             CASE WHEN o_orderkey % 7 = 4 THEN
               CAST(o_orderkey % 9 AS DOUBLE) / CAST(10 AS DOUBLE)
             END AS wave_hgt_m,
             o_orderkey % 5 AS sample_grade,
             (o_orderkey + 1) % 5 AS sample_approval,
             CASE WHEN o_orderkey % 6 != 0 THEN (o_orderkey + 2) % 5 END
               AS sample_qualifier,
             o_orderkey % 25 AS owner,
             (o_orderkey + 3) % 25 AS contributor,
             CASE WHEN o_orderkey % 2 = 0 THEN (o_orderkey + 5) % 25 END
               AS comissioning_org,
             (o_orderkey + 7) % 25 AS sampling_org,
             CASE WHEN o_orderkey % 6 = 0 THEN o_orderkey * 2 END
               AS field_visit_id,
             CASE WHEN o_orderkey % 9 = 0 THEN o_orderkey % 5 END
               AS data_sharing_agreement_id,
             CASE WHEN o_orderkey % 8 = 0
                  THEN 'doc-' || CAST(o_orderkey AS VARCHAR)
             END AS documents,
             CASE WHEN o_orderkey % 2 = 0 THEN 'EQWin' END
               AS import_source,
             CASE WHEN o_orderkey % 2 = 0
                  THEN 'EQ-' || CAST(o_orderkey AS VARCHAR)
             END AS import_source_id,
             o_orderkey % 13 = 0 AS no_update,
             CASE WHEN o_orderkey % 10 = 0
                  THEN 's note ' || CAST(o_orderkey AS VARCHAR)
             END AS note,
             CASE WHEN o_orderkey % 2 = 0 THEN 'public_reader'
                  ELSE 'yg_reader' END AS share_with,
             CASE WHEN o_orderkey % 15 = 0 THEN
               CAST(DATE '2020-01-01' + 1200 AS TIMESTAMP)
             END AS private_expiry,
             CAST(DATE '2020-01-01'
                  + CAST(o_orderkey % 400 AS INTEGER) AS TIMESTAMP)
               AS created,
             'user' || CAST(o_orderkey % 7 AS VARCHAR) AS created_by,
             CASE WHEN o_orderkey % 4 = 0 THEN
               CAST(DATE '2020-01-01'
                    + CAST(o_orderkey % 400 + 30 AS INTEGER) AS TIMESTAMP)
             END AS modified,
             CASE WHEN o_orderkey % 4 = 0
                  THEN 'user' || CAST(o_orderkey % 5 AS VARCHAR)
             END AS modified_by
      FROM orders
    ), res AS (
      SELECT l_orderkey * 8 + l_linenumber AS result_id,
             l_orderkey AS sample_id,
             l_partkey % 25 AS parameter_id,
             l_suppkey % 4 + 1 AS matrix_state_id,
             CASE WHEN k % 3 != 0 THEN k % 5 END AS sample_fraction_id,
             k % 4 AS result_type,
             CAST(l_quantity AS DOUBLE) AS result,
             CASE WHEN k % 7 = 0 THEN k % 3 END AS result_condition,
             CASE WHEN k % 7 = 0 THEN
               CAST(k % 50 AS DOUBLE) / CAST(10 AS DOUBLE)
             END AS result_condition_value,
             k % 3 AS result_value_type,
             CASE WHEN k % 5 = 0 THEN k % 4 END AS result_speciation_id,
             CASE WHEN k % 4 != 2 THEN k % 6 END AS protocol_method,
             CASE WHEN k % 4 != 1 THEN k % 8 END AS laboratory,
             CAST(DATE '2020-01-01' + CAST(k % 900 AS INTEGER)
                  AS TIMESTAMP) AS analysis_datetime,
             k % 17 = 0 AS no_update,
             CASE WHEN k % 2 = 0 THEN 'public_reader'
                  ELSE 'yg_reader' END AS share_with,
             CASE WHEN k % 21 = 0 THEN TIMESTAMP '2023-06-01 00:00:00'
             END AS private_expiry,
             CAST(DATE '2020-01-01' + CAST(k % 500 AS INTEGER)
                  AS TIMESTAMP) AS created,
             'user' || CAST(k % 7 AS VARCHAR) AS created_by,
             CASE WHEN k % 4 = 0 THEN
               CAST(DATE '2020-01-01' + CAST(k % 500 + 30 AS INTEGER)
                    AS TIMESTAMP)
             END AS modified,
             CASE WHEN k % 4 = 0
                  THEN 'user' || CAST(k % 5 AS VARCHAR)
             END AS modified_by
      FROM (SELECT *, l_orderkey * 8 + l_linenumber AS k FROM lineitem)
    )"""


def _dmeta_sample_cols(lang: str) -> str:
    """The samples_metadata_{en,fr} SELECT list (patch_43.R order)."""
    en = lang == "en"

    def co(fr, e):
        return e if en else f"COALESCE({fr}, {e})"

    q = '"'
    cols = [
        "s.sample_id", "s.location_id", "l.location_code",
        f"{co('l.name_fr', 'l.name')} AS "
        + ("location_name" if en else "nom_endroit"),
        "l.alias AS " + ("alias_name" if en else "nom_alias"),
        "l.latitude", "l.longitude",
        "dp.conversion_m AS "
        + ("location_elevation" if en else f'{q}élévation_endroit{q}'),
        "COALESCE(pr.projects, '') AS "
        + ("projects" if en else "projets"),
        "COALESCE(nr.networks, '') AS "
        + ("networks" if en else f"{q}réseaux{q}"),
        "s.sub_location_id",
        f"{co('sl.sub_location_name_fr', 'sl.sub_location_name')} AS "
        + ("sub_location_name" if en else "nom_sous_endroit"),
        "sl.sub_lat AS " + ("sub_location_latitude" if en
                            else "latitude_sous_endroit"),
        "sl.sub_lon AS " + ("sub_location_longitude" if en
                            else "longitude_sous_endroit"),
        "s.media_id",
        f"{co('mt.media_type_fr', 'mt.media_type')} AS "
        + ("media_type" if en else f"{q}type_de_média{q}"),
        "s.z AS " + ("depth_height_m" if en else "profondeur_hauteur_m"),
        "s.datetime",
        "s.target_datetime AS " + ("target_datetime" if en
                                   else "datetime_cible"),
        "s.collection_method AS collection_method_id",
        "cm.collection_method AS "
        + ("collection_method" if en else f"{q}méthode_collecte{q}"),
        "s.sample_type AS sample_type_id",
        f"{co('st.sample_type_fr', 'st.sample_type')} AS "
        + ("sample_type" if en else f"{q}type_échantillon{q}"),
        "s.linked_with AS linked_sample_id",
        "s.sample_volume_ml AS "
        + ("sample_volume_ml" if en else f"{q}volume_échantillon_ml{q}"),
        "s.purge_volume_l AS "
        + ("purge_volume_l" if en else "volume_purge_l"),
        "s.purge_time_min AS "
        + ("purge_time_min" if en else f"{q}durée_purge_min{q}"),
        "s.flow_rate_l_min AS "
        + ("flow_rate_l_min" if en else f"{q}débit_l_min{q}"),
        "s.wave_hgt_m AS " + ("wave_hgt_m" if en else "hauteur_vague_m"),
        "s.sample_grade AS sample_grade_id",
        "gt.grade_type_code AS "
        + ("sample_grade_code" if en else f"{q}code_grade_échantillon{q}"),
        ("gt.grade_type_description" if en
         else "gt.grade_type_description_fr") + " AS "
        + ("sample_grade_description" if en
           else f"{q}description_grade_échantillon{q}"),
        "s.sample_approval AS sample_approval_id",
        "at2.approval_type_code AS "
        + ("sample_approval_code" if en
           else f"{q}code_approbation_échantillon{q}"),
        ("at2.approval_type_description" if en
         else "at2.approval_type_description_fr") + " AS "
        + ("sample_approval_description" if en
           else f"{q}description_approbation_échantillon{q}"),
        "s.sample_qualifier AS sample_qualifier_id",
        "qt.qualifier_type_code AS "
        + ("sample_qualifier_code" if en
           else f"{q}code_qualificatif_échantillon{q}"),
        ("qt.qualifier_type_description" if en
         else "qt.qualifier_type_description_fr") + " AS "
        + ("sample_qualifier_description" if en
           else f"{q}description_qualificatif_échantillon{q}"),
        "s.owner AS owner_id",
        f"{co('o1.oname_fr', 'o1.oname')} AS "
        + ("owner_name" if en else f"{q}propriétaire{q}"),
        "s.contributor AS contributor_id",
        f"{co('o2.oname_fr', 'o2.oname')} AS "
        + ("contributor_name" if en else "contributeur"),
        "s.comissioning_org AS commissioning_org_id",
        f"{co('o3.oname_fr', 'o3.oname')} AS "
        + ("commissioning_org_name" if en else "organisme_mise_service"),
        "s.sampling_org AS sampling_org_id",
        f"{co('o4.oname_fr', 'o4.oname')} AS "
        + ("sampling_org_name" if en
           else f"{q}organisme_échantillonnage{q}"),
        "s.field_visit_id", "s.data_sharing_agreement_id", "s.documents",
        "s.import_source", "s.import_source_id", "s.no_update", "s.note",
        "s.share_with", "s.private_expiry", "s.created", "s.created_by",
        "s.modified", "s.modified_by",
    ]
    return ",\n           ".join(cols)


_DMETA_SAMPLE_JOINS = """
    FROM smp s
    JOIN locs l USING (location_id)
    LEFT JOIN sublocs sl USING (sub_location_id)
    LEFT JOIN mtypes mt USING (media_id)
    LEFT JOIN cmeths cm ON s.collection_method = cm.collection_method_id
    LEFT JOIN stypes st ON s.sample_type = st.sample_type_id
    LEFT JOIN gtypes gt ON s.sample_grade = gt.grade_type_id
    LEFT JOIN atypes at2 ON s.sample_approval = at2.approval_type_id
    LEFT JOIN qtypes qt ON s.sample_qualifier = qt.qualifier_type_id
    LEFT JOIN orgs o1 ON s.owner = o1.organization_id
    LEFT JOIN orgs o2 ON s.contributor = o2.organization_id
    LEFT JOIN orgs o3 ON s.comissioning_org = o3.organization_id
    LEFT JOIN orgs o4 ON s.sampling_org = o4.organization_id
    LEFT JOIN dpick dp USING (location_id)
    LEFT JOIN proj_roll pr USING (location_id)
    LEFT JOIN net_roll nr USING (location_id)
"""


def _dmeta_oracle_samples(lang: str) -> str:
    return ("WITH " + _META_CTES + _META_TS_CTES + _DMETA_CTES
            + _meta_rollup_ctes(lang)
            + "\n    SELECT " + _dmeta_sample_cols(lang)
            + _DMETA_SAMPLE_JOINS)


def _dmeta_oracle_results(lang: str) -> str:
    en = lang == "en"

    def co(fr, e):
        return e if en else f"COALESCE({fr}, {e})"

    q = '"'
    sm_pass = [
        "sm.location_id", "sm.location_code",
        "sm." + ("location_name" if en else "nom_endroit"),
        "sm." + ("alias_name" if en else "nom_alias"),
        "sm.latitude", "sm.longitude",
        "sm." + ("location_elevation" if en
                 else f"{q}élévation_endroit{q}"),
        "sm." + ("projects" if en else "projets"),
        "sm." + ("networks" if en else f"{q}réseaux{q}"),
        "sm.sub_location_id",
        "sm." + ("sub_location_name" if en else "nom_sous_endroit"),
        "sm." + ("sub_location_latitude" if en
                 else "latitude_sous_endroit"),
        "sm." + ("sub_location_longitude" if en
                 else "longitude_sous_endroit"),
        "sm.media_id",
        "sm." + ("media_type" if en else f"{q}type_de_média{q}"),
        "sm." + ("depth_height_m" if en else "profondeur_hauteur_m"),
        "sm.datetime",
        "sm." + ("target_datetime" if en else "datetime_cible"),
        "sm.collection_method_id",
        "sm." + ("collection_method" if en else f"{q}méthode_collecte{q}"),
        "sm.sample_type_id",
        "sm." + ("sample_type" if en else f"{q}type_échantillon{q}"),
        "sm.sample_grade_id",
        "sm." + ("sample_grade_code" if en
                 else f"{q}code_grade_échantillon{q}"),
        "sm." + ("sample_grade_description" if en
                 else f"{q}description_grade_échantillon{q}"),
        "sm.sample_approval_id",
        "sm." + ("sample_approval_code" if en
                 else f"{q}code_approbation_échantillon{q}"),
        "sm." + ("sample_approval_description" if en
                 else f"{q}description_approbation_échantillon{q}"),
        "sm.sample_qualifier_id",
        "sm." + ("sample_qualifier_code" if en
                 else f"{q}code_qualificatif_échantillon{q}"),
        "sm." + ("sample_qualifier_description" if en
                 else f"{q}description_qualificatif_échantillon{q}"),
        "sm.owner_id AS sample_owner_id",
        ("sm.owner_name AS sample_owner_name" if en
         else f"sm.{q}propriétaire{q} AS {q}propriétaire_échantillon{q}"),
        "sm.contributor_id AS sample_contributor_id",
        ("sm.contributor_name AS sample_contributor_name" if en
         else f"sm.contributeur AS {q}contributeur_échantillon{q}"),
        "sm.import_source AS " + ("sample_import_source" if en
                                  else
                                  f"{q}source_importation_échantillon{q}"),
        "sm.import_source_id AS "
        + ("sample_import_source_id" if en
           else f"{q}id_source_importation_échantillon{q}"),
        "sm.note AS " + ("sample_note" if en
                         else f"{q}note_échantillon{q}"),
    ]
    tail = [
        "r.parameter_id",
        f"{co('p.param_name_fr', 'p.param_name')} AS "
        + ("parameter_name" if en else f"{q}nom_paramètre{q}"),
        "p.cas_number",
        "r.matrix_state_id", "ms.matrix_state_code",
        f"{co('ms.matrix_state_name_fr', 'ms.matrix_state_name')} AS "
        + ("matrix_state_name" if en else f"{q}état_matrice{q}"),
        "u.unit_name AS " + ("units" if en else f"{q}unités{q}"),
        "r.sample_fraction_id",
        "sf.sample_fraction AS "
        + ("sample_fraction" if en else f"{q}fraction_échantillon{q}"),
        "r.result_type AS result_type_id",
        "rt.result_type AS " + ("result_type" if en
                                else f"{q}type_résultat{q}"),
        "r.result AS " + ("result" if en else f"{q}résultat{q}"),
        "r.result_condition AS result_condition_id",
        "rc.result_condition AS "
        + ("result_condition" if en else f"{q}condition_résultat{q}"),
        "r.result_condition_value AS "
        + ("result_condition_value" if en
           else f"{q}valeur_condition_résultat{q}"),
        "r.result_value_type AS result_value_type_id",
        "rvt.result_value_type AS "
        + ("result_value_type" if en else f"{q}type_valeur_résultat{q}"),
        "r.result_speciation_id",
        "rs.result_speciation AS "
        + ("result_speciation" if en else f"{q}spéciation_résultat{q}"),
        "r.protocol_method AS protocol_method_id",
        "pm.protocol_name AS "
        + ("protocol_method" if en else f"{q}méthode_protocole{q}"),
        "pm.protocol_description AS "
        + ("protocol_description" if en else f"{q}description_protocole{q}"),
        "pm.url AS " + ("protocol_url" if en else "url_protocole"),
        "r.laboratory AS lab_id",
        "lab.lab_name AS " + ("lab_name" if en else "nom_laboratoire"),
        "r.analysis_datetime AS "
        + ("analysis_datetime" if en else "datetime_analyse"),
        "sm.no_update AS " + ("sample_no_update" if en
                              else f"{q}no_update_échantillon{q}"),
        "r.no_update AS " + ("result_no_update" if en
                             else f"{q}no_update_résultat{q}"),
        "sm.share_with AS " + ("sample_share_with" if en
                               else f"{q}share_with_échantillon{q}"),
        "r.share_with AS " + ("result_share_with" if en
                              else f"{q}share_with_résultat{q}"),
        "sm.private_expiry AS "
        + ("sample_private_expiry" if en
           else f"{q}private_expiry_échantillon{q}"),
        "r.private_expiry AS "
        + ("result_private_expiry" if en
           else f"{q}private_expiry_résultat{q}"),
        "r.created", "r.created_by", "r.modified", "r.modified_by",
    ]
    return ("WITH " + _META_CTES + _META_TS_CTES + _DMETA_CTES
            + _meta_rollup_ctes(lang)
            + ", smeta AS (\n    SELECT " + _dmeta_sample_cols(lang)
            + _DMETA_SAMPLE_JOINS + ")"
            + "\n    SELECT r.result_id, r.sample_id,\n           "
            + ",\n           ".join(sm_pass + tail) + """
    FROM res r
    JOIN smeta sm USING (sample_id)
    LEFT JOIN params_d p USING (parameter_id)
    LEFT JOIN mstates_d ms USING (matrix_state_id)
    LEFT JOIN unit_map um USING (parameter_id, matrix_state_id)
    LEFT JOIN unitst u ON um.unit_id = u.unit_id
    LEFT JOIN fracs sf USING (sample_fraction_id)
    LEFT JOIN rtypes rt ON r.result_type = rt.result_type_id
    LEFT JOIN rconds rc ON r.result_condition = rc.result_condition_id
    LEFT JOIN rvtypes rvt
      ON r.result_value_type = rvt.result_value_type_id
    LEFT JOIN rspecs rs USING (result_speciation_id)
    LEFT JOIN protos pm ON r.protocol_method = pm.protocol_id
    LEFT JOIN labs lab ON r.laboratory = lab.lab_id
""")


def _samples_meta(spark: SparkSession, sf_dir: str, lang: str) -> DataFrame:
    from ..operators.metadata import samples_metadata

    fx = _dmeta_fixture(spark, sf_dir)
    return samples_metadata(
        fx["samples"], fx["locations"], fx["sub_locations"],
        fx["media_types"], fx["collection_methods"], fx["sample_types"],
        fx["grade_types"], fx["approval_types"], fx["qualifier_types"],
        fx["organizations"], fx["datum_conversions_d"],
        fx["locations_projects"], fx["projects"],
        fx["locations_networks"], fx["networks"], lang=lang)


def _results_meta(spark: SparkSession, sf_dir: str, lang: str) -> DataFrame:
    from ..operators.metadata import results_metadata

    fx = _dmeta_fixture(spark, sf_dir)
    # Truncate the lineage at the samples star: without this, Catalyst
    # re-plans the full ~15-join samples subtree INSIDE the ~20-join
    # results star (one ~35-join tree — optimizer time, not data, is
    # what made results_metadata_* the two heaviest bench queries).
    # localCheckpoint materializes the catalog-sized samples view once
    # and plans the two stars separately; values are bit-identical so
    # the driver hashes are unchanged.
    sm = _samples_meta(spark, sf_dir, lang).localCheckpoint(eager=False)
    return results_metadata(
        fx["results"], sm, fx["parameters"], fx["matrix_states"],
        fx["units"], fx["sample_fractions"], fx["result_types"],
        fx["result_conditions"], fx["result_value_types"],
        fx["result_speciations"], fx["protocols_methods"],
        fx["laboratories"], lang=lang)


def _join_arrays(df: DataFrame, cols: tuple) -> DataFrame:
    """Render the rollup arrays as sorted CSV strings (both engines
    sort, so the driver's value hash is order-insensitive)."""
    out = df
    for c in cols:
        out = out.withColumn(c, F.array_join(F.col(f"`{c}`"), ","))
    return out


@register("samples_metadata_read", oracle=_dmeta_oracle_samples("en"))
def samples_metadata_read_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """discrete.samples_metadata_en (patch_43.R:171-293): the samples
    star with first-current datum elevation and project/network
    rollups."""
    return _join_arrays(_samples_meta(spark, sf_dir, "en"),
                        ("projects", "networks"))


@register("samples_metadata_fr", oracle=_dmeta_oracle_samples("fr"))
def samples_metadata_fr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """discrete.samples_metadata_fr (patch_43.R:294-418): the French
    twin — every bilingual dimension resolved COALESCE(x_fr, x), with
    NULL _fr fixture rows exercising the fallback."""
    return _join_arrays(_samples_meta(spark, sf_dir, "fr"),
                        ("projets", "réseaux"))


@register("results_metadata_read", oracle=_dmeta_oracle_results("en"))
def results_metadata_read_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """discrete.results_metadata_en (patch_43.R:419-528): results JOIN
    samples_metadata_en + result-side dims + get_parameter_unit_name
    units."""
    return _join_arrays(_results_meta(spark, sf_dir, "en"),
                        ("projects", "networks"))


@register("results_metadata_fr", oracle=_dmeta_oracle_results("fr"))
def results_metadata_fr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """discrete.results_metadata_fr (patch_43.R:529-652)."""
    return _join_arrays(_results_meta(spark, sf_dir, "fr"),
                        ("projets", "réseaux"))


# ---------------------------------------------------------------------------
# patch_36/37 instrument transmission + connection validator family:
# the deployment-meta overlap guard (patch_36.R:33), connection
# bounds/overlap (patch_37.R:503,611), logger capability /
# protocol dependents (:1106,1130), and the telemetry-setup ladder
# (:1699-2300). Shared synthetic schema below: connection /
# transmission identity fields derive from c_custkey mod a SMALL
# residue (105 / 114) so duplicate-tuple overlaps genuinely occur,
# while periods derive from larger residues so only SOME duplicates
# overlap in time — every trigger arm fires on the sf0.01 battery.
# ---------------------------------------------------------------------------


def _transmission_fixture(spark, sf_dir):
    """deployments (reused from _instruments_fixture), extended
    connections (+port/scope/address), transmission setups,
    transmission components, instrument capability flags, protocols."""
    dep, _, _, _ = _instruments_fixture(spark, sf_dir)
    c = _t(spark, sf_dir, "customer")
    m = F.col("c_custkey")
    r = m % 105
    r2 = m % 114
    d0 = F.lit("2020-01-01").cast("date")
    conn = c.where(m % 3 == 1).select(
        m.alias("connection_id"),
        F.when(m % 11 == 0, m).otherwise(3 * (1 + r % 40))
        .alias("instrument_metadata_id"),
        F.when(m % 23 == 0, m + 1).otherwise(3 * (1 + r % 35))
        .alias("logger_metadata_id"),
        F.when(m % 29 == 0, F.lit(99)).otherwise(r % 5)
        .alias("protocol_id"),
        F.when(r % 4 != 0, F.concat(F.lit("P"), (r % 4).cast("string")))
        .alias("logger_port"),
        F.when(r % 6 != 0, F.concat(F.lit("S"), (r % 2).cast("string")))
        .alias("address_scope"),
        F.when(r % 5 != 3, (r % 7).cast("string"))
        .alias("device_address"),
        F.date_add(d0, (m % 210).cast("int")).cast("timestamp")
        .alias("start_datetime"),
        F.when(m % 8 != 0,
               F.date_add(d0, (m % 210 + 150).cast("int"))
               .cast("timestamp")).alias("end_datetime"),
    )
    setups = c.where(m % 3 == 2).select(
        m.alias("transmission_setup_id"),
        F.when(m % 13 == 0, m).otherwise(3 * (1 + r2 % 38))
        .alias("logger_metadata_id"),
        (r2 % 4).alias("transmission_method_id"),
        F.when(r2 % 5 != 0, F.concat(F.lit("prov"), (r2 % 3).cast("string")))
        .alias("provider_name"),
        F.when(r2 % 7 != 0, F.concat(F.lit("plat"), (r2 % 4).cast("string")))
        .alias("platform_identifier"),
        F.date_add(d0, (m % 228).cast("int")).cast("timestamp")
        .alias("start_datetime"),
        F.when(m % 6 != 0,
               F.date_add(d0, (m % 228 + 150).cast("int"))
               .cast("timestamp")).alias("end_datetime"),
    )
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    components = o.where(k % 5 == 0).select(
        k.alias("transmission_component_id"),
        F.when(k % 17 == 0, 3 * (k % 45)).otherwise(2 + 3 * (k % 45))
        .alias("transmission_setup_id"),
        F.when(k % 19 == 0, 3 * (1 + k % 42) + 1)
        .otherwise(3 * (1 + k % 42)).alias("component_metadata_id"),
        (k % 3).alias("transmission_component_role_id"),
    )
    p = _t(spark, sf_dir, "part").where(F.col("p_partkey") <= 400)
    instr = p.select(
        F.col("p_partkey").alias("instrument_id"),
        F.when(F.col("p_partkey") % 17 != 0, F.col("p_partkey") % 5 != 2)
        .alias("can_be_logger"),
        F.when(F.col("p_partkey") % 23 != 0, F.col("p_partkey") % 7 != 3)
        .alias("can_be_telemetry_component"),
    )
    protocols = _ldf(
        spark,
        [(0, "internal"), (1, "sdi12"), (2, "modbus"), (3, "analog"),
         (4, "rs232")],
        "protocol_id bigint, family_code string",
    )
    return dep, conn, setups, components, instr, protocols


_TRANS_FIXTURE_SQL = _INSTR_FIXTURE_SQL + """
    , tconn AS (
      SELECT c_custkey AS connection_id,
             CASE WHEN c_custkey % 11 = 0 THEN c_custkey
                  ELSE 3 * (1 + (c_custkey % 105) % 40)
             END AS instrument_metadata_id,
             CASE WHEN c_custkey % 23 = 0 THEN c_custkey + 1
                  ELSE 3 * (1 + (c_custkey % 105) % 35)
             END AS logger_metadata_id,
             CASE WHEN c_custkey % 29 = 0 THEN 99
                  ELSE (c_custkey % 105) % 5 END AS protocol_id,
             CASE WHEN (c_custkey % 105) % 4 = 0 THEN NULL
                  ELSE 'P' || CAST((c_custkey % 105) % 4 AS VARCHAR)
             END AS logger_port,
             CASE WHEN (c_custkey % 105) % 6 = 0 THEN NULL
                  ELSE 'S' || CAST((c_custkey % 105) % 2 AS VARCHAR)
             END AS address_scope,
             CASE WHEN (c_custkey % 105) % 5 = 3 THEN NULL
                  ELSE CAST((c_custkey % 105) % 7 AS VARCHAR)
             END AS device_address,
             CAST(DATE '2020-01-01' + (c_custkey % 210) * INTERVAL 1 DAY
                  AS TIMESTAMP) AS start_datetime,
             CASE WHEN c_custkey % 8 = 0 THEN NULL
                  ELSE CAST(DATE '2020-01-01'
                            + (c_custkey % 210 + 150) * INTERVAL 1 DAY
                            AS TIMESTAMP) END AS end_datetime
      FROM customer WHERE c_custkey % 3 = 1
    ), tsetup AS (
      SELECT c_custkey AS transmission_setup_id,
             CASE WHEN c_custkey % 13 = 0 THEN c_custkey
                  ELSE 3 * (1 + (c_custkey % 114) % 38)
             END AS logger_metadata_id,
             (c_custkey % 114) % 4 AS transmission_method_id,
             CASE WHEN (c_custkey % 114) % 5 = 0 THEN NULL
                  ELSE 'prov' || CAST((c_custkey % 114) % 3 AS VARCHAR)
             END AS provider_name,
             CASE WHEN (c_custkey % 114) % 7 = 0 THEN NULL
                  ELSE 'plat' || CAST((c_custkey % 114) % 4 AS VARCHAR)
             END AS platform_identifier,
             CAST(DATE '2020-01-01' + (c_custkey % 228) * INTERVAL 1 DAY
                  AS TIMESTAMP) AS start_datetime,
             CASE WHEN c_custkey % 6 = 0 THEN NULL
                  ELSE CAST(DATE '2020-01-01'
                            + (c_custkey % 228 + 150) * INTERVAL 1 DAY
                            AS TIMESTAMP) END AS end_datetime
      FROM customer WHERE c_custkey % 3 = 2
    ), tcomp AS (
      SELECT o_orderkey AS transmission_component_id,
             CASE WHEN o_orderkey % 17 = 0 THEN 3 * (o_orderkey % 45)
                  ELSE 2 + 3 * (o_orderkey % 45)
             END AS transmission_setup_id,
             CASE WHEN o_orderkey % 19 = 0 THEN 3 * (1 + o_orderkey % 42) + 1
                  ELSE 3 * (1 + o_orderkey % 42)
             END AS component_metadata_id,
             o_orderkey % 3 AS transmission_component_role_id
      FROM orders WHERE o_orderkey % 5 = 0
    ), tinstr AS (
      SELECT p_partkey AS instrument_id,
             CASE WHEN p_partkey % 17 = 0 THEN NULL
                  ELSE p_partkey % 5 <> 2 END AS can_be_logger,
             CASE WHEN p_partkey % 23 = 0 THEN NULL
                  ELSE p_partkey % 7 <> 3 END AS can_be_telemetry_component
      FROM part WHERE p_partkey <= 400
    ), tprot AS (
      SELECT * FROM (VALUES (0, 'internal'), (1, 'sdi12'), (2, 'modbus'),
                            (3, 'analog'), (4, 'rs232'))
        AS t(protocol_id, family_code)
    )
"""


_META_OVERLAP_ORACLE = "WITH " + _TRANS_FIXTURE_SQL + """
    SELECT d.metadata_id, d.location_id, d.sub_location_id, d.z_id,
           d.instrument_id,
           EXISTS (
             SELECT 1 FROM dep o
             WHERE o.location_id = d.location_id
               AND o.sub_location_id IS NOT DISTINCT FROM d.sub_location_id
               AND o.z_id IS NOT DISTINCT FROM d.z_id
               AND o.instrument_id IS NOT DISTINCT FROM d.instrument_id
               AND o.metadata_id <> d.metadata_id
               AND d.start_datetime <
                 coalesce(o.end_datetime, TIMESTAMP '9999-01-01')
               AND coalesce(d.end_datetime, TIMESTAMP '9999-01-01') >
                 o.start_datetime
           ) AS overlap_violation
    FROM dep d
"""


@register("instrument_meta_overlap", oracle=_META_OVERLAP_ORACLE)
def instrument_meta_overlap_q(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """patch_36.R:33-57 check_instrument_meta_overlap set-wise: every
    deployment row flagged when another row shares its (location,
    sub_location, z, instrument) key — nullable parts IS NOT DISTINCT
    FROM — with an overlapping [start, coalesce(end, inf)) period."""
    from ..operators.instruments import instrument_meta_overlap

    dep, _, _, _, _, _ = _transmission_fixture(spark, sf_dir)
    return instrument_meta_overlap(dep)


_CONN_CHECK_ORACLE = "WITH " + _TRANS_FIXTURE_SQL + """
    , j AS (
      SELECT c.connection_id, c.instrument_metadata_id,
             c.logger_metadata_id, c.protocol_id,
             c.start_datetime AS cs,
             coalesce(c.end_datetime, TIMESTAMP '9999-01-01') AS ce,
             i.metadata_id IS NOT NULL AS has_i,
             i.instrument_id AS i_inst, i.location_id AS i_loc,
             i.start_datetime AS i_s,
             coalesce(i.end_datetime, TIMESTAMP '9999-01-01') AS i_e,
             l.metadata_id IS NOT NULL AS has_l,
             l.instrument_id AS l_inst, l.location_id AS l_loc,
             l.start_datetime AS l_s,
             coalesce(l.end_datetime, TIMESTAMP '9999-01-01') AS l_e,
             p.family_code, li.can_be_logger
      FROM tconn c
      LEFT JOIN dep i ON i.metadata_id = c.instrument_metadata_id
      LEFT JOIN dep l ON l.metadata_id = c.logger_metadata_id
      LEFT JOIN tprot p ON p.protocol_id = c.protocol_id
      LEFT JOIN tinstr li ON li.instrument_id = l.instrument_id
    ), dup AS (
      SELECT DISTINCT a.connection_id FROM tconn a JOIN tconn b
        ON b.instrument_metadata_id = a.instrument_metadata_id
       AND b.logger_metadata_id = a.logger_metadata_id
       AND b.protocol_id = a.protocol_id
       AND coalesce(b.logger_port, '') = coalesce(a.logger_port, '')
       AND coalesce(b.address_scope, '') = coalesce(a.address_scope, '')
       AND coalesce(b.device_address, '') = coalesce(a.device_address, '')
       AND b.connection_id <> a.connection_id
       AND a.start_datetime <
         coalesce(b.end_datetime, TIMESTAMP '9999-01-01')
       AND coalesce(a.end_datetime, TIMESTAMP '9999-01-01') >
         b.start_datetime
    ), addr AS (
      SELECT DISTINCT a.connection_id FROM tconn a JOIN tconn b
        ON b.logger_metadata_id = a.logger_metadata_id
       AND b.protocol_id = a.protocol_id
       AND coalesce(b.logger_port, '') = coalesce(a.logger_port, '')
       AND coalesce(b.address_scope, '') = coalesce(a.address_scope, '')
       AND b.device_address = a.device_address
       AND b.connection_id <> a.connection_id
       AND a.start_datetime <
         coalesce(b.end_datetime, TIMESTAMP '9999-01-01')
       AND coalesce(a.end_datetime, TIMESTAMP '9999-01-01') >
         b.start_datetime
      WHERE a.device_address IS NOT NULL
    )
    SELECT j.connection_id, j.instrument_metadata_id,
           j.logger_metadata_id, j.protocol_id,
           CASE WHEN NOT has_i THEN 'unknown_instrument_deployment'
                WHEN NOT has_l THEN 'unknown_logger_deployment'
                WHEN family_code IS NULL THEN 'unknown_protocol'
                WHEN i_inst IS NULL THEN 'instrument_not_deployed'
                WHEN l_inst IS NULL THEN 'logger_not_deployed'
                WHEN can_be_logger IS DISTINCT FROM TRUE
                  THEN 'logger_not_capable'
                WHEN family_code = 'internal'
                     AND j.instrument_metadata_id <> j.logger_metadata_id
                  THEN 'internal_protocol_split_deployment'
                WHEN family_code <> 'internal'
                     AND j.instrument_metadata_id = j.logger_metadata_id
                  THEN 'shared_deployment_not_internal'
                WHEN i_loc <> l_loc THEN 'location_mismatch'
                WHEN cs < i_s OR cs < l_s THEN 'start_before_deployment'
                WHEN ce > i_e THEN 'end_beyond_instrument'
                WHEN ce > l_e THEN 'end_beyond_logger'
           END AS reject_reason,
           d.connection_id IS NOT NULL AS duplicate_overlap,
           ad.connection_id IS NOT NULL AS address_conflict
    FROM j
    LEFT JOIN dup d ON d.connection_id = j.connection_id
    LEFT JOIN addr ad ON ad.connection_id = j.connection_id
"""


@register("instrument_connection_check", oracle=_CONN_CHECK_ORACLE)
def instrument_connection_check(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """patch_37.R:503-668 check_instrument_connection_bounds +
    check_instrument_connection_overlap set-wise: every connection row
    labelled with the first failing bounds check (12-arm ladder) plus
    the two overlap-trigger probes (duplicate tuple, device-address
    reuse) as flags."""
    from ..operators.instruments import connection_bounds_validation

    dep, conn, _, _, instr, protocols = _transmission_fixture(
        spark, sf_dir)
    return connection_bounds_validation(conn, dep, instr, protocols)


_SETUP_CHECK_ORACLE = "WITH " + _TRANS_FIXTURE_SQL + """
    , sj AS (
      SELECT s.transmission_setup_id, s.logger_metadata_id,
             s.transmission_method_id,
             s.start_datetime AS ss,
             coalesce(s.end_datetime, TIMESTAMP '9999-01-01') AS se,
             l.metadata_id IS NOT NULL AS has_l,
             l.instrument_id AS l_inst, l.location_id AS l_loc,
             l.start_datetime AS ls,
             coalesce(l.end_datetime, TIMESTAMP '9999-01-01') AS le,
             li.can_be_logger
      FROM tsetup s
      LEFT JOIN dep l ON l.metadata_id = s.logger_metadata_id
      LEFT JOIN tinstr li ON li.instrument_id = l.instrument_id
    ), sdup AS (
      SELECT DISTINCT a.transmission_setup_id FROM tsetup a JOIN tsetup b
        ON b.logger_metadata_id = a.logger_metadata_id
       AND b.transmission_method_id = a.transmission_method_id
       AND coalesce(b.provider_name, '') = coalesce(a.provider_name, '')
       AND coalesce(b.platform_identifier, '') =
         coalesce(a.platform_identifier, '')
       AND b.transmission_setup_id <> a.transmission_setup_id
       AND a.start_datetime <
         coalesce(b.end_datetime, TIMESTAMP '9999-01-01')
       AND coalesce(a.end_datetime, TIMESTAMP '9999-01-01') >
         b.start_datetime
    ), sspan AS (
      SELECT DISTINCT sj.transmission_setup_id
      FROM sj
      JOIN tcomp tc
        ON tc.transmission_setup_id = sj.transmission_setup_id
      JOIN dep c ON c.metadata_id = tc.component_metadata_id
      LEFT JOIN tinstr ci ON ci.instrument_id = c.instrument_id
      WHERE c.instrument_id IS NULL
         OR (coalesce(ci.can_be_telemetry_component, FALSE)
               IS DISTINCT FROM TRUE
             AND coalesce(ci.can_be_logger, FALSE) IS DISTINCT FROM TRUE)
         OR c.location_id <> sj.l_loc
         OR sj.ss < c.start_datetime
         OR sj.se > coalesce(c.end_datetime, TIMESTAMP '9999-01-01')
    )
    SELECT sj.transmission_setup_id, sj.logger_metadata_id,
           sj.transmission_method_id,
           CASE WHEN NOT has_l THEN 'unknown_logger_deployment'
                WHEN l_inst IS NULL THEN 'logger_not_deployed'
                WHEN can_be_logger IS DISTINCT FROM TRUE
                  THEN 'logger_not_capable'
                WHEN ss < ls THEN 'start_before_logger'
                WHEN se > le THEN 'end_beyond_logger'
           END AS reject_reason,
           d.transmission_setup_id IS NOT NULL AS duplicate_overlap,
           sp.transmission_setup_id IS NOT NULL AS components_not_spanning
    FROM sj
    LEFT JOIN sdup d
      ON d.transmission_setup_id = sj.transmission_setup_id
    LEFT JOIN sspan sp
      ON sp.transmission_setup_id = sj.transmission_setup_id
"""


@register("transmission_setup_validation", oracle=_SETUP_CHECK_ORACLE)
def transmission_setup_validation_q(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """patch_37.R:1699-1790 + :2136-2210: the telemetry-setup bounds
    ladder, the duplicate-overlap probe, and the component-span probe
    replayed for every locations_metadata_transmission_setups row."""
    from ..operators.instruments import transmission_setup_validation

    dep, _, setups, components, instr, _ = _transmission_fixture(
        spark, sf_dir)
    return transmission_setup_validation(setups, components, dep, instr)


_COMP_CHECK_ORACLE = "WITH " + _TRANS_FIXTURE_SQL + """
    , cj AS (
      SELECT tc.transmission_component_id, tc.transmission_setup_id,
             tc.component_metadata_id,
             s.transmission_setup_id IS NOT NULL AS has_setup,
             s.start_datetime AS ss,
             coalesce(s.end_datetime, TIMESTAMP '9999-01-01') AS se,
             l.metadata_id IS NOT NULL AS has_logger,
             l.instrument_id AS l_inst, l.location_id AS l_loc,
             li.can_be_logger,
             c.metadata_id IS NOT NULL AS has_comp,
             c.instrument_id AS c_inst, c.location_id AS c_loc,
             c.start_datetime AS cs,
             coalesce(c.end_datetime, TIMESTAMP '9999-01-01') AS ce,
             ci.can_be_telemetry_component AS c_can_comp,
             ci.can_be_logger AS c_can_log
      FROM tcomp tc
      LEFT JOIN tsetup s
        ON s.transmission_setup_id = tc.transmission_setup_id
      LEFT JOIN dep l ON l.metadata_id = s.logger_metadata_id
      LEFT JOIN tinstr li ON li.instrument_id = l.instrument_id
      LEFT JOIN dep c ON c.metadata_id = tc.component_metadata_id
      LEFT JOIN tinstr ci ON ci.instrument_id = c.instrument_id
    )
    SELECT transmission_component_id, transmission_setup_id,
           component_metadata_id,
           CASE WHEN NOT has_setup THEN 'unknown_setup'
                WHEN NOT has_logger THEN 'unknown_logger_deployment'
                WHEN l_inst IS NULL THEN 'logger_not_deployed'
                WHEN can_be_logger IS DISTINCT FROM TRUE
                  THEN 'logger_not_capable'
                WHEN NOT has_comp THEN 'unknown_component_deployment'
                WHEN c_inst IS NULL THEN 'component_not_deployed'
                WHEN (coalesce(c_can_comp, FALSE)
                      OR coalesce(c_can_log, FALSE)) IS DISTINCT FROM TRUE
                  THEN 'component_not_capable'
                WHEN c_loc <> l_loc THEN 'location_mismatch'
                WHEN ss < cs THEN 'component_starts_late'
                WHEN se > ce THEN 'component_ends_early'
           END AS reject_reason
    FROM cj
"""


@register("transmission_component_check", oracle=_COMP_CHECK_ORACLE)
def transmission_component_check(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """patch_37.R:2032-2133 check_transmission_component_bounds: the
    trigger's lookup-and-RAISE chain as a 10-arm first-failure ladder
    over every transmission component row."""
    from ..operators.instruments import transmission_component_validation

    dep, _, setups, components, instr, _ = _transmission_fixture(
        spark, sf_dir)
    return transmission_component_validation(
        components, setups, dep, instr)


_CAPABILITY_ORACLE = "WITH " + _TRANS_FIXTURE_SQL + """
    , u1 AS (
      SELECT DISTINCT d.instrument_id FROM dep d
      WHERE EXISTS (SELECT 1 FROM tconn c
                    WHERE c.logger_metadata_id = d.metadata_id)
    ), u2 AS (
      SELECT DISTINCT d.instrument_id FROM dep d
      WHERE EXISTS (SELECT 1 FROM tsetup s
                    WHERE s.logger_metadata_id = d.metadata_id)
    ), u3 AS (
      SELECT DISTINCT d.instrument_id FROM dep d
      WHERE EXISTS (SELECT 1 FROM tcomp tc
                    WHERE tc.component_metadata_id = d.metadata_id)
    )
    SELECT i.instrument_id,
           u1.instrument_id IS NOT NULL AS used_as_connection_logger,
           u2.instrument_id IS NOT NULL AS used_as_transmission_logger,
           u3.instrument_id IS NOT NULL AS used_as_component,
           (i.can_be_logger IS DISTINCT FROM TRUE)
             AND (u1.instrument_id IS NOT NULL
                  OR u2.instrument_id IS NOT NULL)
             AS logger_capability_violation,
           (i.can_be_logger IS DISTINCT FROM TRUE)
             AND (i.can_be_telemetry_component IS DISTINCT FROM TRUE)
             AND u3.instrument_id IS NOT NULL
             AS component_capability_violation
    FROM tinstr i
    LEFT JOIN u1 ON u1.instrument_id = i.instrument_id
    LEFT JOIN u2 ON u2.instrument_id = i.instrument_id
    LEFT JOIN u3 ON u3.instrument_id = i.instrument_id
"""


@register("transmission_capability_check", oracle=_CAPABILITY_ORACLE)
def transmission_capability_check(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """patch_37.R:1106-1128 check_instrument_logger_capability +
    :2300-2346 check_instrument_transmission_capabilities for every
    instrument at once: usage resolved through deployment semi-joins
    against connections / setups / components, capability-drop
    violations flagged the trigger's way. The raw nullable capability
    flags stay in the operator output but are projected out here: the
    driver compare stringifies nullable booleans differently per
    engine ('None' vs 'nan'), and the non-null violation flags already
    encode the trigger's decision."""
    from ..operators.instruments import transmission_capability_validation

    dep, conn, setups, components, instr, _ = _transmission_fixture(
        spark, sf_dir)
    return transmission_capability_validation(
        instr, dep, conn, setups, components).select(
        "instrument_id", "used_as_connection_logger",
        "used_as_transmission_logger", "used_as_component",
        "logger_capability_violation", "component_capability_violation")


_PROT_DEP_ORACLE = "WITH " + _TRANS_FIXTURE_SQL + """
    , v AS (
      SELECT c.protocol_id,
             CAST(sum(CASE WHEN (pp.family_code = 'internal'
                                 AND c.instrument_metadata_id
                                     <> c.logger_metadata_id)
                             OR (pp.family_code <> 'internal'
                                 AND c.instrument_metadata_id
                                     = c.logger_metadata_id)
                      THEN 1 ELSE 0 END) AS BIGINT) AS n
      FROM tconn c JOIN tprot pp ON pp.protocol_id = c.protocol_id
      GROUP BY c.protocol_id
    )
    SELECT p.protocol_id, p.family_code,
           coalesce(v.n, 0) AS violating_connections,
           coalesce(v.n, 0) > 0 AS would_invalidate
    FROM tprot p LEFT JOIN v ON v.protocol_id = p.protocol_id
"""


@register("protocol_dependents_check", oracle=_PROT_DEP_ORACLE)
def protocol_dependents_check(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """patch_37.R:1130-1160 check_communication_protocol_dependents,
    per protocol: how many of its connections violate the
    internal-family ⇔ same-deployment invariant the trigger probes."""
    from ..operators.instruments import protocol_dependents_validation

    _, conn, _, _, _, protocols = _transmission_fixture(spark, sf_dir)
    return protocol_dependents_validation(protocols, conn)


_DEP_TRANS_ORACLE = "WITH " + _TRANS_FIXTURE_SQL + """
    , sl AS (
      SELECT s.transmission_setup_id, s.logger_metadata_id,
             s.start_datetime AS ss,
             coalesce(s.end_datetime, TIMESTAMP '9999-01-01') AS se,
             l.location_id AS l_loc, l.instrument_id AS l_inst,
             l.start_datetime AS ls,
             coalesce(l.end_datetime, TIMESTAMP '9999-01-01') AS le,
             li.can_be_logger
      FROM tsetup s
      JOIN dep l ON l.metadata_id = s.logger_metadata_id
      LEFT JOIN tinstr li ON li.instrument_id = l.instrument_id
    ), b1 AS (
      SELECT DISTINCT logger_metadata_id AS metadata_id FROM sl
      WHERE l_inst IS NULL OR can_be_logger IS DISTINCT FROM TRUE
         OR ss < ls OR se > le
    ), badrow AS (
      SELECT sl.logger_metadata_id, tc.component_metadata_id
      FROM tcomp tc
      JOIN sl ON sl.transmission_setup_id = tc.transmission_setup_id
      JOIN dep c ON c.metadata_id = tc.component_metadata_id
      LEFT JOIN tinstr ci ON ci.instrument_id = c.instrument_id
      WHERE sl.l_inst IS NULL
         OR sl.can_be_logger IS DISTINCT FROM TRUE
         OR c.instrument_id IS NULL
         OR (coalesce(ci.can_be_telemetry_component, FALSE)
               IS DISTINCT FROM TRUE
             AND coalesce(ci.can_be_logger, FALSE) IS DISTINCT FROM TRUE)
         OR c.location_id <> sl.l_loc
         OR sl.ss < sl.ls OR sl.se > sl.le
         OR sl.ss < c.start_datetime
         OR sl.se > coalesce(c.end_datetime, TIMESTAMP '9999-01-01')
    ), b2 AS (
      SELECT DISTINCT metadata_id FROM (
        SELECT logger_metadata_id AS metadata_id FROM badrow
        UNION ALL
        SELECT component_metadata_id AS metadata_id FROM badrow
      )
    )
    SELECT d.metadata_id,
           b1.metadata_id IS NOT NULL AS invalid_setup_metadata,
           b2.metadata_id IS NOT NULL AS invalid_component_metadata,
           NOT (b1.metadata_id IS NOT NULL
                OR b2.metadata_id IS NOT NULL) AS valid
    FROM dep d
    LEFT JOIN b1 ON b1.metadata_id = d.metadata_id
    LEFT JOIN b2 ON b2.metadata_id = d.metadata_id
"""


@register("deployment_transmission_dependents", oracle=_DEP_TRANS_ORACLE)
def deployment_transmission_dependents_q(spark: SparkSession,
                                         sf_dir: str) -> DataFrame:
    """patch_37.R:2230-2298
    check_locations_metadata_instruments_transmission_dependents for
    every deployment: probe 1 flags deployments whose telemetry setups
    would become invalid, probe 2 flags those reachable (as logger or
    component) from a violating component×setup row."""
    from ..operators.instruments import (
        deployment_transmission_dependents)

    dep, _, setups, components, instr, _ = _transmission_fixture(
        spark, sf_dir)
    return deployment_transmission_dependents(
        dep, setups, components, instr)


_TS_DEPENDENTS_ORACLE = "WITH " + _INSTR_FIXTURE_SQL + """
    SELECT t.timeseries_id, t.parameter_id, t.location_id,
           t.sub_location_id, t.z_id,
           EXISTS (
             SELECT 1 FROM sig s
             JOIN conn c ON c.connection_id = s.connection_id
             JOIN dep i ON i.metadata_id = c.instrument_metadata_id
             WHERE s.timeseries_id = t.timeseries_id
               AND (t.location_id <> i.location_id
                    OR t.sub_location_id IS DISTINCT FROM i.sub_location_id
                    OR (i.z_id IS NOT NULL
                        AND t.z_id IS DISTINCT FROM i.z_id)
                    OR (s.parameter_id IS NOT NULL
                        AND t.parameter_id IS DISTINCT FROM s.parameter_id))
           ) AS dependents_violation
    FROM ts t
"""


@register("timeseries_dependents_check", oracle=_TS_DEPENDENTS_ORACLE)
def timeseries_dependents_check_q(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """patch_37.R:1072-1101 public.check_timeseries_dependents
    set-wise: every timeseries row flagged when updating it would
    invalidate instrument connection-signal metadata — any linked
    signals→connections→deployments row disagreeing on location,
    sub-location (IS DISTINCT FROM), z (deployment-side z set), or a
    signal-pinned parameter. Completes the patch_36/37 trigger family
    (the 11 forward-direction validators landed in r10; this is the
    reverse-direction probe)."""
    from ..operators.instruments import timeseries_dependents_check

    dep, ts, conn, sig = _instruments_fixture(spark, sf_dir)
    return timeseries_dependents_check(ts, sig, conn, dep)
