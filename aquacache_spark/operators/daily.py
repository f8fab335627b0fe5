"""Daily rollup with aggregation-type dispatch.

Reference semantics (inst/patches/patch_48.R:326-390): per
``(timeseries_id, local-offset date)`` choose the daily value by the
series' ``aggregation_type``:

    instantaneous|mean -> AVG    sum -> SUM      min -> MIN
    max -> MAX                   median -> exact percentile_cont(0.5)
    (min+max)/2 -> (MIN+MAX)/2

plus ``BOOL_OR(imputed)`` and a point count. The local day is the UTC
timestamp shifted by an *integer hour offset* per series
(``timezone_daily_calc``, inst/patches/patch_48.R:234,318-325) — an
arithmetic shift, deliberately not a named timezone.

Spark-first: one ``groupBy(keys, to_date(dt + offset)).agg(...)`` —
partial aggregation map-side, single shuffle on the grouping keys.
Exact median uses ``percentile`` (sort-based exact agg, matching
``percentile_cont`` — never ``percentile_approx``, which would break
oracle hash-equality). At 100 TB: the shuffle key (series, date) is the
table's clustering key, so AQE coalesces to near-local aggregation and
skew (one hot series) is split by the skew-join/agg rules.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Mean/sum accumulate through exact integer micro-units so the result is
# bit-identical regardless of partition count / merge order — floating
# sums are order-dependent, which would make daily values depend on the
# cluster layout (and break oracle hash-equality). Sensor/monetary
# values carry <= 6 decimals, so the 1e6 scaling is lossless; long sums
# stay exact up to 9.2e12 value-units per group. Long-backed sums also
# run ~10x faster than wide DecimalType accumulation.
_SCALE = 1_000_000


def exact_sum(value: Column) -> Column:
    """Order-independent sum: exact for values with <= 6 decimals.

    CONTRACT: inputs are quantized to 1e-6 before accumulating. For
    sensor/monetary data (<= 6 decimals) this is lossless; full-
    precision derived values (scaled/drifted corrections) are rounded
    at the 7th decimal, a documented divergence from the reference's
    arbitrary-precision ``numeric`` in exchange for partition-order-
    independent (bit-reproducible) sums. Callers needing the
    reference's exact decimal semantics should aggregate a DecimalType
    column instead.
    """
    return F.sum(F.floor(value * _SCALE + F.lit(0.5)).cast("long")) / float(_SCALE)


def exact_mean(value: Column) -> Column:
    return exact_sum(value) / F.count(value)


def daily_value(value: Column, agg_type: str) -> Column:
    """The daily-value aggregate for one aggregation_type (patch_48.R:358-380)."""
    if agg_type in ("instantaneous", "mean"):
        return exact_mean(value)
    if agg_type == "sum":
        return exact_sum(value)
    if agg_type == "min":
        return F.min(value)
    if agg_type == "max":
        return F.max(value)
    if agg_type == "median":
        return F.expr("percentile(__daily_v__, 0.5D)")
    if agg_type == "(min+max)/2":
        return (F.min(value) + F.max(value)) / F.lit(2.0)
    raise ValueError(f"unknown aggregation_type {agg_type!r}")


def local_day(dt_col: Column, offset_hours: int = 0,
              tz: str | None = None) -> Column:
    """UTC timestamp -> local date. ``offset_hours`` is the reference's
    integer arithmetic shift (timezone_daily_calc); ``tz`` instead
    applies a NAMED zone through the JVM tz database
    (``from_utc_timestamp``), closing the DST gap for deployments
    configured with zones that observe it — still a pure map-side
    expression."""
    if tz is not None and offset_hours:
        raise ValueError("pass offset_hours or tz, not both")
    if tz is not None:
        return F.to_date(F.from_utc_timestamp(dt_col, tz))
    if offset_hours:
        dt_col = dt_col + F.expr(f"INTERVAL {offset_hours} HOURS")
    return F.to_date(dt_col)


def daily_rollup(
    df: DataFrame,
    keys: Sequence[str],
    dt_col: str = "datetime",
    value_col: str = "value",
    agg_type: str = "mean",
    offset_hours: int = 0,
    imputed_col: str | None = None,
    tz: str | None = None,
) -> DataFrame:
    """Roll raw points up to one row per (keys, local date).

    Output columns: keys..., date, value, min, max, mean, count
    (+ imputed when an imputed flag column exists).
    """
    v = F.col("__daily_v__")
    base = df.withColumn("__daily_v__", F.col(value_col).cast("double"))
    aggs = [
        daily_value(v, agg_type).alias("value"),
        F.min(v).alias("min"),
        F.max(v).alias("max"),
        exact_mean(v).alias("mean"),
        F.count(v).alias("count"),
    ]
    if imputed_col:
        aggs.append(F.max(F.col(imputed_col).cast("boolean")).alias("imputed"))
    # Null handling: aggregates already ignore NULLs; days where every
    # value is NULL (e.g. fully deleted by corrections) are dropped via
    # the post-agg count guard rather than a pre-agg filter. A pre-agg
    # isNotNull filter would duplicate the (possibly huge) corrected-
    # value expression into the filter predicate and blow the
    # whole-stage-codegen method size (janino fallback observed).
    return (
        base.groupBy(
            *keys, local_day(F.col(dt_col), offset_hours, tz).alias("date"))
        .agg(*aggs)
        .where(F.col("count") > 0)
    )
