"""Incremental recompute cascade (the reference's trigger machinery).

Reference semantics (inst/patches/patch_41.R:2951-3060 +
patch_48.R:215-218,401-408):
- measurement/correction/grade/compound-definition changes enqueue
  ``(timeseries_id, min_dt, max_dt)`` ranges;
- ranges expand to *downstream compound* series via the recursive
  member closure (``downstream_timeseries_ids``, patch_41.R:2516-2538);
- only the affected (series, date-window) slices of the daily table are
  recomputed, and upserts are change-only (``IS DISTINCT FROM`` guards).

Spark-first realization: the change feed is any DataFrame of changed
ranges (in production: Delta Change Data Feed micro-batches via
``foreachBatch``); the dependency closure is ``operators.compound.reach``,
a driver-side BFS with no depth cap over the collected member graph
(compound graphs are catalog-sized, not data-sized); the recompute is
an ordinary partition-pruned batch over only the touched slices; the
merge plan classifies insert/update/unchanged so a Delta MERGE writes
only real changes.
At 100 TB correctness of this design rests on partition pruning by
``(timeseries_id, date)`` — recompute cost is proportional to changed
data, never table size.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.compound import reach


def _member_graph(
    compound_members: DataFrame,
    member_col: str,
    compound_col: str,
    seed_ids: DataFrame | None = None,
) -> tuple[dict, set]:
    """Member -> compounds adjacency (deduplicated on the driver) and
    the seed ids, fetched together in ONE Spark job: the compound graph
    is catalog-sized, so both fit on the driver."""
    rows = compound_members.select(
        F.col(member_col).alias("src"), F.col(compound_col).alias("dst"),
        F.lit(False).alias("is_seed"))
    if seed_ids is not None:
        seed = F.col(seed_ids.columns[0])
        rows = rows.unionByName(seed_ids.select(
            seed.alias("src"), seed.alias("dst"),
            F.lit(True).alias("is_seed")))
    adj: dict = {}
    seeds = set()
    for src, dst, is_seed in rows.collect():
        if is_seed:
            seeds.add(src)
        else:
            adj.setdefault(src, set()).add(dst)
    return adj, seeds


def downstream_closure(
    compound_members: DataFrame,
    seed_ids: DataFrame,
    member_col: str = "member_timeseries_id",
    compound_col: str = "timeseries_id",
) -> DataFrame:
    """Transitive closure: all compounds depending (directly or through
    nested compounds) on the seed series, seeds included.

    Port of WITH RECURSIVE downstream_timeseries_ids
    (patch_41.R:2516-2538). The compound graph is *catalog*-sized
    (thousands of definitions, never fact-scale), so the closure runs
    as a driver-side BFS with no depth cap: one Spark job fetches the
    edges and the seeds, and no job runs per iteration.
    """
    adj, seeds = _member_graph(compound_members, member_col, compound_col,
                               seed_ids)
    ids = seeds | reach(adj, seeds)
    spark = compound_members.sparkSession
    return spark.createDataFrame([(i,) for i in sorted(ids)], ["id"])


def expand_changed_ranges(
    changes: DataFrame,
    compound_members: DataFrame,
    ts_col: str = "timeseries_id",
    min_col: str = "min_dt",
    max_col: str = "max_dt",
) -> DataFrame:
    """Changed (series, range) -> + (downstream compound, same range),
    coalesced per series (patch_41.R:2959-2981).

    The (src, reachable-downstream) pair set is computed driver-side
    from the catalog-sized member graph, then applied to the changed
    ranges with ONE broadcast join — no per-level Spark jobs.
    """
    adj, _ = _member_graph(compound_members, "member_timeseries_id",
                           "timeseries_id")
    pairs = [(s, d) for s in adj for d in reach(adj, {s})]
    spark = changes.sparkSession
    out = changes
    if pairs:
        pair_df = spark.createDataFrame(pairs, [ts_col, "__down"])
        fanned = (
            changes.join(F.broadcast(pair_df), ts_col)
            .select(F.col("__down").alias(ts_col), F.col(min_col), F.col(max_col))
        )
        out = changes.unionByName(fanned)
    return (
        out.groupBy(ts_col)
        .agg(F.min(min_col).alias(min_col), F.max(max_col).alias(max_col))
    )


def changed_ranges_from_cdf(
    cdf: DataFrame,
    ts_col: str = "timeseries_id",
    dt_col: str = "datetime",
) -> DataFrame:
    """ParquetMergeStore.changes() output -> the (series, min_dt,
    max_dt) frame incremental_daily_refresh consumes — the
    lakehouse-native trigger: instead of the reference's row triggers
    enqueuing (timeseries_id, range) work items (patch_48.R:401-408),
    the change data feed between two store commits IS the work list.
    Pre/postimages and deletes all widen the affected range; one
    partial-aggregable groupBy on the series."""
    return cdf.groupBy(F.col(ts_col)).agg(
        F.min(dt_col).alias("min_dt"),
        F.max(dt_col).alias("max_dt"),
    )


def incremental_daily_refresh(
    measurements: DataFrame,
    changed_ranges: DataFrame,
    existing_daily: DataFrame,
    rollup: Callable[[DataFrame], DataFrame],
    ts_col: str = "timeseries_id",
    dt_col: str = "datetime",
    date_col: str = "date",
) -> DataFrame:
    """Recompute only the changed (series, date-window) daily slices and
    classify against the existing daily rows (change-only upsert plan).

    Output: recomputed daily rows + ``merge_action`` ∈
    {insert, update, unchanged} — exactly what feeds a Delta MERGE with
    ``WHEN MATCHED AND <changed> THEN UPDATE`` (patch_48.R:401-408).
    A row is ``insert`` only when its (series, date) key is absent from
    the existing frame: a stored day whose value is NULL (the dense
    spine ``refresh_calculated_daily`` writes) is matched, not new.
    A row is ``unchanged`` only when every non-key column that both
    the recomputed and the existing frame carry is null-safe equal
    (the ``IS DISTINCT FROM`` guard over the whole row), so a revision
    that keeps the daily value but moves min, max, mean or count is an
    ``update``.
    Rows needing deletion (tail-trim, patch_48.R:113-200) are handled by
    trim_daily_tail.
    """
    ranged = changed_ranges.select(
        F.col(ts_col).alias("__r_ts"),
        F.to_date("min_dt").alias("__d_lo"),
        F.to_date("max_dt").alias("__d_hi"),
    )
    scoped = measurements.join(
        F.broadcast(ranged),
        (measurements[ts_col] == F.col("__r_ts"))
        & (F.to_date(dt_col) >= F.col("__d_lo"))
        & (F.to_date(dt_col) <= F.col("__d_hi")),
    ).drop("__r_ts", "__d_lo", "__d_hi")
    fresh = rollup(scoped)

    shared = [c for c in fresh.columns
              if c in existing_daily.columns and c not in (ts_col, date_col)]
    old = existing_daily.select(
        F.col(ts_col), F.col(date_col), F.lit(True).alias("__present"),
        *(F.col(c).alias(f"__old_{c}") for c in shared),
    )
    joined = fresh.join(old, [ts_col, date_col], "left")
    same = [F.col(c).eqNullSafe(F.col(f"__old_{c}")) for c in shared]
    action = (
        F.when(F.col("__present").isNull(), "insert")
        .when(reduce(lambda a, b: a & b, same), "unchanged")
        .otherwise("update")
    )
    return (joined.withColumn("merge_action", action)
            .drop("__present", *(f"__old_{c}" for c in shared)))


def trim_daily_tail(
    daily: DataFrame,
    measurements: DataFrame,
    ts_col: str = "timeseries_id",
    dt_col: str = "datetime",
    date_col: str = "date",
) -> DataFrame:
    """Daily rows past the last real measurement day, to delete
    (trim_continuous_timeseries_tail, patch_48.R:113-200)."""
    bounds = measurements.groupBy(ts_col).agg(
        F.max(F.to_date(dt_col)).alias("__last_day")
    )
    return (
        daily.join(bounds, ts_col, "inner")
        .where(F.col(date_col) > F.col("__last_day"))
        .drop("__last_day")
    )


def series_bounds(
    measurements: DataFrame,
    ts_col: str = "timeseries_id",
    dt_col: str = "datetime",
) -> DataFrame:
    """start/end_datetime maintenance (patch_41.R:1007-1051)."""
    return measurements.groupBy(ts_col).agg(
        F.min(dt_col).alias("start_datetime"), F.max(dt_col).alias("end_datetime")
    )


def high_watermarks(
    measurements: DataFrame,
    ts_col: str = "timeseries_id",
    dt_col: str = "datetime",
) -> DataFrame:
    """Per-series ingest watermark: fetch-from = max(datetime)
    (R/getNewContinuous.R:469-477)."""
    return measurements.groupBy(ts_col).agg(F.max(dt_col).alias("last_data_point"))
