"""Run-length segmentation and interval segment algebra.

Reference semantics:
- ``rle(grade)`` converts point-wise codes into ``(start_dt, end_dt,
  value)`` segments (R/adjust_functions.R:585-595).
- Segment algebra: boundary splitting, per-elementary-interval value
  resolution (new wins over old), merge of adjacent equal-valued
  segments (R/adjust_functions.R:18-250).

Spark-first: RLE is the classic gaps-and-islands composition —
``value != lag(value)`` change flags, running ``sum`` to number
segments, then groupBy segment — two window passes over data already
partitioned per series, one shuffle. No Python, fully codegen'd.
Boundary-split works on the *interval* tables (tiny QC metadata):
explode the sorted union of boundaries per series and resolve each
elementary interval — row counts are per-series segment counts, never
measurement-scale.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rle_segments(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str | Sequence[str],
    value_col: str,
) -> DataFrame:
    """Collapse consecutive equal values into segments.

    Output: keys..., value, start (first order col), end (last
    order col), n (points in the run). NULL-safe: NULL == NULL counts
    as "same run" (eqNullSafe), mirroring rle over NA-free factors plus
    the reference's null-safe diff helper (R/synchronize_continuous.R:659-668).
    ``order_col`` may be a list for deterministic tie-breaks.
    """
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    order_col = order_cols[0]
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    changed = ~F.col(value_col).eqNullSafe(F.lag(value_col).over(w))
    seg = (
        df.withColumn("__chg", F.when(changed, 1).otherwise(0))
        .withColumn("__seg", F.sum("__chg").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ))
    )
    return (
        seg.groupBy(*keys, "__seg", value_col)
        .agg(
            F.min(order_col).alias("start"),
            F.max(order_col).alias("end"),
            F.count(F.lit(1)).alias("n"),
        )
        .drop("__seg")
    )


def split_segments(
    existing: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    start_col: str = "start_dt",
    end_col: str = "end_dt",
    value_col: str = "value",
) -> DataFrame:
    """Overlay ``new`` segments onto ``existing`` (new wins), splitting at
    every boundary and merging adjacent equal-valued results.

    Port of collapse_segments_with_split + merge_overlapping_same_value
    (R/adjust_functions.R:18-250): the union of all interval boundaries
    defines elementary intervals; each takes the new value if a new
    segment covers it, else the existing value; adjacent equal values
    merge.

    Boundary-event sweep, O(b log b) per series with ONE exchange
    (pinned in tests/test_plan_shapes.py): every segment emits an open
    event ``(pos=start, ord=1, covered, value)`` and a close event
    ``(pos=end, ord=0, not-covered)``; a single per-series window
    ordered by ``(pos, ord)`` carries the per-source (new/existing)
    active state via ``last(..., ignorenulls)``, and the last event row
    at each position resolves the elementary interval that starts
    there. Replaces the former elems x segments containment join
    (O(segments^2) per series) — safe because segments within one
    source never overlap, the reference's tstzrange exclusion
    constraint (patch_55.R:227-255); zero-length segments cover no
    half-open elementary interval and are dropped up front, as the
    containment join did implicitly.
    """
    e = existing.select(*keys, start_col, end_col, F.col(value_col).alias("__v")) \
        .withColumn("__src", F.lit(0))
    n = new.select(*keys, start_col, end_col, F.col(value_col).alias("__v")) \
        .withColumn("__src", F.lit(1))
    allseg = e.unionByName(n).where(F.col(start_col) < F.col(end_col))
    vtype = allseg.schema["__v"].dataType

    def events(pos_col: str, ord_val: int, covered: bool) -> DataFrame:
        return allseg.select(
            *keys,
            F.col(pos_col).alias("__b"),
            F.lit(ord_val).alias("__ord"),
            "__src",
            F.struct(
                F.lit(covered).alias("cov"),
                (F.col("__v") if covered
                 else F.lit(None).cast(vtype)).alias("v"),
            ).alias("__ev"),
        )

    evs = events(start_col, 1, True).unionByName(events(end_col, 0, False))
    # Close sorts before open at the same position: a segment ending at
    # b is inactive on [b, next), one starting at b is active there.
    # __src / v in the order only for determinism under (contract-
    # violating) same-source overlap.
    order = [F.col("__b"), F.col("__ord"), F.col("__src"), F.col("__ev.v")]
    w_carry = Window.partitionBy(*keys).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_lead = Window.partitionBy(*keys).orderBy(*order)
    state = (
        evs.withColumn(
            "__n", F.last(F.when(F.col("__src") == 1, F.col("__ev")),
                          ignorenulls=True).over(w_carry))
        .withColumn(
            "__e", F.last(F.when(F.col("__src") == 0, F.col("__ev")),
                          ignorenulls=True).over(w_carry))
        .withColumn("__nxt_b", F.lead("__b").over(w_lead))
    )
    # last event row at each position carries the resolved state for
    # the elementary interval starting there; its end is the next
    # distinct boundary.
    per_pos = state.where(
        F.col("__nxt_b").isNull() | (F.col("__nxt_b") != F.col("__b"))
    )
    w_next = Window.partitionBy(*keys).orderBy("__b")
    resolved = (
        per_pos.withColumn("__ee", F.lead("__b").over(w_next))
        .where(
            F.col("__ee").isNotNull()
            & (F.coalesce(F.col("__n.cov"), F.lit(False))
               | F.coalesce(F.col("__e.cov"), F.lit(False)))
        )
        .select(
            *keys,
            F.col("__b").alias("__es"),
            F.col("__ee"),
            F.when(F.col("__n.cov"), F.col("__n.v"))
            .otherwise(F.col("__e.v")).alias("__v"),
        )
    )
    # merge adjacent equal-valued elementary intervals (segment id via
    # "starts a new run" flag: value change OR gap)
    w2 = Window.partitionBy(*keys).orderBy("__es")
    run = (
        resolved.withColumn(
            "__new_run",
            F.when(
                F.col("__v").eqNullSafe(F.lag("__v").over(w2))
                & (F.lag("__ee").over(w2) == F.col("__es")),
                0,
            ).otherwise(1),
        )
        .withColumn("__run", F.sum("__new_run").over(
            w2.rowsBetween(Window.unboundedPreceding, 0)
        ))
    )
    return (
        run.groupBy(*keys, "__run")
        .agg(
            F.min("__es").alias(start_col),
            F.max("__ee").alias(end_col),
            F.first("__v").alias(value_col),
        )
        .drop("__run")
    )


def recycle_split_ids(
    existing: DataFrame,
    final: DataFrame,
    keys: Sequence[str],
    id_col: str = "segment_id",
    start_col: str = "start_dt",
    end_col: str = "end_dt",
) -> DataFrame:
    """Positional id recycling after a split/overlay
    (R/adjust_functions.R:132-142): the rebuilt segments, in start
    order, take the existing rows' ids BY POSITION (first rebuilt row
    gets the first existing row's id, ...); rebuilt rows beyond the
    existing count get NULL ids (the writer INSERTs them); existing
    rows beyond the rebuilt count are marked for deletion
    (``action='delete'``, the reference's ``timeseries_id = -1``).

    Output: final's columns + ``id_col`` + ``action`` ∈
    {'upsert', 'delete'}.
    """
    w_e = Window.partitionBy(*keys).orderBy(start_col, end_col, id_col)
    e = existing.select(*keys, start_col, end_col, id_col).withColumn(
        "__pos", F.row_number().over(w_e)
    )
    w_f = Window.partitionBy(*keys).orderBy(start_col, end_col)
    f = final.withColumn("__pos", F.row_number().over(w_f))
    ej = e.select(
        *[F.col(k).alias(f"__e_{k}") for k in keys],
        F.col("__pos").alias("__e_pos"),
        F.col(id_col).alias("__e_id"),
        F.col(start_col).alias(f"__e_{start_col}"),
        F.col(end_col).alias(f"__e_{end_col}"),
    )
    cond = [f[k] == ej[f"__e_{k}"] for k in keys] + [
        f["__pos"] == ej["__e_pos"]
    ]
    j = f.join(ej, cond, "full_outer")
    upserts = j.where(F.col("__pos").isNotNull()).select(
        *keys,
        *[c for c in final.columns if c not in (*keys, "__pos")],
        F.col("__e_id").alias(id_col),
        F.lit("upsert").alias("action"),
    )
    deletes = j.where(F.col("__pos").isNull()).select(
        *[F.col(f"__e_{k}").alias(k) for k in keys],
        *[
            (F.col(f"__e_{c}") if c in (start_col, end_col)
             else F.lit(None)).alias(c)
            for c in final.columns
            if c not in (*keys, "__pos")
        ],
        F.col("__e_id").alias(id_col),
        F.lit("delete").alias("action"),
    )
    return upserts.unionByName(deletes)
