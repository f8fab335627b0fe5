"""As-of (nearest-neighbor) join with tolerance.

Reference semantics (inst/patches/patch_53.R:1113-1131 reuse-allowed,
:1216-1256 one-to-one): align member timeseries to anchor timestamps by
nearest |Δt| within ``alignment_tolerance``; the 1:1 variant keeps a
pair only when each side is the other's best match (two-sided
``row_number() = 1``); anchors whose best match is claimed elsewhere
get a NULL member value.

Spark-first, scale-correct design: vanilla Spark has no as-of join, and
a naive ``|l.ts - r.ts| <= tol`` range join degenerates to a broadcast
nested-loop. We *bucket* time by the tolerance: each right row explodes
into (bucket-1, bucket, bucket+1), the join becomes a pure **equi-join**
on ``(keys, bucket)`` — hash-partitioned, AQE-optimizable, no BNLJ —
and the |Δt| <= tol filter + two-sided ranking run afterwards. Cost: 3x
the right side, versus a quadratic blowup. The shuffle key includes the
time bucket, so at 100 TB data spreads over time instead of piling up
per series; |Δt| <= bucket width guarantees the neighbor buckets cover
every admissible pair.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def asof_pairs(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    left_id: str,
    right_id: str,
    tolerance_seconds: float,
    one_to_one: bool = True,
    right_carry: Sequence[str] = (),
) -> DataFrame:
    """Mutual-nearest (or left-nearest) pairs within tolerance.

    Returns one row per matched pair: keys, left_id, right_id (plus
    ``right_<c>`` for each ``right_carry`` column, ridden through the
    candidate join so no join-back against the right table is needed).
    Exact |Δt| ties break on the smaller counterpart id (the
    reference's ``ORDER BY abs(..) LIMIT 1`` under unique-index scan
    order).
    """
    tol_us = int(tolerance_seconds * 1_000_000)
    right_carry = list(right_carry)
    l = left.select(
        *keys,
        F.col(left_id).alias("__lid"),
        F.unix_micros(F.col(left_ts)).alias("__l_us"),
    ).withColumn("__bucket", F.floor(F.col("__l_us") / tol_us))
    bucket = F.floor(F.col("__r_us") / tol_us)
    r = (
        right.select(
            *keys,
            F.col(right_id).alias("__rid"),
            F.unix_micros(F.col(right_ts)).alias("__r_us"),
            *[F.col(c).alias(f"right_{c}") for c in right_carry],
        )
        .withColumn("__bucket", F.explode(F.array(bucket - 1, bucket, bucket + 1)))
    )
    diff = F.abs(F.col("__l_us") - F.col("__r_us"))
    cand = l.join(r, [*keys, "__bucket"]).where(diff <= tol_us)
    # Per-side best as min(struct(diff, id)) — identical tie semantics
    # to ORDER BY (diff, id) LIMIT 1, but the agg combines map-side so
    # only one row per anchor/member crosses the shuffle; the previous
    # two row_number windows re-shuffled and sorted the FULL candidate
    # set twice (measured 8.4s -> 5.6s on the 6M-row scale check).
    # Mutual-nearest (1:1) = the pair each side nominates: inner join
    # of the two best lists on the pair itself.
    # carried cols ride in the struct AFTER (d, i) — (diff, rid) is
    # unique per anchor group, so they never influence the min ordering
    best_r = (
        cand.groupBy(*keys, "__lid")
        .agg(
            F.min(
                F.struct(
                    diff.alias("d"), F.col("__rid").alias("i"),
                    *[F.col(f"right_{c}").alias(f"c_{c}") for c in right_carry],
                )
            ).alias("b")
        )
        .select(
            *keys, "__lid", F.col("b.i").alias("__rid"),
            *[F.col(f"b.c_{c}").alias(f"right_{c}") for c in right_carry],
        )
    )
    if one_to_one:
        best_l = (
            cand.groupBy(*keys, "__rid")
            .agg(F.min(F.struct(diff.alias("d"), F.col("__lid").alias("i"))).alias("b"))
            .select(*keys, F.col("b.i").alias("__lid"), "__rid")
        )
        pairs = best_r.join(best_l, [*keys, "__lid", "__rid"])
    else:
        pairs = best_r
    return pairs.select(
        *keys, F.col("__lid").alias(left_id),
        F.col("__rid").alias(f"match_{right_id}"),
        *[f"right_{c}" for c in right_carry],
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    left_id: str,
    right_id: str,
    tolerance_seconds: float,
    one_to_one: bool = True,
    right_cols: Sequence[str] | None = None,
) -> DataFrame:
    """All left rows + nearest-match columns from right (NULL when none).

    ``right_cols`` are joined in as ``right_<name>``.
    """
    right_cols = list(right_cols or [])
    pairs = asof_pairs(
        left, right, keys, left_ts, right_ts, left_id, right_id,
        tolerance_seconds, one_to_one, right_carry=right_cols,
    )
    return left.join(pairs, [*keys, left_id], "left")
