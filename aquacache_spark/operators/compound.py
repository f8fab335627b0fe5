"""Compound timeseries resolution.

Reference semantics (inst/patches/patch_53.R:845-1296):
- **priority fallback** (expression_sql NULL): union all member series,
  keep ``row_number() OVER (PARTITION BY datetime ORDER BY
  member_priority, member_alias) = 1`` (:899-948); members may be
  time-windowed by ``use_from``/``use_to``.
- **expression compounds**: align members on datetime (exact equi-join,
  :1087-1096, or as-of with tolerance — operators/asof.py), project the
  member columns through the compound's safe SQL expression
  (:1273-1294).
- nested compounds: the compound graph is catalog-sized, never
  data-sized, so it is walked on the driver and only in this module:
  ``reach`` is one BFS with a visited set and no depth cap, used by the
  read resolver (api.py, which keeps the reference's explicit path for
  cycle errors, :876-878) and the downstream closure
  (streaming/incremental.py); ``compound_metadata_rollup`` resolves its
  levels on the driver too.

Spark-first: both paths are pure DataFrame compositions; the dynamic
expression goes through ``F.expr`` gated by the ported safety validator
(plans/expr_safety.py ~ patch_55.R:582-700). Catalyst *is* the runtime
SQL generator the reference hand-rolls with format()/EXECUTE.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.expr_safety import assert_safe_numeric_expression


@dataclass(frozen=True)
class Member:
    alias: str
    df: DataFrame
    priority: int = 1
    use_from: Optional[str] = None  # 'YYYY-MM-DD HH:MM:SS' inclusive
    use_to: Optional[str] = None  # exclusive
    # patch_53.R:503-528: per-member as-of alignment window (NULL ->
    # exact timestamp equality) and whether one member point may align
    # to several anchors (reuse) or only its mutual nearest (1:1)
    alignment_tolerance_seconds: Optional[float] = None
    reuse_member_values: bool = False


def _windowed(m: Member, dt_col: str) -> DataFrame:
    df = m.df
    if m.use_from:
        df = df.where(F.col(dt_col) >= F.lit(m.use_from).cast("timestamp"))
    if m.use_to:
        df = df.where(F.col(dt_col) < F.lit(m.use_to).cast("timestamp"))
    return df


def priority_coalesce(
    members: Sequence[Member],
    dt_col: str = "datetime",
    value_col: str = "value",
    extra_keys: Sequence[str] = (),
) -> DataFrame:
    """Highest-priority non-null member value per timestamp
    (patch_53.R:899-948: union + row_number filter)."""
    parts = [
        _windowed(m, dt_col)
        .where(F.col(value_col).isNotNull())
        .select(
            *extra_keys,
            dt_col,
            F.col(value_col).cast("double").alias(value_col),
            F.lit(m.priority).alias("__prio"),
            F.lit(m.alias).alias("__alias"),
        )
        for m in members
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    w = Window.partitionBy(*extra_keys, dt_col).orderBy("__prio", "__alias")
    return (
        u.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(*extra_keys, dt_col, value_col, F.col("__alias").alias("source_alias"))
    )


def expression_compound(
    members: Sequence[Member],
    expression: str,
    dt_col: str = "datetime",
    value_col: str = "value",
    extra_keys: Sequence[str] = (),
) -> DataFrame:
    """Exact-datetime alignment + safe expression over member aliases
    (patch_53.R:1087-1096, :1273-1294)."""
    assert_safe_numeric_expression(expression, allowed_idents=tuple(m.alias for m in members))
    base = None
    for m in members:
        part = _windowed(m, dt_col).select(
            *extra_keys, dt_col, F.col(value_col).cast("double").alias(m.alias)
        )
        base = part if base is None else base.join(part, [*extra_keys, dt_col], "inner")
    return base.withColumn(value_col, F.expr(expression)).select(
        *extra_keys, dt_col, value_col, *[m.alias for m in members]
    )


def expression_compound_asof(
    members: Sequence[Member],
    expression: str,
    tolerance_seconds: Optional[float] = None,
    dt_col: str = "datetime",
    value_col: str = "value",
) -> DataFrame:
    """Tolerant-alignment expression compound: the reference's as-of
    member alignment (patch_53.R:1113-1131 candidate fetch, :1216-1256
    two-sided 1:1 dedupe) feeding the safe-expression projection
    (:1273-1294) — the composition the SURVEY §2.4 'compound member
    alignment, tolerant' row describes.

    ``members[0]`` is the anchor: its timestamps form the output spine
    (every anchor row survives); each other member contributes its
    mutually-nearest value within ``tolerance_seconds`` (NULL when its
    best match is claimed elsewhere or out of tolerance), so the
    expression yields NULL on unmatched rows — exactly the generated
    LEFT JOIN LATERAL SQL's behavior.

    Scale: each alignment is the bucketed equi-join of operators/asof
    (no BNLJ), chained as left joins on the anchor spine.
    """
    from .asof import asof_join

    assert_safe_numeric_expression(
        expression, allowed_idents=tuple(m.alias for m in members)
    )
    anchor = members[0]
    base = _windowed(anchor, dt_col).select(
        dt_col, F.col(value_col).cast("double").alias(anchor.alias)
    )
    for m in members[1:]:
        rd = _windowed(m, dt_col).select(
            dt_col, F.col(value_col).cast("double").alias("__mv")
        )
        tol = (m.alignment_tolerance_seconds
               if m.alignment_tolerance_seconds is not None
               else tolerance_seconds)
        if tol is None:
            raise ValueError(
                f"member {m.alias!r} has no alignment tolerance and no "
                "default was given"
            )
        base = asof_join(
            base, rd, keys=[], left_ts=dt_col, right_ts=dt_col,
            left_id=dt_col, right_id=dt_col,
            tolerance_seconds=tol, one_to_one=not m.reuse_member_values,
            right_cols=["__mv"],
        ).withColumnRenamed("right___mv", m.alias).drop(f"match_{dt_col}")
    return base.withColumn(value_col, F.expr(expression)).select(
        dt_col, value_col, *[m.alias for m in members]
    )


def reach(adj: dict, start) -> set:
    """Every id reachable from the ids in ``start`` along ``adj``
    (id -> iterable of ids), by a driver-side BFS with no depth cap;
    ``start`` itself only through a cycle. The visited set ends every
    cycle."""
    seen, frontier = set(), set(start)
    while frontier:
        frontier = {d for s in frontier for d in adj.get(s, ())
                    if d not in seen}
        seen |= frontier
    return seen


def _rollup_one(members: list, known: dict, has_expression: bool):
    """(start, end, record rate) of one compound from its resolved
    members' rows."""
    windows = []
    for m, use_from, use_to in members:
        s, e, _ = known[m]  # NULL series bounds stay NULL
        if s is not None and use_from is not None:
            s = max(s, use_from)
        if e is not None and use_to is not None:
            e = min(e, use_to)
        windows.append((s, e))
    valid = [(s, e) for s, e in windows
             if s is not None and e is not None and e >= s]
    starts, ends = [s for s, _ in valid], [e for _, e in valid]
    rate = min((known[m][2] for m, _, _ in members
                if known[m][2] is not None), default=None)
    if not has_expression:
        return min(starts, default=None), max(ends, default=None), rate
    if len(valid) == len(windows) and max(starts) <= min(ends):
        return max(starts), min(ends), rate
    return None, None, rate


def compound_metadata_rollup(
    basics: DataFrame,
    compound_members: DataFrame,
    has_expression: DataFrame,
) -> DataFrame:
    """Compound timeseries metadata maintenance
    (refresh_compound_timeseries_datetime_bounds, patch_41.R:684-806;
    fastest_compound_member_record_rate, patch_53.R:306-318):

    - a member's effective window clips its series bounds to the
      membership window: [greatest(start, use_from),
      least(end, use_to)], NULL series bounds stay NULL;
    - priority-coalesce compounds take the UNION of valid member
      windows (min start, max end over windows with both ends non-null
      and end >= start);
    - expression compounds take the INTERSECTION (max start, min end) —
      and only when EVERY member window is valid and the intersection
      is non-empty, else NULL bounds;
    - record rate = the fastest (minimum) member rate.

    ``basics``: (timeseries_id, start_datetime, end_datetime,
    record_rate_seconds) for basic series; ``compound_members``:
    (timeseries_id, member_timeseries_id, use_from, use_to);
    ``has_expression``: (timeseries_id, has_expression). All three are
    catalog-sized: they are collected and the nested levels resolve on
    the driver with no depth cap, a compound once all its members have.
    A cycle or a missing member raises ``ValueError``. Returns a local
    frame.
    """
    from pyspark.sql.types import StructField, StructType

    from ..session import local_df

    cols = ["timeseries_id", "start_datetime", "end_datetime",
            "record_rate_seconds"]
    known = {r[0]: tuple(r[1:]) for r in basics.select(*cols).collect()}
    members: dict = {}
    for cid, mid, use_from, use_to in compound_members.select(
            "timeseries_id", "member_timeseries_id", "use_from",
            "use_to").collect():
        members.setdefault(cid, []).append((mid, use_from, use_to))
    expr = {cid: bool(h) for cid, h in has_expression.select(
        "timeseries_id", "has_expression").collect()}

    out, pending = [], dict(members)
    while pending:
        ready = [c for c, ms in pending.items()
                 if all(m in known for m, _, _ in ms)]
        if not ready:
            raise ValueError(
                f"unresolvable compound graph (cycle or missing member): "
                f"{sorted(pending)}"
            )
        for c in ready:
            known[c] = _rollup_one(pending.pop(c), known, expr.get(c, False))
            out.append((c, *known[c]))
    schema = StructType([
        StructField(c, src.schema[c].dataType)
        for c, src in zip(cols, [compound_members] + [basics] * 3)
    ])
    return local_df(basics.sparkSession, out, schema)
