"""Cumulative reset-aware increments (precipitation-gauge semantics).

Reference semantics (R/compute_increments.R:16-121), matched exactly:

1. sort by datetime; the series' expected cadence (``period_seconds``,
   the reference derives it via calculate_period) defines a grid;
2. gaps are expanded with NA rows at the cadence: ``n_missing =
   floor(gap_seconds / period) - 1`` rows strictly between consecutive
   observed points (:33-67);
3. the scan (:82-121) keeps ``last_max``, the running post-reset
   baseline, seeded with the first value (whose increment is NA):
   - first row after an NA run longer than ``max_gap`` *points*:
     increment NA, baseline restarts at the new value;
   - first row after a shorter NA run: increment NA, baseline kept;
   - step drop ``v - prev <= -reset_drop``: a true reset (gauge
     emptied): increment 0, baseline restarts;
   - otherwise ``add = v - max(last_max, prev)``; if ``add >=
     min_pos`` the increment is ``add`` and the baseline moves to
     ``v``, else the increment is 0 and the baseline stays (noise
     never accumulates into the baseline).

Spark-first shape: the NA expansion never needs to be *materialized*
for the scan — an inter-point gap contributes ``floor(gap/period)-1``
to the NA run length, so the kernel scans only observed rows and the
NA spine rows (increment NA by construction) are emitted by the same
kernel, vectorized, when callers want the reference's exact row set
(``emit_gap_rows``).
At 100 TB that avoids inflating sparse series (the scan is ∝ observed
points, not grid cells), and gives the streaming variant
(streaming/stateful.py) a constant-size carryable state:
(last_max, prev_value, prev_ts, na_run).

True sequential state (every decision depends on the prior baseline)
— the case SURVEY §7.2 assigns to Arrow-batched per-series kernels.
"""

from __future__ import annotations

import math
from typing import Sequence

import pandas as pd

from pyspark.sql import DataFrame


# (last_max, prev_value, prev_ts, na_run) — None/0-seeded.
ScanState = tuple


def scan_increments(
    timestamps,
    values,
    reset_drop: float,
    min_pos: float,
    period_seconds: float | None = None,
    max_gap: int = 0,
    state: ScanState = (None, None, None, 0),
) -> tuple[list, ScanState]:
    """The sequential scan, seedable with carried-over state so the
    streaming variant can resume a series across micro-batches and
    produce exactly what a batch recompute over the full history would.

    ``timestamps``/``values`` are the *observed* rows in time order
    (values may contain NA for masked measurements). ``max_gap`` is in
    missing *points* at the cadence (R/compute_increments.R:92-98);
    with ``period_seconds=None`` inter-point gaps contribute nothing
    and only explicit NA values count toward the run.
    """
    import numpy as np

    out = []
    last_max, prev_value, prev_ts, na_run = state
    # Strip pandas boxing ONCE: iterating a datetime64 Series yields a
    # pd.Timestamp per row and each gap becomes a Timedelta allocation
    # (~5us/row — dominated a 6M-row scale run). The loop below sees
    # plain ints (ns) and floats; the state keeps pd.Timestamp at the
    # API boundary (the streaming state schema stores epoch-us).
    ts_ns = pd.Series(timestamps).to_numpy(dtype="datetime64[ns]").astype("int64")
    vals = pd.Series(values).to_numpy(dtype="float64", na_value=np.nan)
    prev_ns = None if prev_ts is None else int(pd.Timestamp(prev_ts).value)
    for i in range(len(ts_ns)):
        ts = ts_ns[i]
        v = vals[i]
        is_na = v != v  # NaN check without a function call
        v = None if is_na else float(v)
        gap_insert = 0
        if period_seconds and prev_ns is not None:
            gap_sec = (ts - prev_ns) / 1e9
            gap_insert = max(0, int(math.floor(gap_sec / period_seconds)) - 1)
        run = na_run + gap_insert  # NA rows contiguous just before this row
        # in the reference's expanded grid, the row before this one is an
        # NA row whenever the previous observed value was NA *or* the
        # cadence inserted rows inside the gap
        prev_is_na = prev_value is None or gap_insert > 0

        if last_max is None:
            # series start (incl. leading NAs): first valid value seeds
            # the baseline, its increment is NA (R:86, inc[1] = NA)
            out.append(None)
            if not is_na:
                last_max = v
        elif prev_is_na and run > max_gap:
            out.append(None)  # oversized gap: no increment, re-baseline
            if not is_na:
                last_max = v
        elif is_na or prev_is_na:
            out.append(None)  # NA on either side, gap within tolerance
        elif v - prev_value <= -reset_drop:
            out.append(0.0)  # hard reset: gauge emptied
            last_max = v
        else:
            base = max(last_max, prev_value)
            add = v - base
            if add >= min_pos:
                out.append(add)
                last_max = v
            else:
                out.append(0.0)  # noise: baseline intentionally kept
        na_run = run + 1 if is_na else 0
        prev_value = v
        prev_ns = ts
    return out, (
        last_max, prev_value,
        None if prev_ns is None else pd.Timestamp(prev_ns), na_run,
    )


def _increments_parts(
    pdf: pd.DataFrame,
    dt_col: str,
    value_col: str,
    reset_drop: float,
    min_pos: float,
    period_seconds: float | None,
    max_gap: int,
    emit_gap_rows: bool,
    keys: Sequence[str],
) -> list[pd.DataFrame]:
    """Kernel body returning [scanned rows, optional NA-cadence pad]
    WITHOUT concatenating them — the distributed wrapper merges all
    groups of a partition in one concat (pandas concat per group was
    the dominant cost at thousands of small series). The pad carries
    only the datetime spine and key columns; the partition concat
    NaN-fills the rest, which Arrow writes as the NULLs the reference
    emits (R/compute_increments.R:33-67)."""
    pdf = pdf.sort_values(dt_col).reset_index(drop=True)
    out, _ = scan_increments(
        pdf[dt_col], pdf[value_col], reset_drop, min_pos,
        period_seconds, max_gap,
    )
    pdf["increment"] = pd.array(out, dtype="float64")
    if emit_gap_rows and period_seconds and len(pdf) > 1:
        import numpy as np

        ep = pdf[dt_col].astype("int64").to_numpy() // 1_000_000_000
        n_miss = np.floor(np.diff(ep) / period_seconds).astype("int64") - 1
        left = np.where(n_miss >= 1)[0]  # index of the gap's left edge
        if len(left):
            counts = n_miss[left]
            cum = np.concatenate([[0], np.cumsum(counts)])
            k = np.arange(cum[-1]) - np.repeat(cum[:-1], counts) + 1
            spine_ep = np.repeat(ep[left], counts) + k * int(period_seconds)
            pad = pd.DataFrame({dt_col: pd.to_datetime(spine_ep, unit="s")})
            for c in keys:  # constant per kernel call; all else stays NULL
                pad[c] = pdf[c].iloc[0]
            return [pdf, pad]
    return [pdf]


def compute_increments(
    df: DataFrame,
    keys: Sequence[str],
    dt_col: str = "datetime",
    value_col: str = "value",
    reset_drop: float = 20.0,
    min_pos: float = 0.0,
    period_seconds: float | None = None,
    max_gap: int = 0,
    emit_gap_rows: bool = False,
) -> DataFrame:
    """Distributed wrapper: one sequential kernel per series group.

    With ``emit_gap_rows=True`` the output additionally carries the
    reference's inserted NA-cadence rows (value and increment NULL),
    reproducing R/compute_increments.R's exact row set — generated
    inside the same kernel pass, so the upstream lineage is read once.
    """
    from pyspark.sql import types as T

    from ._grouped import grouped_apply

    if emit_gap_rows and not period_seconds:
        raise ValueError("emit_gap_rows requires period_seconds")

    # build a fresh StructType — StructType.add mutates in place, which
    # would corrupt df's cached schema object
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField("increment", T.DoubleType())]
    )

    def fn(pdf: pd.DataFrame) -> list[pd.DataFrame]:
        return _increments_parts(
            pdf, dt_col, value_col, reset_drop, min_pos,
            period_seconds, max_gap, emit_gap_rows, keys,
        )

    return grouped_apply(df, keys, fn, schema)
