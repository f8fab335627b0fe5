"""The stateful streaming increments operator (``applyInPandasWithState``).

The batch engine runs the reset-aware increments scan
(R/compute_increments.R:82-121) per series inside Arrow-batched
kernels; this module is the Structured Streaming variant: the scan
state (post-reset baseline, previous value, previous timestamp, NA run
length) is carried across micro-batches in the Spark state store, so a
continuously arriving gauge series yields exactly the increments a
batch recompute over the full history would.

Gap semantics are the reference's point-based rule: an inter-point gap
contributes ``floor(gap/period)-1`` missing cadence points to the NA
run, and a run longer than ``max_gap`` points breaks the chain — no NA
spine rows ever materialize in the stream.

Scale: state is one tiny 4-field tuple per series, keyed on the same
``timeseries_id`` the batch shuffle uses — a 1000-executor cluster
distributes the state store across executors with no hot spots, and
the per-batch work is one Arrow exchange per touched series.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

STATE_SCHEMA = (
    "last_max double, prev_value double, prev_ts_micros bigint, na_run int"
)


def streaming_increments(
    stream: DataFrame,
    keys: Sequence[str] = ("timeseries_id",),
    dt_col: str = "datetime",
    value_col: str = "value",
    reset_drop: float = 10.0,
    min_pos: float = 0.0,
    period_seconds: float | None = None,
    max_gap: int = 0,
) -> DataFrame:
    """Reset-aware increments over a stream, state kept per series.

    Rows within one micro-batch are sorted by ``dt_col`` before the
    scan; cross-batch ordering is the arrival order (the file-source
    landing zone appends monotonically, mirroring the reference's
    high-watermark ingest, R/getNewContinuous.R:469-477).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.increments import scan_increments

    out_schema = T.StructType(
        list(stream.schema.fields) + [T.StructField("increment", T.DoubleType())]
    )

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            lm, pv, ptm, nr = state.get
            st = (lm, pv,
                  None if ptm is None else pd.Timestamp(ptm, unit="us"),
                  nr or 0)
        else:
            st = (None, None, None, 0)
        chunks = [p for p in pdfs if len(p)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            pdf = pdf.sort_values(dt_col).reset_index(drop=True)
            out, st = scan_increments(
                pdf[dt_col], pdf[value_col],
                reset_drop, min_pos, period_seconds, max_gap, st,
            )
            pdf["increment"] = pd.array(out, dtype="float64")
            yield pdf
        lm, pv, pts, nr = st
        state.update((
            lm, pv,
            None if pts is None else int(pd.Timestamp(pts).value // 1000),
            int(nr),
        ))

    return stream.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
    )

