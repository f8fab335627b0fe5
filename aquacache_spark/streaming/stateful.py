"""Custom stateful streaming operators (``applyInPandasWithState``).

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
from pyspark.sql import functions as F
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


def streaming_hll_distinct(
    stream: DataFrame,
    key_col: str,
    group_col: str = "source",
    p: int = 8,
) -> DataFrame:
    """Streaming distinct-count: the HLL register vector
    (operators/sketch.hll_distinct's layout — 60-bit md5 prefix,
    integer rho) kept as per-group state in applyInPandasWithState.
    State is EXACTLY 2^p ints per group forever (the watermark-free
    bounded-state case: registers never grow with the key stream);
    each micro-batch MAXes new observations into the registers and
    emits the refreshed estimate, so the last emission per group
    equals the batch sketch over the full history — the parity the
    test pins. Update mode; restart-safe via the checkpointed state
    store."""
    import hashlib

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    m = 1 << p
    q_bits = 60 - p

    out_schema = T.StructType([
        T.StructField(group_col, T.StringType()),
        T.StructField("n_registers", T.LongType()),
        T.StructField("s_units", T.LongType()),
        T.StructField("estimate", T.DoubleType()),
    ])
    state_schema = "regs array<int>"

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        regs = list(state.get[0]) if state.exists else [0] * m
        for pdf in pdfs:
            for v in pdf[key_col]:
                h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
                idx = h % m
                w = h // m
                rho = (q_bits - (w.bit_length() - 1)) if w > 0 \
                    else q_bits + 1
                if rho > regs[idx]:
                    regs[idx] = rho
        state.update((regs,))
        n_reg = sum(1 for r in regs if r > 0)
        s_units = sum(1 << (q_bits + 1 - r) for r in regs if r > 0) \
            + (m - n_reg) * (1 << (q_bits + 1))
        alpha = 0.7213 / (1.0 + 1.079 / m)
        raw = alpha * float(m) * float(m) \
            * float(1 << (q_bits + 1)) / s_units
        zeros = m - n_reg
        est = (float(m) * __import__("math").log(float(m) / zeros)
               if raw <= 2.5 * m and zeros > 0 else raw)
        yield pd.DataFrame({
            group_col: [key[0]],
            "n_registers": [n_reg],
            "s_units": [s_units],
            "estimate": [est],
        })

    return stream.groupBy(group_col).applyInPandasWithState(
        fn, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout)


def streaming_countmin(
    stream: DataFrame,
    key_col: str,
    d: int = 4,
    w: int = 1024,
) -> DataFrame:
    """Streaming count-min sketch: the d x w counter matrix as
    per-ROW state (operators/sketch.countmin_build's exact layout —
    counter (i, md5(i || '|' || key) % w) increments per key).

    Each record fans out to its d sketch rows map-side (a stateless
    projection), the stream groups by sketch row, and each group's
    state is EXACTLY w bigints forever — the bounded-state invariant:
    the heavy-hitter table never grows with the key stream. Every
    micro-batch emits the refreshed row (counters + checksum), so the
    last emission per row equals the batch sketch over the full
    history, counter-for-counter — the parity the test pins. Update
    mode; restart-safe via the checkpointed state store."""
    import hashlib

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType([
        T.StructField("row", T.IntegerType()),
        T.StructField("counters", T.ArrayType(T.LongType())),
        T.StructField("total", T.LongType()),
    ])
    state_schema = "cnt array<long>"

    fanned = stream.select(
        F.explode(F.array(*[F.lit(i) for i in range(d)])).alias("row"),
        F.col(key_col).cast("string").alias("__k"),
    )

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        cnt = list(state.get[0]) if state.exists else [0] * w
        i = key[0]
        for pdf in pdfs:
            for v in pdf["__k"]:
                h = int(hashlib.md5(f"{i}|{v}".encode())
                        .hexdigest()[:15], 16)
                cnt[h % w] += 1
        state.update((cnt,))
        yield pd.DataFrame({
            "row": [i],
            "counters": [list(cnt)],
            "total": [sum(cnt)],
        })

    return fanned.groupBy("row").applyInPandasWithState(
        fn, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout)


def streaming_funnel(
    stream: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    max_gap_hours: int = 72,
) -> DataFrame:
    """Online funnel progression: per-user step timestamps as
    applyInPandasWithState state — exactly ``len(steps)`` bigints per
    user forever (bounded: no event history is retained).

    Semantics: arrival-order greedy first-match. Within a micro-batch
    rows process in timestamp order; across batches the state only
    moves FORWARD, so results equal the batch operator
    (operators/funnel.funnel_steps) whenever each user's events arrive
    in timestamp order across batches — the usual at-least-once
    append-log case, and the parity the test pins. A late-arriving
    earlier step is ignored (recomputing would require the full event
    history, which bounded state deliberately does not keep).

    Update mode: a user's refreshed row emits on every batch that
    touches them. Output: (user, t1..tn, steps_completed)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    n = len(steps)
    gap_us = max_gap_hours * 3600 * 1_000_000
    out_fields = [T.StructField("user_id", T.LongType())]
    out_fields += [T.StructField(f"t{i + 1}", T.TimestampType())
                   for i in range(n)]
    out_fields.append(T.StructField("steps_completed", T.IntegerType()))
    out_schema = T.StructType(out_fields)
    state_schema = ", ".join(f"t{i + 1} bigint" for i in range(n))

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        ts_state = list(state.get) if state.exists else [None] * n
        rows = []
        for pdf in pdfs:
            for t, et in zip(pdf[ts_col], pdf[type_col]):
                rows.append((t.value, et))  # pandas Timestamp -> ns
        rows.sort(key=lambda r: r[0])
        for t_ns, et in rows:
            t_us = t_ns // 1000
            for i, s in enumerate(steps):
                if et != s or ts_state[i] is not None:
                    continue
                if i == 0:
                    ts_state[0] = t_us
                else:
                    prev = ts_state[i - 1]
                    if prev is not None and t_us > prev \
                            and t_us <= prev + gap_us:
                        ts_state[i] = t_us
                break
        state.update(tuple(ts_state))
        import datetime as _dt

        out = {"user_id": [key[0]]}
        done = 0
        for i in range(n):
            v = ts_state[i]
            out[f"t{i + 1}"] = [
                None if v is None else
                _dt.datetime.utcfromtimestamp(v / 1_000_000)]
            if v is not None:
                done += 1
        out["steps_completed"] = [done]
        yield pd.DataFrame(out)

    return stream.groupBy(user_col).applyInPandasWithState(
        fn, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout)


KMV_STATE_SCHEMA = "hashes array<bigint>, keys array<string>"


def streaming_kmv_distinct(
    stream: DataFrame,
    key_col: str,
    group_col: str = "source",
    k: int = 64,
) -> DataFrame:
    """Streaming K-minimum-values sketch — the bounded-state twin of
    operators/sketch.kmv_bottom_k (HLL and count-min already have
    their streaming mirrors; KMV completes the set and is the one
    that also RETURNS sample keys).

    State per group is exactly the k smallest (hash, key) pairs seen
    — merging a micro-batch is union + re-take-k, the same
    mergeability the batch operator's tests pin — so state never
    grows with the stream. Update mode: each batch emits the
    refreshed estimate ((k-1)/v_k, exact count below k); the final
    emission equals the batch sketch over the full history."""
    import hashlib

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType([
        T.StructField(group_col, T.StringType()),
        T.StructField("n_kept", T.IntegerType()),
        T.StructField("vk", T.LongType()),
        T.StructField("distinct_estimate", T.DoubleType()),
    ])

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            hs, ks = list(state.get[0]), list(state.get[1])
            pairs = dict(zip(ks, hs))
        else:
            pairs = {}
        for pdf in pdfs:
            for v in pdf[key_col]:
                s = str(v)
                if s not in pairs:
                    pairs[s] = int(
                        hashlib.md5(s.encode()).hexdigest()[:15], 16)
        best = sorted(pairs.items(), key=lambda kv: (kv[1], kv[0]))[:k]
        state.update(([h for _, h in best], [s for s, _ in best]))
        n = len(best)
        vk = best[-1][1] if best else 0
        est = (float(n) if n < k
               else float(k - 1) * float(1 << 60) / float(vk))
        yield pd.DataFrame({
            group_col: [key[0]], "n_kept": [n], "vk": [vk],
            "distinct_estimate": [est],
        })

    return stream.groupBy(group_col).applyInPandasWithState(
        fn, out_schema, KMV_STATE_SCHEMA, "update",
        GroupStateTimeout.NoTimeout)
