"""Property-based tests (hypothesis) for the order-sensitive kernels —
coverage the reference itself lacks (SURVEY §5 'not present')."""

import datetime as dt

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from helpers import compute_increments_pd, is_safe_numeric_expression

values = st.lists(
    st.floats(min_value=0, max_value=1000, allow_nan=False, width=32),
    min_size=1, max_size=60,
)


@settings(max_examples=200, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(values, st.floats(min_value=1, max_value=100),
       st.floats(min_value=0, max_value=5))
def test_increments_invariants(vals, reset_drop, min_pos):
    pdf = pd.DataFrame({
        "t": [dt.datetime(2024, 1, 1) + dt.timedelta(hours=i)
              for i in range(len(vals))],
        "v": vals,
    })
    out = compute_increments_pd(pdf, "t", "v", reset_drop, min_pos, None)
    inc = out["increment"]
    # 1. first point never has an increment (R:86 inc[1] = NA); with no
    # gaps configured every later point does
    assert pd.isna(inc.iloc[0])
    assert inc.iloc[1:].notna().all()
    # 2. increments are never negative and respect the noise floor
    rest = inc.iloc[1:]
    assert ((rest == 0) | (rest >= min_pos)).all()
    # 3. total increment never exceeds total upward movement
    ups = sum(max(b - a, 0.0) for a, b in zip(vals, vals[1:]))
    assert rest.sum() <= ups + 1e-6


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=60))
def test_expr_safety_never_accepts_dml(s):
    expr = f"value + {s}"
    if is_safe_numeric_expression(expr):
        low = expr.lower()
        for bad in ("select", "insert", "drop", ";", "--"):
            assert bad not in low


@settings(max_examples=50, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(codes=st.lists(st.sampled_from(["A", "B", "C"]), min_size=1, max_size=40))
def test_rle_reconstruction_roundtrip(spark, codes):
    """Segments must partition the sequence: counts sum to n, and
    re-expanding segments reproduces the original run structure."""
    from aquacache_spark.operators.segments import rle_segments

    pdf = pd.DataFrame({
        "k": 1,
        "i": range(len(codes)),
        "c": codes,
    })
    segs = (
        rle_segments(spark.createDataFrame(pdf), keys=["k"],
                     order_col="i", value_col="c")
        .orderBy("start").toPandas()
    )
    assert segs["n"].sum() == len(codes)
    # boundaries: consecutive segments abut and values alternate
    for a, b in zip(segs.itertuples(), segs.iloc[1:].itertuples()):
        assert b.start == a.end + 1
        assert b.c != a.c


# --------------------------------------------------------------------------
# Segment-overlay algebra (operators/segments.split_segments): pointwise
# brute-force reference + structural invariants. Inputs are
# non-overlapping per source, mirroring the reference's tstzrange
# exclusion constraints (patch_55.R:227-255).
# --------------------------------------------------------------------------

def _seg_lists(max_segs=4):
    """Non-overlapping (start, end, value) integer-hour segments."""
    return st.lists(
        st.tuples(st.integers(0, 3), st.integers(1, 5),
                  st.integers(0, 2)),
        min_size=0, max_size=max_segs,
    ).map(_cumulate)


def _cumulate(gaps):
    segs, t = [], 0
    for gap, length, val in gaps:
        start = t + gap
        t = start + length
        segs.append((start, t, val))
    return segs


@pytest.mark.usefixtures("spark")
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(existing=_seg_lists(), new=_seg_lists())
def test_split_segments_pointwise(spark, existing, new):
    from aquacache_spark.operators.segments import split_segments

    T0 = dt.datetime(2024, 1, 1)

    def df(rows):
        return spark.createDataFrame(
            [("k", T0 + dt.timedelta(hours=s), T0 + dt.timedelta(hours=e), v)
             for s, e, v in rows],
            "key string, start_dt timestamp, end_dt timestamp, value long",
        )

    out = [
        ((r["start_dt"] - T0).total_seconds() / 3600,
         (r["end_dt"] - T0).total_seconds() / 3600, r["value"])
        for r in split_segments(df(existing), df(new), keys=["key"]).collect()
    ]

    # pointwise: for every half-open unit hour, new wins over existing
    def covering(segs, t):
        for s, e, v in segs:
            if s <= t < e:
                return v
        return None

    hi = max([e for _, e, _ in existing + new], default=0)
    for t in range(int(hi)):
        expected = covering(new, t)
        if expected is None:
            expected = covering(existing, t)
        got = covering(out, t)
        # boundary-split drops elementary intervals covered by nothing;
        # but anything covered on input must be covered with the winner
        assert got == expected, (t, out, existing, new)

    # structural invariants: non-overlap and maximal merging
    out.sort()
    for (s1, e1, v1), (s2, e2, v2) in zip(out, out[1:]):
        assert e1 <= s2  # no overlap
        assert not (e1 == s2 and v1 == v2)  # adjacent equal values merged


# ---- import-mapping resolution vs brute force ----


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(  # mappings: (priority, {criteria}) over keys a/b
        st.tuples(
            st.integers(min_value=0, max_value=2),
            st.dictionaries(
                st.sampled_from(["a", "b"]),
                st.sampled_from(["x", "y", ""]),
                min_size=1, max_size=2,
            ),
        ),
        min_size=1, max_size=6,
    ),
    st.lists(  # records over the same value alphabet (+None)
        st.tuples(st.sampled_from(["x", "y", "", None]),
                  st.sampled_from(["x", "y", "", None])),
        min_size=1, max_size=8,
    ),
)
def test_resolve_mappings_matches_bruteforce(spark, mapping_rows, record_rows):
    from aquacache_spark.sources.import_mappings import resolve_mappings
    from aquacache_spark.session import local_df

    mappings = local_df(
        spark,
        [(i + 1, p, True, crit, 100 + i)
         for i, (p, crit) in enumerate(mapping_rows)],
        "import_mapping_id int, priority int, active boolean,"
        " source_match map<string,string>, parameter_id int",
    )
    records = local_df(
        spark,
        [(i, a, b) for i, (a, b) in enumerate(record_rows)],
        "record_id int, a string, b string",
    )
    got = {
        r["record_id"]: (r["status"], r["import_mapping_id"])
        for r in resolve_mappings(records, mappings).collect()
    }

    for rid, (a, b) in enumerate(record_rows):
        rec = {"a": a if a is not None else "", "b": b if b is not None else ""}
        hits = [
            (p, -len(crit), mid)
            for mid, (p, crit) in enumerate(mapping_rows, start=1)
            if all(rec[k] == v for k, v in crit.items())
        ]
        if not hits:
            assert got[rid] == ("unmapped", None), rid
            continue
        hits.sort()
        top = [h for h in hits if h[:2] == hits[0][:2]]
        if len(top) > 1:
            assert got[rid] == ("ambiguous", None), rid
        else:
            assert got[rid] == ("matched", hits[0][2]), rid
