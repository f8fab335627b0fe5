"""Arrow+BLAS kernel twins vs their JVM-expression baselines: on
fixtures whose values sit far from any quantization grid, the two
paths must agree exactly — pins the semantic relationship that
input-quantization variance could otherwise silently erode."""

import math
import struct
from typing import Sequence


def assert_bit_parity(jvm_df, twin_df, keys: Sequence[str]) -> None:
    """The kernel-twin parity pin: collect both frames, align on
    ``keys``, and require EXACT equality — floats by bit pattern
    (struct.pack), NULL == NULL, schema column set equal. Raises
    AssertionError with the first diverging (key, column)."""
    def norm(v):
        if isinstance(v, float):
            if math.isnan(v):
                return ("f64", "nan")
            return ("f64", struct.pack("<d", v))
        return v

    a_rows = {tuple(r[k] for k in keys): r.asDict() for r in jvm_df.collect()}
    b_rows = {tuple(r[k] for k in keys): r.asDict() for r in twin_df.collect()}
    assert a_rows.keys() == b_rows.keys(), (
        f"key sets differ: only-jvm={sorted(set(a_rows) - set(b_rows))[:5]} "
        f"only-twin={sorted(set(b_rows) - set(a_rows))[:5]}")
    cols = set(next(iter(a_rows.values())).keys()) if a_rows else set()
    for key, ra in a_rows.items():
        rb = b_rows[key]
        assert set(rb.keys()) == cols, (key, sorted(rb.keys()), sorted(cols))
        for c in cols:
            assert norm(ra[c]) == norm(rb[c]), (
                f"bit-parity broken at key={key} col={c}: "
                f"jvm={ra[c]!r} twin={rb[c]!r}")


def test_mann_kendall_twin_bit_parity(spark):
    """The kernel-twin contract pin (functions/kernel_twin) for
    mann_kendall_blas: exact equality — floats by bit pattern, NULL
    == NULL — against the JVM operator on a fixture exercising every
    NULL arm (NULL values pairing with valid ones, an all-tied group
    with var_s = 0 -> z NULL, a group below the pair threshold, even
    and odd slope counts for both interpolation branches)."""
    import datetime as dt

    from aquacache_spark.operators.trend import (
        mann_kendall, mann_kendall_blas)

    d0 = dt.date(2020, 1, 1)
    rows = []
    # g1: plain increasing with a tie and a NULL in the middle
    for i, v in enumerate([1.0, 2.0, 2.0, None, 3.5, 0.5]):
        rows.append(("g1", d0 + dt.timedelta(days=i), v))
    # g2: all tied -> S=0, var_s=0, z NULL
    for i in range(4):
        rows.append(("g2", d0 + dt.timedelta(days=i), 7.25))
    # g3: single row -> drops from both
    rows.append(("g3", d0, 1.0))
    # g4: two NULLs + one value -> no valid pair, S=0, sen NULL
    for i, v in enumerate([None, 4.0, None]):
        rows.append(("g4", d0 + dt.timedelta(days=i), v))
    # g5: odd pair count (3 values -> 3 slopes, exact-middle branch)
    for i, v in enumerate([3.0, 1.0, 2.0]):
        rows.append(("g5", d0 + dt.timedelta(days=i), v))
    daily = spark.createDataFrame(
        rows, "series string, date date, value double")
    jvm = mann_kendall(daily, ["series"])
    twin = mann_kendall_blas(daily, ["series"])
    assert_bit_parity(jvm, twin, ["series"])


def test_mann_kendall_twin_exactness_guard(spark):
    """The twin refuses values whose quantized pair differences could
    leave int64 (kernel_twin.assert_exact_int64)."""
    import datetime as dt

    import pytest

    from aquacache_spark.operators.trend import mann_kendall_blas

    d0 = dt.date(2020, 1, 1)
    daily = spark.createDataFrame(
        [("g", d0, 1e13), ("g", d0 + dt.timedelta(days=1), 9.3e12)],
        "series string, date date, value double")
    with pytest.raises(Exception, match="exceeds the exact"):
        mann_kendall_blas(daily, ["series"]).collect()
