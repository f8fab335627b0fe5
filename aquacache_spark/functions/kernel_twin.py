"""The kernel-twin contract, as a facility (VERDICT r11 #4).

A *kernel twin* is an Arrow/numpy re-expression of an existing JVM
DataFrame operator that produces BIT-IDENTICAL output — the engine
keeps the declarative plan as the semantic source of truth and offers
the twin where the JVM expression tree re-does per-instance work a
per-task kernel can amortize (measured wins:
hashed_linear_score_frame at ~10x, mann_kendall_blas).  The proven
instances shared an implicit
contract; this module makes it explicit so the next twin is a page,
not a module:

1. **Exact-integer envelope** (:func:`assert_exact_int64`): all
   accumulation is integer over pre-quantized values, and the twin
   asserts — loudly, at kernel-build time where possible — that every
   sum/product stays below 2^53 (the float64-exact span, for kernels
   that multiply through BLAS/float paths) or 2^63 (pure int64
   kernels).  A silent overflow breaks bit-parity without breaking
   plausibility, which is exactly the failure the cross-engine gate
   cannot see.
2. **NULL mirroring** (:func:`nullable_series`): the kernel must
   reproduce the JVM's NULL algebra (comparisons with NULL are
   neither true nor false; aggregates skip NULLs; size/agg OF a NULL
   input is NULL), and must ship NULLs back through Arrow as masked
   values — pandas nullable dtypes, never NaN-in-float or None-in-
   object (which crash or coerce in the Arrow cast).
3. **Per-task cache cap** (:func:`TaskCache`): task-lifetime
   memoization is the twin's speed source, but the cache must be
   bounded and correctness must never depend on a hit.
4. **Bit-parity pin** (:func:`assert_bit_parity`): every twin ships a
   unit test asserting exact equality (NULLs included, floats by
   bit pattern) between the JVM operator and the twin on a fixture
   that exercises the NULL arms — the template the existing twins'
   tests follow (tests/test_blas_kernels.py).
"""

from __future__ import annotations

from typing import Sequence

_F64_EXACT = 1 << 53
_I64_LIMIT = 1 << 63


def assert_exact_int64(max_abs_term: int, n_terms: int, what: str,
                       float_path: bool = False) -> None:
    """Refuse to build a kernel whose worst-case accumulation can
    leave the exact range: ``n_terms`` addends each bounded by
    ``max_abs_term`` must stay under 2^63 (int64 kernels) or 2^53
    (kernels whose products flow through float64 BLAS)."""
    limit = _F64_EXACT if float_path else _I64_LIMIT
    if max_abs_term >= limit or n_terms * max_abs_term >= limit:
        raise ValueError(
            f"{what}: worst-case accumulation {n_terms} * "
            f"{max_abs_term} exceeds the exact "
            f"{'float64 (2^53)' if float_path else 'int64 (2^63)'} "
            "envelope — lower the quantization or split the kernel")


def nullable_series(values: Sequence, dtype: str):
    """NULL-true pandas array for the Arrow return path: ``Int64`` /
    ``Float64`` / ``boolean`` masked dtypes keep a None masked (a
    float64 NaN would either fail the cast to an integral Spark type
    or silently turn NULL into NaN — lesson 13)."""
    import pandas as pd

    return pd.array(values, dtype=dtype)


class TaskCache(dict):
    """Bounded task-lifetime memo: inserts stop at ``cap``; lookups
    always work.  Correctness must never depend on a hit — the cap
    only bounds executor memory under adversarial key cardinality."""

    def __init__(self, cap: int = 1 << 20):
        super().__init__()
        self.cap = cap

    _MISS = object()

    def get_or(self, key, compute):
        v = self.get(key, TaskCache._MISS)
        if v is TaskCache._MISS:
            v = compute(key)
            if len(self) < self.cap:
                self[key] = v
        return v


def assert_bit_parity(jvm_df, twin_df, keys: Sequence[str]) -> None:
    """The parity pin shared by every twin's unit test: collect both
    frames, align on ``keys``, and require EXACT equality — floats by
    bit pattern (struct.pack), NULL == NULL, schema column set equal.
    Raises AssertionError with the first diverging (key, column)."""
    import math
    import struct

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
