"""Arrow+BLAS kernel twins vs their JVM-expression baselines: on
fixtures whose values sit far from any quantization grid, the two
paths must agree exactly — pins the semantic relationship that
input-quantization variance could otherwise silently erode."""

from pyspark.sql import functions as F


def test_model_quality_blas_matches_jvm_exact(spark):
    from aquacache_spark.functions.text import (hashed_linear_score,
                                                hashed_linear_score_frame,
                                                tokens)

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the the the the repeated token stress case"),
        (2, "single"),
        (3, ""),  # empty text -> split gives [''], n_features = 1
        (6, None),  # NULL text -> NULL features / NULL score, no crash
        (4, "two words"),
        (5, "a much longer document " * 12 + "with a tail"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    toks = tokens(F.lower(F.col("text")))
    n = F.size(toks)
    jvm = {r["doc_id"]: (r["n_features"], r["quality_prob"]) for r in
           docs.select(
               "doc_id",
               (n + F.greatest(n - 1, F.lit(0))).cast("long")
               .alias("n_features"),
               hashed_linear_score(F.col("text"), num_buckets=4096)
               .alias("quality_prob")).collect()}
    kern = {r["doc_id"]: (r["n_features"], r["quality_prob"]) for r in
            hashed_linear_score_frame(docs, num_buckets=4096).collect()}
    assert set(jvm) == set(kern)
    for d in jvm:
        assert jvm[d][0] == kern[d][0], d            # n_features exact
        # the integer q and the two IEEE divisions are identical by
        # construction; only exp() libm ulps could differ — require
        # bit-equality here (same host libm through JVM and CPython
        # on these inputs) to pin the contract
        assert jvm[d][1] == kern[d][1], (d, jvm[d], kern[d])


def test_mann_kendall_twin_bit_parity(spark):
    """The kernel-twin contract pin (functions/kernel_twin) for
    mann_kendall_blas: exact equality — floats by bit pattern, NULL
    == NULL — against the JVM operator on a fixture exercising every
    NULL arm (NULL values pairing with valid ones, an all-tied group
    with var_s = 0 -> z NULL, a group below the pair threshold, even
    and odd slope counts for both interpolation branches)."""
    import datetime as dt

    from aquacache_spark.functions.kernel_twin import assert_bit_parity
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


def test_task_cache_caches_none_values():
    """r12 review find: ``get_or`` used ``is None`` as the miss
    sentinel, so a legitimately-None computed value was recomputed on
    every lookup — a twin memoizing a nullable result got a silent 0%
    hit rate. None must cache like any other value, and the cap must
    still bound inserts."""
    from aquacache_spark.functions.kernel_twin import TaskCache

    calls = []

    def compute(key):
        calls.append(key)
        return None if key == "null-key" else key.upper()

    c = TaskCache(cap=2)
    assert c.get_or("null-key", compute) is None
    assert c.get_or("null-key", compute) is None
    assert calls == ["null-key"]  # second lookup was a HIT
    assert c.get_or("a", compute) == "A"
    # cap reached: further inserts skipped, lookups still compute
    assert c.get_or("b", compute) == "B"
    assert c.get_or("b", compute) == "B"
    assert calls == ["null-key", "a", "b", "b"]
