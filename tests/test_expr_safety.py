"""Expression safety gate: the '^' hazard and token-level substitution.

In the reference's PostgreSQL, ``^`` is exponentiation (the validator at
inst/patches/patch_55.R:582-700 whitelists it as power); in Spark SQL it
is bitwise XOR — the gate must refuse it rather than let a migrated
drift equation silently compute garbage."""

import pytest

from aquacache_spark.plans.expr_safety import (
    UnsafeExpressionError,
    assert_safe_numeric_expression,
    substitute_identifiers,
)
from helpers import is_safe_numeric_expression


class TestCaretHazard:
    def test_caret_rejected_with_power_guidance(self):
        with pytest.raises(UnsafeExpressionError, match="power"):
            assert_safe_numeric_expression("value ^ 2")

    def test_power_function_accepted(self):
        assert is_safe_numeric_expression("power(value, 2) + 1")

    def test_caret_never_reaches_spark_xor(self, spark):
        # the end-to-end path: a drift_equation using '^' must error at
        # plan build, not produce XOR results
        from pyspark.sql import functions as F

        from aquacache_spark.operators.corrections import (
            Correction, apply_corrections,
        )

        df = spark.createDataFrame(
            [(1, "2024-01-02 00:00:00", 3.0)],
            ["timeseries_id", "datetime", "value"],
        ).withColumn("datetime", F.col("datetime").cast("timestamp"))
        bad = Correction(1, 1, "2024-01-01 00:00:00", "2024-02-01 00:00:00",
                         "drift_equation", equation="value ^ 2")
        with pytest.raises(UnsafeExpressionError):
            apply_corrections(df, [bad])


class TestTokenSubstitution:
    def test_whole_tokens_only(self):
        # naive str.replace would corrupt 'value2' -> '`__acc__`2'
        got = substitute_identifiers(
            "value + value2 * coalesce(value, 1)",
            {"value": "`__acc__`"},
        )
        assert got == "`__acc__` + value2 * coalesce(`__acc__`, 1)"

    def test_function_names_untouched(self):
        got = substitute_identifiers(
            "power(value, 2) + ln(elapsed_seconds)",
            {"value": "`__acc__`", "elapsed_seconds": "`__el__`"},
        )
        assert got == "power(`__acc__`, 2) + ln(`__el__`)"

    def test_case_insensitive_idents(self):
        got = substitute_identifiers("VALUE + 1", {"value": "`__acc__`"})
        assert got == "`__acc__` + 1"

    def test_drift_equation_result(self, spark):
        # sanity: the compiled equation computes power(), matching the
        # reference's PostgreSQL semantics once rewritten
        from pyspark.sql import functions as F

        from aquacache_spark.operators.corrections import (
            Correction, apply_corrections,
        )

        df = spark.createDataFrame(
            [(1, "2024-01-02 00:00:00", 3.0)],
            ["timeseries_id", "datetime", "value"],
        ).withColumn("datetime", F.col("datetime").cast("timestamp"))
        c = Correction(1, 1, "2024-01-01 00:00:00", "2024-02-01 00:00:00",
                       "drift_equation", equation="power(value, 2)")
        out = apply_corrections(df, [c]).collect()
        assert out[0]["value"] == 9.0


def test_long_correction_chain_plans_linearly(spark):
    """60-step chain must plan and run — the naive nested fold was
    exponential in the Column-to-expression conversion (15 steps OOMed
    a 24g driver before the per-step alias fix)."""
    import datetime

    from aquacache_spark.operators.corrections import (
        Correction, apply_corrections)

    df = spark.createDataFrame(
        [(1, datetime.datetime(2020, 3, 15), 10.0)],
        "timeseries_id int, datetime timestamp, value double",
    )
    corr = [
        Correction(i, 1, "2020-03-01 00:00:00", "2020-04-01 00:00:00",
                   "offset_linear", value1=1.0)
        for i in range(60)
    ]
    out = apply_corrections(df, corr).collect()
    assert out[0]["value"] == 70.0  # 10 + 60 offsets
    assert [c for c in apply_corrections(df, corr).columns
            if c.startswith("__corr_")] == []
