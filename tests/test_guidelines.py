"""Criteria (guideline) evaluation kernels (patch_51.R). The full
rule-evaluation surface is oracle-checked by `guideline_rule_evaluation`
and `guideline_scalar`; these closed forms pin the hardness fallback
ladder and the gated dynamic-expression algorithm."""

import pytest
from pyspark.sql import functions as F

from aquacache_spark.operators.guidelines import (
    evaluate_guideline_rules,
    get_guideline_values,
    guideline_input_values,
    sample_hardness,
)

CA, MG, HARD = 1, 2, 3   # parameter ids
DISS, TOT = 10, 11       # fraction ids
CACO3 = 20               # speciation id


def res_row(sid, pid, fid, value, spec=None):
    return (sid, pid, fid, spec, float(value))


@pytest.fixture(scope="module")
def hardness_results(spark):
    rows = [
        # s1: dissolved Ca+Mg -> computed hardness
        res_row(1, CA, DISS, 10.0), res_row(1, MG, DISS, 5.0),
        res_row(1, HARD, DISS, 999.0, CACO3),  # ladder prefers Ca+Mg
        # s2: only dissolved hardness as CaCO3
        res_row(2, HARD, DISS, 42.0, CACO3),
        # s3: dissolved hardness, wrong speciation -> any-speciation arm
        res_row(3, HARD, DISS, 33.0, 99),
        # s4: only total-fraction Ca+Mg
        res_row(4, CA, TOT, 8.0), res_row(4, MG, TOT, 2.0),
        # s5: nothing usable
        res_row(5, CA, DISS, 0.0),
    ]
    return spark.createDataFrame(
        rows,
        "sample_id int, parameter_id int, sample_fraction_id int,"
        " result_speciation_id int, result double",
    )


def test_hardness_ladder(spark, hardness_results):
    out = {
        r["sample_id"]: r["hardness"]
        for r in sample_hardness(
            hardness_results, CA, MG, HARD, DISS, TOT, CACO3
        ).collect()
    }
    assert out[1] == pytest.approx(2.497 * 10 + 4.118 * 5)
    assert out[2] == 42.0
    assert out[3] == 33.0
    assert out[4] == pytest.approx(2.497 * 8 + 4.118 * 2)
    assert out[5] is None


def test_safe_expr_algorithm(spark):
    """safe_expr replaces the reference's EXECUTE'd sql_scalar: a
    validator-gated expression over per-sample scalars (here the CCME
    hardness-dependent shape), with caps and rounding applied after."""
    iv = spark.createDataFrame(
        [(1, None, None, None), (2, None, None, None)],
        "sample_id int, input_id int, input_value double, status string",
    ).select("sample_id", F.lit(None).cast("int").alias("input_id"),
             "input_value", "status")
    scalars = spark.createDataFrame(
        [(1, 50.0), (2, 400.0)], "sample_id int, hardness double"
    )
    rules = spark.createDataFrame(
        [(1, 1, "upper", 1, "safe_expr", None, None, None, None,
          "exp(0.736 * ln(hardness) + 0.6951)", None, 150.0, 2, "round")],
        "rule_id int, guideline_id int, bound_code string,"
        " rule_priority int, algorithm_code string, fixed_value double,"
        " input_id int, intercept double, slope double,"
        " formula_expr string, min_output_value double,"
        " max_output_value double, rounding_digits int,"
        " rounding_method string",
    )
    out = {
        r["sample_id"]: r
        for r in evaluate_guideline_rules(rules, iv, scalars).collect()
    }
    import math

    expected_1 = round(math.exp(0.736 * math.log(50.0) + 0.6951), 2)
    assert out[1]["guideline_value"] == pytest.approx(expected_1)
    assert out[1]["output_status"] == "value"
    # sample 2's raw value exceeds the 150 cap -> capped then rounded
    assert out[2]["guideline_value"] == 150.0


def test_safe_expr_rejects_unsafe(spark):
    iv = spark.createDataFrame(
        [(1, None, None, None)],
        "sample_id int, input_id int, input_value double, status string",
    )
    rules = spark.createDataFrame(
        [(1, 1, "upper", 1, "safe_expr", None, None, None, None,
          "hardness; DROP TABLE x", None, None, None, "none")],
        "rule_id int, guideline_id int, bound_code string,"
        " rule_priority int, algorithm_code string, fixed_value double,"
        " input_id int, intercept double, slope double,"
        " formula_expr string, min_output_value double,"
        " max_output_value double, rounding_digits double,"
        " rounding_method string",
    ).withColumn("rounding_digits", F.col("rounding_digits").cast("int"))
    with pytest.raises(Exception):
        evaluate_guideline_rules(rules, iv)


def test_scalar_prefers_upper_bound(spark):
    ev = spark.createDataFrame(
        [
            (1, 1, 1, "lower", 2, 3.0, "value"),
            (1, 2, 1, "upper", 1, 9.0, "value"),
            (1, 3, 1, "other", 3, 1.0, "value"),
            (2, 4, 1, "lower", 1, 4.0, "value"),
            (2, 5, 1, "upper", 1, None, "narrative"),  # non-value skipped
        ],
        "sample_id int, rule_id int, guideline_id int, bound_code string,"
        " rule_priority int, guideline_value double, output_status string",
    )
    out = {
        r["sample_id"]: r["guideline_value"]
        for r in get_guideline_values(ev).collect()
    }
    assert out[1] == 9.0  # upper beats lower/other regardless of priority
    assert out[2] == 4.0  # lower wins when no usable upper


def test_applicability_include_unresolved_filters(spark):
    # rules-level include_unresolved=FALSE keeps ONLY output_status =
    # 'value'; guideline-level include_unresolved=FALSE keeps only
    # fully-resolved guidelines — the two WHERE arms of patch_51's
    # read functions (defaults are TRUE; the oracled queries cover
    # those paths)
    from aquacache_spark.operators.guidelines import (
        applicable_guideline_rules_for_results,
        applicable_guidelines_for_results,
    )

    resolved = spark.createDataFrame(
        [(1, 10, 0, 1, 7, 1, 1, 1, 5.0, "actual")],
        "result_id long, sample_id long, location_id long, media_id long,"
        " parameter_id long, matrix_state_id long, sample_fraction_id long,"
        " result_speciation_id long, result_value double,"
        " result_value_relation string")
    import datetime as dt
    guidelines = spark.createDataFrame(
        [(1, 7, 1, "lte", None, dt.date(2019, 1, 1), None, True,
          "approved")],
        "guideline_id int, parameter_id int, matrix_state_id int,"
        " comparison_operator_code string, result_speciation_id int,"
        " valid_from date, valid_to date, active boolean,"
        " review_status string")
    evaluated = spark.createDataFrame(
        [(10, 1, 1, "upper", 1, 8.0, "value", "constant", None),
         (10, 2, 1, "lower", 2, None, "narrative", "narrative", None)],
        "sample_id long, rule_id int, guideline_id int, bound_code string,"
        " rule_priority int, guideline_value double, output_status string,"
        " algorithm_code string, input_value double")

    both = applicable_guideline_rules_for_results(
        resolved, guidelines, evaluated, include_unresolved=True)
    assert both.count() == 2
    only_values = applicable_guideline_rules_for_results(
        resolved, guidelines, evaluated, include_unresolved=False)
    rows = only_values.collect()
    assert len(rows) == 1 and rows[0]["output_status"] == "value"
    assert rows[0]["comparison_status"] == "meets"  # 5.0 <= 8.0, upper

    # guideline level: the narrative rule makes the guideline
    # unresolved -> dropped under FALSE, surfaced as its status under TRUE
    rolled_t = applicable_guidelines_for_results(
        both, include_unresolved=True).collect()
    assert len(rolled_t) == 1
    assert rolled_t[0]["output_status"] == "narrative"
    assert rolled_t[0]["comparison_status"] == "narrative"
    assert applicable_guidelines_for_results(
        both, include_unresolved=False).count() == 0
    # derivation JSON is rule-ordered
    assert rolled_t[0]["derivation_inputs"].startswith('[{"rule_id":1,')


def test_validate_guideline_value_rule_arms():
    """Every arm of the write-side trigger port
    (patch_55.R:849-1060) fires with the trigger's first-violation
    semantics; the clean arms (comment/string/dollar-quote stripping)
    pass."""
    import pytest

    from aquacache_spark.operators.guidelines import (
        GuidelineRuleError, validate_guideline_value_rule)
    from aquacache_spark.queries.hydrology import _RULE_ARMS

    expected = {
        0: None, 1: "narrative", 2: None, 3: "lower or upper",
        4: "must be populated", 5: "only be populated",
        6: "must be populated when algorithm_code is sql_scalar",
        7: "must be populated when algorithm_code is sql_scalar",
        8: "no semicolons", 9: "begin with SELECT",
        10: "parameter placeholder", 11: "may not modify",
        12: "may not modify", 13: "volatile function random",
        14: "disallowed function schema: lateral_lab",
        15: "only be populated when algorithm_code is sql_scalar",
        16: None, 17: None, 18: None, 19: None,
    }
    for arm, alg, bound, fixed, formula in _RULE_ARMS:
        want = expected[arm]
        if want is None:
            validate_guideline_value_rule(alg, bound, fixed, formula)
        else:
            with pytest.raises(GuidelineRuleError, match=want):
                validate_guideline_value_rule(alg, bound, fixed, formula)


def test_validate_guideline_value_rule_loop_order():
    """Trigger fidelity: the function-call loop runs in TEXT order,
    schema gate before volatility per match — a volatile call ahead
    of a disallowed-schema call reports the volatile function."""
    import pytest

    from aquacache_spark.operators.guidelines import (
        GuidelineRuleError, validate_guideline_value_rule)

    with pytest.raises(GuidelineRuleError, match="volatile function random"):
        validate_guideline_value_rule(
            "sql_scalar", "upper", None,
            "SELECT random() + evil.fn($1)")
    with pytest.raises(GuidelineRuleError,
                       match="disallowed function schema: evil"):
        validate_guideline_value_rule(
            "sql_scalar", "upper", None,
            "SELECT evil.fn($1) + random()")
    # grammar tokens before '(' are not function calls
    validate_guideline_value_rule(
        "sql_scalar", "upper", None,
        "SELECT CASE WHEN ($1 IN (1, 2)) THEN 1.0 ELSE 0.0 END")


def test_validate_placeholder_multi_digit():
    """r12 review find: \\$[2-9][0-9]* missed $10 and above — any
    placeholder but exactly $1 must be rejected, including multi-digit
    ones starting with 1, and $0."""
    import pytest

    from aquacache_spark.operators.guidelines import (
        GuidelineRuleError, validate_guideline_value_rule)

    for bad in ("SELECT $10 + $1", "SELECT $12", "SELECT $2",
                "SELECT $0 * 2.0", "SELECT $1 + $199"):
        with pytest.raises(GuidelineRuleError,
                           match="parameter placeholder"):
            validate_guideline_value_rule("sql_scalar", "upper", None, bad)
    # exactly $1 (any number of times) stays legal
    validate_guideline_value_rule(
        "sql_scalar", "upper", None, "SELECT $1 + $1 * 0.5")


def test_derivation_json_null_algorithm(spark):
    """ADVICE r11: a NULL algorithm_code must yield
    '\"algorithm\":null', not a NULL JSON that collect_list drops."""
    from pyspark.sql import functions as F

    from aquacache_spark.operators.guidelines import _derivation_json

    df = spark.createDataFrame(
        [("linear", 1.5), (None, 2.0), ("constant", None)],
        "alg string, iv double")
    out = [r.j for r in df.select(
        _derivation_json(F.col("alg"), F.col("iv")).alias("j")
    ).collect()]
    assert out[0] == '{"algorithm":"linear","input_micro":1500000}'
    assert out[1] == '{"algorithm":null,"input_micro":2000000}'
    assert out[2] == '{"algorithm":"constant","input_micro":null}'
