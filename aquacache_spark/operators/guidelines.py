"""Water-quality guideline (criteria) evaluation, set-wise.

Port of the reference's ``criteria`` schema functions
(inst/patches/patch_51.R): ``guideline_get_input_value``
(:2156-2590 — candidate result selection with result-type preference
ranking, condition-value fallback, single/avg/min/max aggregation,
calibrated-bounds reject/clamp), ``evaluate_guideline_rule``
(:2590-2830 — constant / narrative / linear / log-linear / dynamic
algorithms with output caps and rounding), ``evaluate_guideline`` /
``get_guideline_value`` (:2830-2930 — priority-ordered rule listing and
the upper>lower bound-preferring scalar), ``guideline_apply_rounding``
(:2112-2146) and ``get_sample_hardness`` (:1780-1905 — the
Ca/Mg-to-CaCO3 fallback ladder used by hardness-dependent metal
guidelines).

The reference evaluates one (guideline, sample) pair per call; here
every stage is a DataFrame over ALL (sample, rule) pairs at once: the
rule/input/coefficient tables are catalog-sized broadcasts, the results
fact is scanned once, and each status ladder is a when() chain — so a
whole monitoring network's samples screen against a whole guideline
book in one pass.

Divergence, documented: the reference's ``sql_scalar`` algorithm
EXECUTEs arbitrary SQL; here it is ``safe_expr`` — a numeric expression
over named per-sample scalar columns (e.g. ``hardness``) gated by the
same validator as compound expressions and drift equations
(plans/expr_safety.py), consistent with SURVEY §2.10.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.expr_safety import assert_safe_numeric_expression

def _bound_order() -> Column:
    return (F.when(F.col("bound_code") == "upper", 1)
            .when(F.col("bound_code") == "lower", 2).otherwise(4))


def apply_rounding(value: Column, digits: Column, method: Column) -> Column:
    """guideline_apply_rounding (patch_51.R:2112-2146): 'none'/NULL pass
    through; 'round' half-up at ``digits``; 'floor'/'ceiling' at the
    scaled digit. Half-up uses the engine-wide deterministic idiom."""
    d = F.coalesce(digits, F.lit(0))
    scale = F.pow(F.lit(10.0), d)
    return (
        F.when(value.isNull() | method.isNull() | (method == "none"), value)
        .when(method == "round", F.floor(value * scale + 0.5) / scale)
        .when(method == "floor", F.floor(value * scale) / scale)
        .when(method == "ceiling", F.ceil(value * scale) / scale)
    )


def sample_hardness(
    results: DataFrame,
    calcium_pid: int,
    magnesium_pid: int,
    hardness_pid: int,
    dissolved_fid: int,
    total_fid: int,
    caco3_sid: int,
) -> DataFrame:
    """Per-sample hardness (patch_51.R:1780-1905): dissolved Ca+Mg
    (2.497·Ca + 4.118·Mg) > dissolved hardness as CaCO3 > dissolved
    hardness any speciation > the same ladder on total fractions.
    One conditional-aggregate pass over the results fact."""
    def pick(pid, fid, sid=None) -> Column:
        cond = (F.col("parameter_id") == pid) & (F.col("sample_fraction_id") == fid)
        if sid is not None:
            cond = cond & (F.col("result_speciation_id") == sid)
        return F.max(F.when(cond, F.col("result")))

    v = results.groupBy("sample_id").agg(
        pick(calcium_pid, dissolved_fid).alias("ca_d"),
        pick(magnesium_pid, dissolved_fid).alias("mg_d"),
        pick(hardness_pid, dissolved_fid, caco3_sid).alias("h_d_caco3"),
        pick(hardness_pid, dissolved_fid).alias("h_d_any"),
        pick(calcium_pid, total_fid).alias("ca_t"),
        pick(magnesium_pid, total_fid).alias("mg_t"),
        pick(hardness_pid, total_fid, caco3_sid).alias("h_t_caco3"),
        pick(hardness_pid, total_fid).alias("h_t_any"),
    )
    ladder = (
        F.when((F.col("ca_d") > 0) & (F.col("mg_d") > 0),
               2.497 * F.col("ca_d") + 4.118 * F.col("mg_d"))
        .when(F.col("h_d_caco3") > 0, F.col("h_d_caco3"))
        .when(F.col("h_d_any") > 0, F.col("h_d_any"))
        .when((F.col("ca_t") > 0) & (F.col("mg_t") > 0),
              2.497 * F.col("ca_t") + 4.118 * F.col("mg_t"))
        .when(F.col("h_t_caco3") > 0, F.col("h_t_caco3"))
        .when(F.col("h_t_any") > 0, F.col("h_t_any"))
    )
    return v.select("sample_id", ladder.alias("hardness"))


def guideline_input_values(
    samples: DataFrame,
    results: DataFrame,
    rule_inputs: DataFrame,
) -> DataFrame:
    """Per (sample_id, input_id) input resolution
    (guideline_get_input_value, patch_51.R:2156-2590).

    ``rule_inputs`` columns: input_id, parameter_id, matrix_state_id,
    sample_fraction_id, result_speciation_id, result_type,
    result_type_preference (array<string>, NULL = any),
    allow_condition_value, aggregate_method ('single'|'avg'|'min'|'max'),
    lower_calibrated_bound, upper_calibrated_bound, bounds_action
    ('reject'|'clamp'|'warn').

    Output: sample_id, input_id, input_value, status ∈ {value,
    missing_input, missing_input_value, ambiguous_input,
    outside_calibrated_range}.
    """
    ins = F.broadcast(rule_inputs.select(
        "input_id",
        F.col("parameter_id").alias("__i_pid"),
        F.col("matrix_state_id").alias("__i_ms"),
        F.col("sample_fraction_id").alias("__i_sf"),
        F.col("result_speciation_id").alias("__i_sp"),
        F.col("result_type").alias("__i_rt"),
        F.col("result_type_preference").alias("__i_pref"),
        "allow_condition_value", "aggregate_method",
        "lower_calibrated_bound", "upper_calibrated_bound", "bounds_action",
    ))
    pref_empty = F.col("__i_pref").isNull() | (F.size("__i_pref") == 0)
    cand = results.join(
        ins,
        (F.col("parameter_id") == F.col("__i_pid"))
        & (F.col("__i_ms").isNull()
           | (F.col("matrix_state_id") == F.col("__i_ms")))
        & (F.col("__i_sf").isNull()
           | F.col("sample_fraction_id").eqNullSafe(F.col("__i_sf")))
        & (F.col("__i_sp").isNull()
           | F.col("result_speciation_id").eqNullSafe(F.col("__i_sp")))
        & (F.col("__i_rt").isNull()
           | F.col("result_type").eqNullSafe(F.col("__i_rt")))
        & (pref_empty | F.array_contains(
            F.col("__i_pref"), F.coalesce(F.col("result_type"), F.lit(""))
        )),
    )
    rank = F.when(pref_empty, 1).otherwise(
        F.array_position(F.col("__i_pref"), F.col("result_type"))
    )
    use_val = F.when(F.col("result").isNotNull(), F.col("result")).when(
        F.col("allow_condition_value"), F.col("result_condition_value")
    )
    cand = cand.select(
        "sample_id", "input_id", "result_id",
        rank.cast("int").alias("__rank"), use_val.alias("__v"),
    )
    # selected rank via a window, then ONE conditional aggregation on
    # the same keys — the window's exchange is reused by the groupBy,
    # so the candidate set is scanned once (a join-back against a
    # separate rank aggregate re-derived the whole candidate join)
    from pyspark.sql import Window

    w = Window.partitionBy("sample_id", "input_id")
    cand = cand.withColumn(
        "__sel_rank",
        F.min(F.when(F.col("__v").isNotNull(), F.col("__rank"))).over(w),
    )
    at_pref = F.col("__v").isNotNull() & (
        F.col("__rank") == F.col("__sel_rank"))
    agg = cand.groupBy("sample_id", "input_id").agg(
        F.count(F.lit(1)).alias("__matching"),
        F.count("__v").alias("__usable"),
        F.count(F.when(at_pref, F.lit(1))).alias("__n_pref"),
        # exact mean (order-independent): avg() of doubles varies in
        # the last ulp with partition order, which can flip the 1e-6
        # rounding boundary between runs/engines
        (F.sum(F.when(at_pref,
                      F.floor(F.col("__v") * 1000000.0 + 0.5).cast("long")))
         / 1000000.0
         / F.count(F.when(at_pref, F.lit(1)))).alias("__avg"),
        F.min(F.when(at_pref, F.col("__v"))).alias("__min"),
        F.max(F.when(at_pref, F.col("__v"))).alias("__max"),
    )

    # the (sample x input) grid so zero-candidate pairs surface as
    # missing_input (the per-call function's first exit)
    grid = samples.select("sample_id").crossJoin(
        F.broadcast(rule_inputs.select(
            "input_id", "aggregate_method", "lower_calibrated_bound",
            "upper_calibrated_bound", "bounds_action",
        ))
    )
    g = grid.join(agg, ["sample_id", "input_id"], "left")
    raw = (
        F.when(F.col("aggregate_method") == "avg", F.col("__avg"))
        .when(F.col("aggregate_method") == "max", F.col("__max"))
        .otherwise(F.col("__min"))  # 'min' and 'single' both take min
    )
    below = F.col("lower_calibrated_bound").isNotNull() & (
        raw < F.col("lower_calibrated_bound"))
    above = F.col("upper_calibrated_bound").isNotNull() & (
        raw > F.col("upper_calibrated_bound"))
    clamped = (
        F.when(below & (F.col("bounds_action") == "clamp"),
               F.col("lower_calibrated_bound"))
        .when(above & (F.col("bounds_action") == "clamp"),
              F.col("upper_calibrated_bound"))
        .otherwise(raw)
    )
    ambiguous = (F.col("aggregate_method") == "single") & (F.col("__n_pref") > 1)
    rejected = (below | above) & (F.col("bounds_action") == "reject")
    status = (
        F.when(F.col("__matching").isNull() | (F.col("__matching") == 0),
               "missing_input")
        .when(F.col("__usable") == 0, "missing_input_value")
        .when(ambiguous, "ambiguous_input")
        .when(rejected, "outside_calibrated_range")
        .otherwise("value")
    )
    return g.select(
        "sample_id", "input_id",
        F.when(status == "value", clamped).alias("input_value"),
        status.alias("status"),
    )


def evaluate_guideline_rules(
    rules: DataFrame,
    input_values: DataFrame,
    sample_scalars: Optional[DataFrame] = None,
    safe_expr_idents: Sequence[str] = ("hardness",),
    samples: Optional[DataFrame] = None,
) -> DataFrame:
    """Per (rule, sample) evaluation (evaluate_guideline_rule,
    patch_51.R:2590-2830).

    ``rules`` columns: rule_id, guideline_id, bound_code, rule_priority,
    algorithm_code ('constant'|'narrative'|'linear'|'log_linear'|
    'safe_expr'), fixed_value, input_id (linear/log_linear),
    intercept, slope (their coefficient rows, pre-pivoted),
    formula_expr (safe_expr), min_output_value, max_output_value,
    rounding_digits, rounding_method.

    ``sample_scalars``: per-sample columns the safe_expr algorithm may
    reference (e.g. the hardness ladder) — every expression is gated by
    the §2.10 validator before reaching Catalyst.

    Output grain: one row per (sample_id, rule_id) with guideline_value
    + output_status; input-status rows propagate (missing/ambiguous/
    out-of-range), log_linear of a non-positive input is
    'invalid_input_value' (patch_51.R:2746-2752).

    ``samples``: the sample-id frame when the caller already has it
    (guideline_input_values' own grid is samples x inputs, so its
    distinct sample set IS that frame) — without it the
    select/distinct below re-derives the ENTIRE input-values subtree
    (candidate join + window + aggregation over the results fact) a
    second time just for the id list (r12, guide §2.4/§5: duplicated
    subtree, 2x the evaluation core's fact-side work at any scale).
    """
    for row in rules.select("algorithm_code", "formula_expr").collect():
        if row["algorithm_code"] == "safe_expr":
            assert_safe_numeric_expression(
                row["formula_expr"], allowed_idents=tuple(safe_expr_idents)
            )
    r = F.broadcast(rules)
    if samples is None:
        samples = input_values.select("sample_id").distinct()
    else:
        samples = samples.select("sample_id")
    base = samples.crossJoin(r)
    base = base.join(
        input_values.withColumnRenamed("status", "__in_status"),
        ["sample_id", "input_id"], "left",
    )
    if sample_scalars is not None:
        base = base.join(F.broadcast(sample_scalars), "sample_id", "left")

    alg = F.col("algorithm_code")
    needs_input = alg.isin("linear", "log_linear")
    input_bad = needs_input & (F.col("__in_status") != "value")
    log_invalid = (
        (alg == "log_linear") & (F.col("__in_status") == "value")
        & (F.col("input_value") <= 0)
    )
    value = (
        F.when(alg == "constant", F.col("fixed_value"))
        .when(alg == "linear",
              F.col("intercept") + F.col("slope") * F.col("input_value"))
        .when(alg == "log_linear",
              F.exp(F.col("intercept")
                    + F.col("slope") * F.log(F.col("input_value"))))
    )
    if sample_scalars is not None:
        for row in rules.where(F.col("algorithm_code") == "safe_expr") \
                .select("rule_id", "formula_expr").collect():
            value = F.when(
                (alg == "safe_expr") & (F.col("rule_id") == row["rule_id"]),
                F.expr(row["formula_expr"]),
            ).otherwise(value)
    # sequential caps exactly as the reference (patch_51.R:2780-2800):
    # raise to the min cap, then lower to the max cap, each only when
    # that cap is set — a least/greatest-with-coalesce form silently
    # uses `value` as the missing cap's identity and cancels the other
    lo = F.when(
        F.col("min_output_value").isNotNull()
        & (value < F.col("min_output_value")),
        F.col("min_output_value"),
    ).otherwise(value)
    capped = F.when(
        F.col("max_output_value").isNotNull()
        & (lo > F.col("max_output_value")),
        F.col("max_output_value"),
    ).otherwise(lo)
    rounded = apply_rounding(
        capped, F.col("rounding_digits"), F.col("rounding_method"))
    status = (
        F.when(alg == "narrative", "narrative")
        .when(input_bad, F.col("__in_status"))
        .when(log_invalid, "invalid_input_value")
        .when(rounded.isNull(), "no_value")
        .otherwise("value")
    )
    return base.select(
        "sample_id", "rule_id", "guideline_id", "bound_code", "rule_priority",
        F.when(status == "value", rounded).alias("guideline_value"),
        status.alias("output_status"),
        # carried for the applicability read API's derivation_inputs
        # (patch_51.R:3212-3258); harmless passthrough for older callers
        "algorithm_code",
        F.col("input_value"),
    )


def get_guideline_values(evaluated: DataFrame) -> DataFrame:
    """The scalar per (guideline, sample): the first 'value' row
    preferring upper > lower > other bounds, then rule_id
    (get_guideline_value, patch_51.R:2880-2930). Partial-aggregable
    min(struct) — no window sort."""
    v = evaluated.where(F.col("output_status") == "value")
    pick = F.min(F.struct(
        _bound_order().alias("o"), F.col("rule_id").alias("r"),
        F.col("guideline_value").alias("v"),
    ))
    return (
        v.groupBy("guideline_id", "sample_id")
        .agg(pick.alias("b"))
        .select("guideline_id", "sample_id",
                F.col("b.v").alias("guideline_value"))
    )


def resolve_result_values(
    results: DataFrame,
    result_conditions: DataFrame,
) -> DataFrame:
    """The detection-limit ``result_value`` / ``result_value_relation``
    COALESCE ladder of ``applicable_guideline_rules_for_result``
    (patch_51.R:2966-2990): a numeric result is 'actual'; otherwise the
    condition VALUE substitutes when the condition is the coded 1/2
    (below/above detection) or its WORDING matches
    'below detection%'/'above detection%' — relation 'less_than' /
    'greater_than' — else relation 'none' with a NULL value.

    ``result_conditions`` is the catalog wording dim
    (result_condition_id, result_condition); broadcast left-joined so
    the ladder is one map-side when() chain over the results fact.
    """
    rc = F.broadcast(result_conditions.select(
        F.col("result_condition_id").alias("__rc_id"),
        F.lower(F.col("result_condition")).alias("__rc_txt"),
    ))
    j = results.join(rc, F.col("result_condition") == F.col("__rc_id"),
                     "left")
    below_txt = F.col("__rc_txt").like("below detection%")
    above_txt = F.col("__rc_txt").like("above detection%")
    cond = F.col("result_condition")
    value = F.coalesce(
        F.col("result"),
        F.when(cond.isin(1, 2), F.col("result_condition_value"))
        .when(below_txt, F.col("result_condition_value"))
        .when(above_txt, F.col("result_condition_value")),
    )
    relation = (
        F.when(F.col("result").isNotNull(), "actual")
        .when((cond == 1) | below_txt, "less_than")
        .when((cond == 2) | above_txt, "greater_than")
        .otherwise("none")
    )
    return (
        j.withColumn("result_value", value)
        .withColumn("result_value_relation", relation)
        .drop("__rc_id", "__rc_txt")
    )


def _derivation_json(algorithm: Column, input_value: Column) -> Column:
    """Deterministic per-rule derivation-inputs JSON: the input value is
    emitted as an INTEGER micro-unit (floor(v*1e6+0.5)) so both engines
    format it identically (float-to-string formatting differs between
    Spark and DuckDB; integers never do)."""
    micro = F.floor(input_value * 1000000.0 + F.lit(0.5)).cast("long")
    # F.concat null-propagates: a NULL algorithm_code must become
    # "algorithm":null, not a NULL JSON that collect_list silently
    # drops (losing the rule's derivation record entirely).
    return F.concat(
        F.lit('{"algorithm":'),
        F.coalesce(
            F.concat(F.lit('"'), algorithm, F.lit('"')), F.lit("null")),
        F.lit(',"input_micro":'),
        F.coalesce(micro.cast("string"), F.lit("null")),
        F.lit("}"),
    )


def _rule_comparison_status() -> Column:
    """Rule-level comparison_status ladder (patch_51.R:3025-3040),
    verbatim arm order: unresolved passthrough, no_numeric_result,
    then the censored-relation x bound_code matrix
    (meets / exceeds / censored_indeterminate / below)."""
    st = F.col("output_status")
    rv = F.col("result_value")
    gv = F.col("guideline_value")
    rel = F.col("result_value_relation")
    bound = F.col("bound_code")
    return (
        F.when(st != "value", st)
        .when(rv.isNull(), "no_numeric_result")
        .when((rel == "less_than") & (bound == "upper") & (rv <= gv),
              "meets")
        .when(rel == "less_than", "censored_indeterminate")
        .when((rel == "greater_than") & (bound == "upper") & (rv > gv),
              "exceeds")
        .when((rel == "greater_than") & (bound == "lower") & (rv >= gv),
              "meets")
        .when(rel == "greater_than", "censored_indeterminate")
        .when((bound == "upper") & (rv <= gv), "meets")
        .when(bound == "upper", "exceeds")
        .when((bound == "lower") & (rv >= gv), "meets")
        .when(bound == "lower", "below")
        .otherwise("not_evaluated")
    )


def applicable_guideline_rules_for_results(
    resolved: DataFrame,
    guidelines: DataFrame,
    evaluated: DataFrame,
    media_types: Optional[DataFrame] = None,
    fractions: Optional[DataFrame] = None,
    locations: Optional[DataFrame] = None,
    as_of_date: str = "2024-06-15",
    include_unresolved: bool = True,
    include_unapproved: bool = False,
) -> DataFrame:
    """criteria.applicable_guideline_rules_for_result
    (patch_51.R:2907-3145) for EVERY result at once — the criteria
    tier's top-level read API ("does this result meet guidelines?"),
    rule grain.

    The reference runs one LATERAL call per result; here the
    applicability STAR is one broadcast equi-join of the results fact
    against the guideline book on (parameter_id, matrix_state_id),
    with the validity window, approval, speciation
    (g NULL = any, else null-safe equal), and the three link-table
    any-row/matching-row predicates (media / fractions / locations)
    folded into the join as residual conditions over broadcast
    collect_set lists — so a whole monitoring network screens against
    the whole rulebook in one pass, then joins the per-(guideline,
    sample) evaluation core output on its natural key.

    Inputs: ``resolved`` = resolve_result_values output pre-joined
    with its sample star (needs result_id, sample_id, location_id,
    media_id, parameter_id, matrix_state_id, sample_fraction_id,
    result_speciation_id, result_value, result_value_relation);
    ``guidelines`` = the dim with any descriptive columns already
    attached (guideline_id, parameter_id, matrix_state_id,
    comparison_operator_code, result_speciation_id, valid_from,
    valid_to, active, review_status, + passthrough display columns);
    ``evaluated`` = evaluate_guideline_rules output enriched with
    algorithm_code (+ optionally input_value) per rule. Link tables:
    ``media_types`` (guideline_id, media_id), ``fractions``
    (guideline_id, fraction_id — NULL fraction matches NULL sample
    fraction), ``locations`` (guideline_id, location_id, active).

    Divergences, documented: ``derivation_inputs`` is a deterministic
    JSON string built from (algorithm, integer-quantized input value)
    rather than the reference's jsonb of every intermediate (its exact
    key set is EXECUTE-time dynamic); the trigger-facing ``message``
    column is not emitted (the evaluation core raises no messages).
    """
    g = guidelines
    asof = F.lit(as_of_date).cast("date")
    cond = (F.lit(True)
            & (asof >= g["valid_from"])
            & (g["valid_to"].isNull() | (asof <= g["valid_to"])))
    if not include_unapproved:
        cond = cond & g["active"] & (g["review_status"] == "approved")
    gsel = g.withColumnRenamed("parameter_id", "__g_pid") \
        .withColumnRenamed("matrix_state_id", "__g_ms") \
        .withColumnRenamed("result_speciation_id", "__g_spec")
    if media_types is not None:
        ml = media_types.groupBy("guideline_id").agg(
            F.collect_set("media_id").alias("__media_list"))
        gsel = gsel.join(F.broadcast(ml), "guideline_id", "left")
    else:
        gsel = gsel.withColumn(
            "__media_list", F.lit(None).cast("array<bigint>"))
    if fractions is not None:
        # NULL fraction rows in the link table match a NULL sample
        # fraction: both sides map NULL -> -1 for the list test (the
        # fraction key is a small positive int in the reference schema)
        fl = fractions.groupBy("guideline_id").agg(
            F.collect_set(
                F.coalesce(F.col("fraction_id").cast("long"), F.lit(-1))
            ).alias("__frac_list"))
        gsel = gsel.join(F.broadcast(fl), "guideline_id", "left")
    else:
        gsel = gsel.withColumn(
            "__frac_list", F.lit(None).cast("array<bigint>"))
    if locations is not None:
        ll = locations.where(F.col("active")).groupBy("guideline_id").agg(
            F.collect_set("location_id").alias("__loc_list"))
        gsel = gsel.join(F.broadcast(ll), "guideline_id", "left")
    else:
        gsel = gsel.withColumn(
            "__loc_list", F.lit(None).cast("array<bigint>"))

    star = resolved.join(
        F.broadcast(gsel),
        (F.col("parameter_id") == F.col("__g_pid"))
        & (F.col("matrix_state_id") == F.col("__g_ms")),
    ).where(
        cond
        & (F.col("__g_spec").isNull()
           | F.col("__g_spec").eqNullSafe(F.col("result_speciation_id")))
        & (F.col("__media_list").isNull()
           | F.array_contains(F.col("__media_list"),
                              F.col("media_id").cast("long")))
        & (F.col("__frac_list").isNull()
           | F.array_contains(
               F.col("__frac_list"),
               F.coalesce(F.col("sample_fraction_id").cast("long"),
                          F.lit(-1))))
        & (F.col("__loc_list").isNull()
           | F.array_contains(F.col("__loc_list"),
                              F.col("location_id").cast("long")))
    ).drop("__g_pid", "__g_ms", "__g_spec", "__media_list",
           "__frac_list", "__loc_list")

    ev = evaluated.withColumnRenamed("guideline_id", "__e_gid") \
        .withColumnRenamed("sample_id", "__e_sid")
    if "input_value" not in ev.columns:
        ev = ev.withColumn("input_value", F.lit(None).cast("double"))
    out = star.join(
        ev,
        (F.col("guideline_id") == F.col("__e_gid"))
        & (F.col("sample_id") == F.col("__e_sid")),
    ).drop("__e_gid", "__e_sid")
    if not include_unresolved:
        out = out.where(F.col("output_status") == "value")
    return out.withColumn(
        "comparison_status", _rule_comparison_status()
    ).withColumn(
        "derivation_inputs",
        _derivation_json(F.col("algorithm_code"), F.col("input_value")),
    )


def applicable_guidelines_for_results(
    rule_rows: DataFrame,
    group_cols: Sequence[str] = (
        "result_id", "sample_id", "guideline_id"),
    carry_cols: Sequence[str] = (
        "comparison_operator_code", "result_value",
        "result_value_relation"),
    include_unresolved: bool = True,
) -> DataFrame:
    """criteria.applicable_guidelines_for_result (patch_51.R:3162-3400):
    roll the rule rows up to guideline grain — lower/upper bound
    values as ``max() FILTER`` over resolved rows, ``bool_and`` of
    resolution, the sorted-distinct unresolved-status list, the
    rule_id-ORDERED derivation-inputs JSON array — then the
    guideline-level comparison_status ladder keyed on
    comparison_operator_code (lte / gte / range / eq, with the
    censored-relation arms, 'invalid_guideline_bounds' for an eq
    guideline whose bounds disagree, and 'does_not_equal').

    ``carry_cols`` are functionally dependent on the group key and
    carried via first(); descriptive display columns belong there too.
    """
    keys = list(group_cols)
    val = F.col("output_status") == "value"
    aggs = [
        F.max(F.when(val & (F.col("bound_code") == "lower"),
                     F.col("guideline_value")))
        .alias("lower_guideline_value"),
        F.max(F.when(val & (F.col("bound_code") == "upper"),
                     F.col("guideline_value")))
        .alias("upper_guideline_value"),
        (F.min(F.when(val, 1).otherwise(0)) == 1)
        .alias("__all_resolved"),
        F.array_join(
            F.array_sort(F.collect_set(
                F.when(~val, F.col("output_status")))),
            ", ").alias("__unresolved"),
        F.concat(
            F.lit("["),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(
                        F.col("rule_id").alias("r"),
                        F.concat(
                            F.lit('{"rule_id":'),
                            F.col("rule_id").cast("string"),
                            F.lit(',"bound":"'), F.col("bound_code"),
                            F.lit('","inputs":'),
                            F.col("derivation_inputs"), F.lit("}"),
                        ).alias("j")))),
                    lambda s: s["j"]),
                ","),
            F.lit("]"),
        ).alias("derivation_inputs"),
    ] + [F.first(c).alias(c) for c in carry_cols]
    grouped = rule_rows.groupBy(*keys).agg(*aggs)

    rv = F.col("result_value")
    rel = F.col("result_value_relation")
    op = F.col("comparison_operator_code")
    lo = F.col("lower_guideline_value")
    hi = F.col("upper_guideline_value")
    status = (
        F.when(~F.col("__all_resolved"), F.col("__unresolved"))
        .when(rv.isNull(), "no_numeric_result")
        .when((rel == "less_than") & (op == "lte") & (rv <= hi), "meets")
        .when(rel == "less_than", "censored_indeterminate")
        .when((rel == "greater_than") & (op == "lte") & (rv > hi),
              "exceeds")
        .when((rel == "greater_than") & (op == "gte") & (rv >= lo),
              "meets")
        .when((rel == "greater_than") & (op == "range") & (rv > hi),
              "exceeds")
        .when(rel == "greater_than", "censored_indeterminate")
        .when((op == "lte") & (rv <= hi), "meets")
        .when(op == "lte", "exceeds")
        .when((op == "gte") & (rv >= lo), "meets")
        .when(op == "gte", "below")
        .when((op == "range") & (rv >= lo) & (rv <= hi), "meets")
        .when((op == "range") & (rv < lo), "below")
        .when((op == "range") & (rv > hi), "exceeds")
        .when((op == "eq")
              & (lo.isNull() | hi.isNull() | (lo != hi)),
              "invalid_guideline_bounds")
        .when((op == "eq") & (rv == hi), "meets")
        .when(op == "eq", "does_not_equal")
        .otherwise("not_evaluated")
    )
    out = grouped.withColumn(
        "output_status",
        F.when(F.col("__all_resolved"), "value")
        .otherwise(F.col("__unresolved"))
    ).withColumn("comparison_status", status)
    if not include_unresolved:
        out = out.where(F.col("__all_resolved"))
    return out.drop("__all_resolved", "__unresolved")


# ---------------------------------------------------------------------------
# Write-side rule validation — criteria.validate_guideline_value_rule
# ---------------------------------------------------------------------------

# Shared regex literals (Java regex on the Spark side, RE2 in DuckDB
# oracles, `re` in the Python row validator — every construct below is
# common to all three; PG's \m/\M word bounds are re-expressed as \b,
# POSIX [[:space:]] as \s).  The comment/string strip ladder mirrors
# the trigger's four regexp_replace passes in order
# (inst/patches/patch_55.R:888-893).
FORMULA_STRIP_PATTERNS: tuple[str, ...] = (
    r"(?s)\$[^$]*\$.*?\$[^$]*\$",       # dollar-quoted strings
    r"'([^'\\]|\\.)*'",                  # single-quoted strings
    r"--.*?(\n|$)",                      # line comments
    r"(?s)/\*.*?\*/",                    # block comments
)
FORMULA_SELECT_PREFIX = r"(?is)^\s*\(*\s*(with\s.*select|select)(\s|\()"
FORMULA_BAD_PLACEHOLDER = r"\$([02-9][0-9]*|1[0-9]+)"  # any but exactly $1

_FORBIDDEN_COMMANDS = (
    "alter|analyze|call|checkpoint|cluster|copy|create|deallocate|delete"
    "|discard|do|drop|execute|grant|insert|listen|lock|merge|notify"
    "|prepare|refresh|reindex|reset|revoke|set|truncate|unlisten|update"
    "|vacuum"
)
_FORBIDDEN_FUNCTIONS = (
    "dblink|lo_export|lo_import|pg_cancel_backend|pg_sleep"
    "|pg_terminate_backend|set_config"
)
FORMULA_FORBIDDEN = (
    rf"(?i)(\b({_FORBIDDEN_COMMANDS})\b"
    rf"|\b({_FORBIDDEN_FUNCTIONS})\s*\()"
)
# The trigger resolves every called function against pg_proc and
# rejects provolatile = 'v' (patch_55.R:925-983).  Spark has no
# pg_catalog; the governed stand-in is this frozen list of the
# volatile built-ins a guideline formula could plausibly reach —
# unqualified or qualified with an allowed schema.
VOLATILE_FUNCTIONS: frozenset[str] = frozenset({
    "random", "setseed", "nextval", "setval", "currval", "lastval",
    "set_config", "pg_sleep", "pg_advisory_lock",
    "pg_advisory_xact_lock", "pg_try_advisory_lock",
    "clock_timestamp", "timeofday", "statement_timestamp",
    "gen_random_uuid", "uuid_generate_v1", "uuid_generate_v4",
})
ALLOWED_FUNCTION_SCHEMAS: frozenset[str] = frozenset({
    "pg_catalog", "criteria", "discrete", "public",
})
# One function-call scanner shared by the schema and volatile arms:
# group 1 = optional schema qualifier, group 2 = function name.
FORMULA_FUNCTION_CALL = (
    r"\b(?:([A-Za-z_][A-Za-z0-9_]*)\.)?([A-Za-z_][A-Za-z0-9_]*)\s*\(")
# SQL grammar tokens that legitimately precede '(' but are not calls
# (the trigger's CONTINUE list, patch_55.R:938-948).
_NON_CALL_TOKENS = frozenset({
    "as", "case", "filter", "in", "over", "select", "values", "when",
})
FORMULA_VOLATILE = (
    r"(?i)\b(?:(?:pg_catalog|criteria|discrete|public)\.)?("
    + "|".join(sorted(VOLATILE_FUNCTIONS)) + r")\s*\("
)


class GuidelineRuleError(ValueError):
    """A guideline_value_rules row violates the write-side contract."""


def scan_formula_sql(formula_sql: str) -> str:
    """The trigger's comment/string-stripped scan text
    (patch_55.R:888-893): dollar-quoted strings, single-quoted
    strings, line comments, then block comments removed, in order."""
    import re as _re

    scan = formula_sql
    for pat in FORMULA_STRIP_PATTERNS:
        scan = _re.sub(pat, "", scan)
    return scan


def validate_guideline_value_rule(
    algorithm_code: str,
    bound_code: str | None,
    fixed_value: float | None,
    formula_sql: str | None,
) -> None:
    """Row-level port of criteria.validate_guideline_value_rule
    (inst/patches/patch_55.R:849-1060), the reference's last
    write-side trigger: narrative rules carry no bound_code, numeric
    rules bound lower/upper, constant rules carry exactly fixed_value,
    sql_scalar rules a single read-only SELECT with at most the $1
    placeholder, no forbidden command/function words, no volatile
    functions, and function calls only from governed schemas.  Raises
    GuidelineRuleError with the trigger's arm order (first violation
    wins); the EXPLAIN-plan walk (ModifyTable / plan-schema scan) is
    PostgreSQL-catalog-specific and is subsumed here by the lexical
    gates plus the engine fact that guideline formulas execute via the
    safe-expression evaluator over registered criteria/discrete views
    only (plans/expr_safety.py:44).
    """
    import re as _re

    if algorithm_code == "narrative":
        if bound_code is not None:
            raise GuidelineRuleError(
                "bound_code must be NULL when algorithm_code is narrative.")
    elif bound_code is None or bound_code not in ("lower", "upper"):
        raise GuidelineRuleError(
            "Numeric guideline rules must use bound_code lower or upper.")

    if algorithm_code == "constant" and fixed_value is None:
        raise GuidelineRuleError(
            "fixed_value must be populated when algorithm_code is constant.")
    if algorithm_code != "constant" and fixed_value is not None:
        raise GuidelineRuleError(
            "fixed_value may only be populated when algorithm_code is "
            "constant.")

    if algorithm_code == "sql_scalar":
        if formula_sql is None or formula_sql.strip() == "":
            raise GuidelineRuleError(
                "formula_sql must be populated when algorithm_code is "
                "sql_scalar.")
        scan = scan_formula_sql(formula_sql)
        if ";" in scan:
            raise GuidelineRuleError(
                "formula_sql must be a single statement with no semicolons.")
        if not _re.search(FORMULA_SELECT_PREFIX, scan):
            raise GuidelineRuleError(
                "formula_sql must begin with SELECT or WITH ... SELECT.")
        if _re.search(FORMULA_BAD_PLACEHOLDER, scan):
            raise GuidelineRuleError(
                "Only $1 may be used as a parameter placeholder in "
                "formula_sql.")
        if _re.search(FORMULA_FORBIDDEN, scan):
            raise GuidelineRuleError(
                "formula_sql may not modify data, database objects, "
                "sessions, or server processes.")
        # Text-order iteration over every function call, schema gate
        # before volatility per match — exactly the trigger's loop.
        for m in _re.finditer(FORMULA_FUNCTION_CALL, scan):
            schema = (m.group(1) or "").lower() or None
            fn = m.group(2).lower()
            if schema is None and fn in _NON_CALL_TOKENS:
                continue
            if schema is not None and schema not in ALLOWED_FUNCTION_SCHEMAS:
                raise GuidelineRuleError(
                    f"formula_sql references disallowed function schema: "
                    f"{schema}")
            if fn in VOLATILE_FUNCTIONS:
                raise GuidelineRuleError(
                    f"formula_sql may not call volatile function {fn}.")
    elif formula_sql is not None:
        raise GuidelineRuleError(
            "formula_sql may only be populated when algorithm_code is "
            "sql_scalar.")


def rule_violation_column(
    algorithm: Column, bound: Column, fixed: Column, formula: Column,
) -> Column:
    """The same ladder as a single Catalyst when()-chain over a rules
    DataFrame — 'ok' or the first violation code, so a whole rulebook
    validates in one broadcast-free scan.  One documented divergence
    from the row validator: the schema and volatile arms are each
    whole-text regex tests, so for a formula containing BOTH a
    disallowed-schema call and an earlier volatile call the column
    reports bad_function_schema where the trigger's text-order loop
    would report the volatile function first; single-defect rows (and
    all fixture arms) agree.
    """
    scan = formula
    for pat in FORMULA_STRIP_PATTERNS:
        scan = F.regexp_replace(scan, pat, "")
    has_bad_schema = F.exists(
        F.regexp_extract_all(scan, F.lit(FORMULA_FUNCTION_CALL), 1),
        lambda s: (s != "")
        & ~F.lower(s).isin(*sorted(ALLOWED_FUNCTION_SCHEMAS)),
    )
    is_narr = algorithm == "narrative"
    is_const = algorithm == "constant"
    is_sql = algorithm == "sql_scalar"
    return (
        F.when(is_narr & bound.isNotNull(), "narrative_bound_code")
        .when(~is_narr & (bound.isNull() | ~bound.isin("lower", "upper")),
              "bad_bound_code")
        .when(is_const & fixed.isNull(), "missing_fixed_value")
        .when(~is_const & fixed.isNotNull(), "unexpected_fixed_value")
        .when(is_sql & (formula.isNull() | (F.trim(formula) == "")),
              "missing_formula_sql")
        .when(is_sql & scan.contains(";"), "semicolon")
        .when(is_sql & ~F.regexp_like(scan, F.lit(FORMULA_SELECT_PREFIX)),
              "not_select")
        .when(is_sql & F.regexp_like(scan, F.lit(FORMULA_BAD_PLACEHOLDER)),
              "bad_placeholder")
        .when(is_sql & F.regexp_like(scan, F.lit(FORMULA_FORBIDDEN)),
              "forbidden_command")
        .when(is_sql & has_bad_schema, "bad_function_schema")
        .when(is_sql & F.regexp_like(scan, F.lit(FORMULA_VOLATILE)),
              "volatile_function")
        .when(~is_sql & formula.isNotNull(), "unexpected_formula_sql")
        .otherwise("ok")
    )
