"""Unit tests for the sequential (applyInPandas) kernels against
closed-form expectations ported from the reference's documented cases
(R/compute_increments.R, R/calculate_period.R + golden snapshot)."""

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from aquacache_spark.operators.increments import compute_increments
from aquacache_spark.operators.period import calculate_period, detect_period_pd
from helpers import compute_increments_pd


def ts(*args):
    return dt.datetime(*args)


def incs(values, reset_drop, min_pos, period_seconds=None, max_gap=0,
         times=None):
    pdf = pd.DataFrame({
        "t": times or [ts(2024, 1, 1, h) for h in range(len(values))],
        "v": values,
    })
    out = compute_increments_pd(pdf, "t", "v", reset_drop, min_pos,
                                period_seconds, max_gap)
    return [None if pd.isna(x) else x for x in out["increment"]]


class TestIncrementsKernel:
    def test_monotone_cumulative(self):
        # first point has no increment (R:86 inc[1] = NA)
        assert incs([0.0, 1.0, 3.0, 3.0, 7.0], 10, 0.0) == \
            [None, 1.0, 2.0, 0.0, 4.0]

    def test_reset_on_step_drop(self):
        # gauge emptied: 90 -> 2 is a step drop of 88 >= reset_drop 10
        # => increment 0, baseline restarts; next counts from 2 (R:105-110)
        assert incs([80.0, 90.0, 2.0, 5.0], 10, 0.0) == [None, 10.0, 0.0, 3.0]

    def test_gradual_decline_is_not_a_reset(self):
        # each step drop is < reset_drop, so no reset fires even though
        # the total decline exceeds it; the recovery to 95 stays below
        # the running baseline 100 => no phantom increments
        assert incs([100.0, 95.0, 90.0, 85.0, 95.0], 10, 0.0) == \
            [None, 0.0, 0.0, 0.0, 0.0]

    def test_refill_after_true_reset(self):
        assert incs([100.0, 85.0, 95.0], 10, 0.0) == [None, 0.0, 10.0]

    def test_min_pos_noise_floor_keeps_baseline(self):
        # +0.2 is noise (< 0.5): increment 0 AND the baseline stays at 10,
        # so the next step measures from max(10, 10.2) (R:113-119)
        assert incs([10.0, 10.2, 11.2], 10, 0.5) == [None, 0.0, 1.0]

    def test_oversized_gap_breaks_chain(self):
        # hourly cadence; 47h gap = 46 missing points > max_gap=0:
        # no increment across it, baseline re-seeds (R:92-98)
        times = [ts(2024, 1, 1, 0), ts(2024, 1, 1, 1),
                 ts(2024, 1, 3, 0), ts(2024, 1, 3, 1)]
        assert incs([5.0, 6.0, 50.0, 51.0], 10, 0.0,
                    period_seconds=3600, max_gap=0, times=times) == \
            [None, 1.0, None, 1.0]

    def test_small_gap_keeps_baseline(self):
        # 1 missing point <= max_gap=1: the first point after the gap
        # still has no increment (its grid predecessor is an NA row) but
        # the baseline carries, so the following step is measured
        times = [ts(2024, 1, 1, 0), ts(2024, 1, 1, 1),
                 ts(2024, 1, 1, 3), ts(2024, 1, 1, 4)]
        assert incs([5.0, 6.0, 8.0, 9.0], 10, 0.0,
                    period_seconds=3600, max_gap=1, times=times) == \
            [None, 1.0, None, 1.0]

    def test_explicit_na_values_count_toward_gap(self):
        # two NA measurements form a run of 2 > max_gap=1: chain breaks
        assert incs([5.0, None, None, 9.0, 10.0], 10, 0.0,
                    period_seconds=3600, max_gap=1) == \
            [None, None, None, None, 1.0]

    def test_distributed_matches_kernel(self, spark):
        pdf = pd.DataFrame({
            "k": [1] * 5 + [2] * 5,
            "t": [ts(2024, 1, 1, h) for h in range(5)] * 2,
            "v": [0.0, 4.0, 9.0, 1.0, 3.0] * 2,
        })
        df = spark.createDataFrame(pdf)
        out = (
            compute_increments(df, keys=["k"], dt_col="t", value_col="v",
                               reset_drop=5, min_pos=0.0)
            .orderBy("k", "t").toPandas()
        )
        expected = compute_increments_pd(pdf[pdf.k == 1].copy(), "t", "v",
                                         5, 0.0)
        for k in (1, 2):
            got = [None if pd.isna(x) else x
                   for x in out[out.k == k]["increment"]]
            want = [None if pd.isna(x) else x for x in expected["increment"]]
            assert got == want

    def test_emit_gap_rows_reproduces_reference_row_set(self, spark):
        # R/compute_increments.R:33-67 inserts NA rows at the cadence
        times = [ts(2024, 1, 1, 0), ts(2024, 1, 1, 1), ts(2024, 1, 1, 3)]
        df = spark.createDataFrame(
            pd.DataFrame({"k": [1] * 3, "t": times, "v": [1.0, 2.0, 3.0]})
        )
        out = (
            compute_increments(df, keys=["k"], dt_col="t", value_col="v",
                               reset_drop=5, min_pos=0.0,
                               period_seconds=3600, max_gap=1,
                               emit_gap_rows=True)
            .orderBy("t").toPandas()
        )
        assert [str(x) for x in out["t"]] == [
            "2024-01-01 00:00:00", "2024-01-01 01:00:00",
            "2024-01-01 02:00:00", "2024-01-01 03:00:00",
        ]
        assert pd.isna(out["v"].iloc[2]) and pd.isna(out["increment"].iloc[2])


class TestPeriodKernel:
    def test_constant_daily_golden_snapshot(self):
        # tests/testthat/_snaps/calculate_period.md:8-24 — 17 daily
        # points => every row P1DT0H0M0S
        pdf = pd.DataFrame({"t": [ts(2023, 12, 18) + dt.timedelta(days=i)
                                  for i in range(17)]})
        out = detect_period_pd(pdf, "t")
        assert set(out["period_hours"]) == {24.0}

    def test_cadence_change_detected_with_backdating(self):
        # 10 hourly then 10 six-hourly points: the new period is adopted
        # at the third differing smoothed diff and backdated 2 rows
        # (R/calculate_period.R:95-104) — the last hourly row already
        # carries the 6h period
        hourly = [ts(2024, 1, 1) + dt.timedelta(hours=i) for i in range(10)]
        sixh = [hourly[-1] + dt.timedelta(hours=6 * (i + 1)) for i in range(10)]
        out = detect_period_pd(pd.DataFrame({"t": hourly + sixh}), "t")
        periods = out["period_hours"].tolist()
        assert periods[0] == 1.0
        assert periods[8] == 1.0
        assert periods[9] == 6.0  # backdated adoption
        assert periods[-1] == 6.0

    def test_counter_resets_on_match_or_na(self):
        # 3 consecutive differing smoothed diffs are required; an
        # alternating pattern whose smoothed medians keep matching the
        # adopted period never re-adopts
        times = [ts(2024, 1, 1) + dt.timedelta(hours=h)
                 for h in range(0, 48, 1)]
        out = detect_period_pd(pd.DataFrame({"t": times}), "t")
        assert set(out["period_hours"]) == {1.0}

    def test_too_few_rows_leaves_period_null(self):
        # reference falls back to a DB fetch / errors; we leave NULL
        out = detect_period_pd(
            pd.DataFrame({"t": [ts(2024, 1, 1), ts(2024, 1, 2)]}), "t"
        )
        assert out["period_hours"].isna().all()

    def test_iso8601_rendering(self, spark):
        pdf = pd.DataFrame({
            "k": [1] * 6,
            "t": [ts(2023, 12, 18) + dt.timedelta(days=i) for i in range(6)],
        })
        df = spark.createDataFrame(pdf)
        out = calculate_period(df, keys=["k"], dt_col="t").toPandas()
        assert set(out["period"]) == {"P1DT0H0M0S"}  # snapshot value,
        # tests/testthat/_snaps/calculate_period.md:8-24

    def test_iso8601_fractional_hours(self, spark):
        # 90-minute cadence -> P0DT1H30M0S via the hours float chain
        pdf = pd.DataFrame({
            "k": [1] * 6,
            "t": [ts(2024, 1, 1) + dt.timedelta(minutes=90 * i)
                  for i in range(6)],
        })
        out = calculate_period(
            spark.createDataFrame(pdf), keys=["k"], dt_col="t"
        ).toPandas()
        assert set(out["period"]) == {"P0DT1H30M0S"}


class TestHampel:
    def test_flags_known_spike(self, spark):
        from aquacache_spark.operators.spike import hampel_flags
        from aquacache_spark.session import local_df

        rows = [(1, i, 10.0 + (i % 3) * 0.1) for i in range(20)]
        rows[9] = (1, 9, 55.0)  # a clear spike
        df = local_df(spark, rows, "series long, t long, value double")
        out = {r["t"]: r for r in hampel_flags(
            df, keys=["series"], dt_col="t", k=5, t=3.0).collect()}
        assert out[9]["is_spike"] is True
        assert sum(1 for r in out.values() if r["is_spike"]) == 1

    def test_null_never_flagged(self, spark):
        from aquacache_spark.operators.spike import hampel_flags
        from aquacache_spark.session import local_df

        rows = [(1, i, None if i == 4 else float(i % 2)) for i in range(10)]
        df = local_df(spark, rows, "series long, t long, value double")
        out = {r["t"]: r for r in hampel_flags(
            df, keys=["series"], dt_col="t", k=2).collect()}
        assert out[4]["is_spike"] is False
