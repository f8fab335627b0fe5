"""End-to-end API tests against the deterministic fixture closed forms
(FIXTURES.md; reference R/create_test_DB.R)."""

import math

import pytest
from pyspark.sql import functions as F

from aquacache_spark import api
from aquacache_spark.fixtures import build_store


@pytest.fixture(scope="module")
def store(spark):
    s = build_store(spark)
    s.measurements = s.measurements.cache()
    s.measurements.count()
    return s


def closed_form_ts1(epoch: float) -> float:
    return round(10 + math.sin(epoch / 86400) * 0.25, 3)


def _long_period():
    """period_seconds: two days for points on 2023-02-15/16, else 900."""
    return F.when(
        F.col("datetime").between(
            F.lit("2023-02-15 00:00:00").cast("timestamp"),
            F.lit("2023-02-16 23:59:59").cast("timestamp")),
        F.lit(172800.0),
    ).otherwise(F.lit(900.0))


class TestCorrectedRead:
    def test_raw_scan_matches_closed_form(self, spark, store):
        rows = (
            api.measurements_continuous_corrected(
                store, 1, "2022-08-01 00:00:00", "2022-08-01 02:00:00"
            )
            .orderBy("datetime")
            .collect()
        )
        assert len(rows) == 9  # 15-min cadence inclusive window
        for r in rows:
            assert r["corrected_value"] == pytest.approx(
                closed_form_ts1(r["datetime"].timestamp()), abs=1e-9
            )

    def test_correction_window_applies_offset(self, spark, store):
        inside = (
            api.measurements_continuous_corrected(
                store, 1, "2023-01-03 00:00:00", "2023-01-03 01:00:00"
            )
            .orderBy("datetime")
            .collect()
        )
        for r in inside:
            expected = closed_form_ts1(r["datetime"].timestamp()) + 0.25
            assert r["corrected_value"] == pytest.approx(expected, abs=1e-9)
        # outside the window: untouched
        outside = api.measurements_continuous_corrected(
            store, 1, "2023-01-04 00:00:00", "2023-01-04 01:00:00"
        ).collect()
        for r in outside:
            assert r["corrected_value"] == pytest.approx(
                closed_form_ts1(r["datetime"].timestamp()), abs=1e-9
            )

    def test_invalid_statistic_rejected(self, store):
        with pytest.raises(ValueError, match="statistic"):
            api.measurements_continuous_corrected(store, 1, statistic="p99")
        with pytest.raises(ValueError, match="resample_seconds"):
            api.measurements_continuous_corrected(store, 1, statistic="mean")

    def test_unknown_series_raises_key_error(self, store):
        with pytest.raises(KeyError, match="unknown timeseries_id 999"):
            api.measurements_continuous_corrected(store, 999)

    def test_period_column_not_leaked(self, store):
        import dataclasses

        store2 = dataclasses.replace(
            store, measurements=store.measurements.withColumn(
                "period_seconds", _long_period()))
        out = api.measurements_continuous_corrected(
            store2, 1, "2023-02-14 00:00:00", "2023-02-17 00:00:00")
        assert out.columns == ["datetime", "corrected_value"]

    def test_resampled_mean(self, spark, store):
        out = api.measurements_continuous_corrected(
            store, 1, "2022-08-01 00:00:00", "2022-08-01 23:59:59",
            statistic="mean", resample_seconds=3600,
        ).orderBy("bin_start").collect()
        assert len(out) == 24
        assert all(r["corrected_value"] is not None for r in out)


class TestCompoundResolution:
    def test_priority_fallback_prefers_primary(self, spark, store):
        # where ts1 exists, compound 6 uses it
        rows = (
            api.measurements_continuous_corrected(
                store, 6, "2023-01-06 00:00:00", "2023-01-06 01:00:00"
            ).orderBy("datetime").collect()
        )
        for r in rows:
            assert r["corrected_value"] == pytest.approx(
                closed_form_ts1(r["datetime"].timestamp()) + 0.0, abs=1e-9
            )

    def test_priority_fallback_uses_backup_in_gap(self, spark, store):
        # ts1 has a fixture gap [2023-01-10, 2023-01-12); backup (ts2)
        # is allowed from 2023-01-05 -> compound must fall back there
        rows = (
            api.measurements_continuous_corrected(
                store, 6, "2023-01-10 06:00:00", "2023-01-10 07:00:00"
            ).orderBy("datetime").collect()
        )
        assert rows, "fallback rows missing"
        for r in rows:
            e = r["datetime"].timestamp()
            expected_ts2 = round(4 + math.cos(e / 43200) * 1.5, 3)
            assert r["corrected_value"] == pytest.approx(expected_ts2, abs=1e-9)

    def test_expression_compound_formula(self, spark, store):
        rows = (
            api.measurements_continuous_corrected(
                store, 10, "2022-08-01 00:00:00", "2022-08-01 03:00:00"
            ).orderBy("datetime").collect()
        )
        assert rows
        for r in rows:
            e = r["datetime"].timestamp()
            temp = round(4 + math.cos(e / 43200) * 1.5, 3)
            cond = round(138 + math.sin(e / 216000) * 18
                         + math.cos(e / 604800) * 7, 3)
            expected = cond / (1 + 0.0191 * (temp - 25))
            assert r["corrected_value"] == pytest.approx(expected, rel=1e-12)

    def test_cycle_detection(self, spark, store):
        store2 = build_store(spark)
        store2.compounds = dict(store2.compounds)
        # 6 -> 10 -> 6 cycle
        store2.compounds[10] = {
            "expression": None,
            "members": [{"alias": "loop", "timeseries_id": 6, "priority": 1,
                         "use_from": None, "use_to": None}],
        }
        store2.compounds[6] = {
            "expression": None,
            "members": [{"alias": "loop", "timeseries_id": 10, "priority": 1,
                         "use_from": None, "use_to": None}],
        }
        with pytest.raises(api.CompoundCycleError):
            api.measurements_continuous_corrected(store2, 6)


class TestCalculatedDaily:
    def test_grade_n_windows_excluded(self, spark, store):
        # ts1 has an unusable 'N' grade window [2023-02-01, 2023-02-05]
        # (inclusive, patch_48.R:340-350): those days' points must not
        # reach the daily calc; the zero-width 2023-03-01 'N' marker
        # must exclude nothing.
        out = api.measurements_calculated_daily(
            store, 1, "2023-01-28", "2023-02-07"
        ).collect()
        dates = {str(r["date"]) for r in out if r["value"] is not None}
        assert "2023-01-31" in dates and "2023-02-07" in dates
        # days fully inside the window vanish
        assert not dates & {"2023-02-01", "2023-02-02", "2023-02-03",
                            "2023-02-04"}
        # inclusive upper bound: 2023-02-05 00:00:00 itself is excluded,
        # but the rest of Feb 5 (00:15 onward) survives -> day present
        assert "2023-02-05" in dates and "2023-02-06" in dates
        mar = api.measurements_calculated_daily(
            store, 1, "2023-03-01", "2023-03-01"
        ).collect()
        assert len(mar) == 1 and mar[0]["value"] is not None

    def test_long_period_measurements_excluded(self, spark, store):
        from pyspark.sql import functions as F

        import dataclasses

        with_period = store.measurements.withColumn(
            "period_seconds",
            F.when(
                F.col("datetime") >= F.lit("2023-04-01").cast("timestamp"),
                F.lit(172800),
            ).otherwise(F.lit(900)),
        )
        store2 = dataclasses.replace(store, measurements=with_period)
        out = api.measurements_calculated_daily(
            store2, 9, "2023-03-30", "2023-04-03"
        ).collect()
        by_date = {str(r["date"]): r for r in out}
        assert by_date["2023-03-31"]["value"] is not None
        # period > 1 day rows are filtered (patch_48.R:340) -> no April days
        assert "2023-04-01" not in by_date and "2023-04-02" not in by_date

    def test_daily_mean_and_doy(self, spark, store):
        out = api.measurements_calculated_daily(
            store, 9, "2023-03-01", "2023-03-05"
        ).orderBy("date").collect()
        assert len(out) == 5
        r = out[0]
        assert r["value"] is not None
        # second year of a series: exactly 0 or more same-DOY priors
        assert r["doy_count"] >= 0


    def test_unknown_series_raises_key_error(self, store):
        with pytest.raises(KeyError, match="unknown timeseries_id 999"):
            api.measurements_calculated_daily(store, 999)


class TestDailyAt:
    """Point-in-time daily reconstruction (patch_50.R:128-420)."""

    def test_as_of_after_fix_equals_live(self, spark, store):
        live = {
            r["date"]: r["value"]
            for r in api.measurements_calculated_daily(
                store, 1, start_date="2023-02-08", end_date="2023-02-17"
            ).collect()
        }
        at = {
            r["date"]: r["value"]
            for r in api.measurements_calculated_daily_at(
                store, 1, "2023-04-01 00:00:00",
                start_date="2023-02-08", end_date="2023-02-17",
            ).collect()
        }
        assert at == live

    def test_as_of_before_fix_sees_biased_ingest(self, spark, store):
        import datetime as dt

        live = {
            r["date"]: r["value"]
            for r in api.measurements_calculated_daily(
                store, 1, start_date="2023-02-08", end_date="2023-02-17"
            ).collect()
        }
        at = {
            r["date"]: r["value"]
            for r in api.measurements_calculated_daily_at(
                store, 1, "2023-03-01 00:00:00",
                start_date="2023-02-08", end_date="2023-02-17",
            ).collect()
        }
        w0, w1 = dt.date(2023, 2, 10), dt.date(2023, 2, 14)
        assert set(at) == set(live)
        for d, v in at.items():
            if w0 <= d <= w1:
                # every point that day was biased +1.0 -> daily mean too
                assert abs(v - (live[d] + 1.0)) < 1e-9, d
            else:
                assert abs(v - live[d]) < 1e-9, d

    def test_compound_replays_its_members(self, spark, store):
        """Compound 6's primary member is series 1, so its as-of read
        sees series 1's biased first ingest too. The window stays in
        February: the log holds no rows for backup member 2, which
        therefore reads empty as of any time."""
        import datetime as dt

        def daily(fn, *args):
            return {
                r["date"]: r["value"]
                for r in fn(store, 6, *args, start_date="2023-02-08",
                            end_date="2023-02-17").collect()
            }

        live = daily(api.measurements_calculated_daily)
        before = daily(api.measurements_calculated_daily_at,
                       "2023-03-01 00:00:00")
        after = daily(api.measurements_calculated_daily_at,
                      "2023-04-01 00:00:00")
        assert after == live
        w0, w1 = dt.date(2023, 2, 10), dt.date(2023, 2, 14)
        assert set(before) == set(live)
        for d, v in before.items():
            bias = 1.0 if w0 <= d <= w1 else 0.0
            assert abs(v - (live[d] + bias)) < 1e-9, d

    def test_as_of_resurrects_tombstoned_gap_points(self, spark, store):
        import datetime as dt

        live_days = {
            r["date"]
            for r in api.measurements_calculated_daily(
                store, 1, start_date="2023-01-09", end_date="2023-01-13"
            ).collect()
        }
        at_days = {
            r["date"]
            for r in api.measurements_calculated_daily_at(
                store, 1, "2023-03-01 00:00:00",
                start_date="2023-01-09", end_date="2023-01-13",
            ).collect()
        }
        gap = {dt.date(2023, 1, 10), dt.date(2023, 1, 11)}
        assert gap.isdisjoint(live_days)  # live: the gap is empty
        assert gap <= at_days  # pre-fix: spurious ingest rows visible

    def test_no_history_store_reads_live(self, spark, store):
        import dataclasses

        bare = dataclasses.replace(store, measurement_versions=None)
        live = api.measurements_calculated_daily(
            store, 1, start_date="2023-02-08", end_date="2023-02-12"
        ).collect()
        at = api.measurements_calculated_daily_at(
            bare, 1, "2023-01-01 00:00:00",
            start_date="2023-02-08", end_date="2023-02-12",
        ).collect()
        assert sorted(map(tuple, at)) == sorted(map(tuple, live))


    def test_period_carried_through_replay(self, spark, store):
        import dataclasses
        import datetime as dt

        store2 = dataclasses.replace(
            store,
            measurements=store.measurements.withColumn(
                "period_seconds", _long_period()),
            measurement_versions=store.measurement_versions.withColumn(
                "period_seconds", _long_period()),
        )
        live = {
            r["date"]: r["value"]
            for r in api.measurements_calculated_daily(
                store2, 1, start_date="2023-02-13", end_date="2023-02-18"
            ).collect()
        }
        at = {
            r["date"]: r["value"]
            for r in api.measurements_calculated_daily_at(
                store2, 1, "2023-04-01 00:00:00",
                start_date="2023-02-13", end_date="2023-02-18",
            ).collect()
        }
        assert at == live
        # the replayed rows keep their period: two-day points are
        # filtered out of the as-of read as they are out of the live one
        long_days = {dt.date(2023, 2, 15), dt.date(2023, 2, 16)}
        assert long_days.isdisjoint(d for d, v in at.items()
                                    if v is not None)
        assert {dt.date(2023, 2, 14), dt.date(2023, 2, 17)} <= {
            d for d, v in at.items() if v is not None}

    def test_period_missing_from_log_raises(self, store):
        import dataclasses

        store2 = dataclasses.replace(
            store, measurements=store.measurements.withColumn(
                "period_seconds", _long_period()))
        with pytest.raises(ValueError, match="period_seconds"):
            api.measurements_calculated_daily_at(
                store2, 1, "2023-04-01 00:00:00")

    def test_unknown_series_raises_key_error(self, store):
        import dataclasses

        bare = dataclasses.replace(store, measurement_versions=None)
        for s in (store, bare):
            with pytest.raises(KeyError, match="unknown timeseries_id 999"):
                api.measurements_calculated_daily_at(
                    s, 999, "2023-03-01 00:00:00")


class TestTolerantCompound:
    def test_member_tolerance_routes_to_asof(self, spark):
        """A compound whose member carries alignment_tolerance_seconds
        aligns as-of (patch_53.R:503-528): the offset member lands on
        the anchor spine within tolerance; beyond it the expression
        projects NULL."""
        import datetime as dt

        from aquacache_spark.api import measurements_continuous_corrected
        from aquacache_spark.fixtures import FixtureStore
        from pyspark.sql import functions as F

        T0 = dt.datetime(2024, 1, 1)

        def mk(tsid, offsets_s, base):
            return [(tsid, T0 + dt.timedelta(seconds=s), base + i)
                    for i, s in enumerate(offsets_s)]

        meas = spark.createDataFrame(
            # anchor on the hour; member offset by 90s (inside 120s
            # tolerance) except the last point (offset 600s: outside)
            mk(1, [0, 3600, 7200], 10.0)
            + mk(2, [90, 3690, 7800], 100.0),
            "timeseries_id int, datetime timestamp, value double",
        )
        ts = spark.createDataFrame(
            [(1, "basic", "mean"), (2, "basic", "mean"),
             (3, "compound", "mean")],
            "timeseries_id int, timeseries_type string,"
            " aggregation_type string",
        )
        compounds = {3: {"expression": "a + b", "members": [
            {"alias": "a", "timeseries_id": 1, "priority": 1,
             "use_from": None, "use_to": None},
            {"alias": "b", "timeseries_id": 2, "priority": 2,
             "use_from": None, "use_to": None,
             "alignment_tolerance_seconds": 120.0},
        ]}}
        store = FixtureStore(timeseries=ts, measurements=meas,
                             compounds=compounds)
        out = {
            r["datetime"]: r["corrected_value"]
            for r in measurements_continuous_corrected(store, 3).collect()
        }
        assert out[T0] == 110.0                       # 10 + 100 @ +90s
        assert out[T0 + dt.timedelta(seconds=3600)] == 112.0
        # member point at +7800s is 600s away: outside tolerance -> NULL
        assert out[T0 + dt.timedelta(seconds=7200)] is None
        assert len(out) == 3  # anchor spine survives in full

    def test_reuse_member_values(self, spark):
        """reuse_member_values=TRUE: one member point may serve several
        anchors (patch_53.R:1113-1131); FALSE keeps mutual-1:1 so the
        second-nearest anchor loses its match (:1216-1256)."""
        import datetime as dt

        from aquacache_spark.operators.compound import (
            Member, expression_compound_asof,
        )

        T0 = dt.datetime(2024, 1, 1)
        anchor = spark.createDataFrame(
            [(T0, 1.0), (T0 + dt.timedelta(seconds=60), 2.0)],
            "datetime timestamp, value double",
        )
        member = spark.createDataFrame(
            [(T0 + dt.timedelta(seconds=20), 5.0)],
            "datetime timestamp, value double",
        )

        def run(reuse):
            ms = [Member("a", anchor, 1),
                  Member("b", member, 2, reuse_member_values=reuse)]
            return {
                r["datetime"]: r["b"]
                for r in expression_compound_asof(
                    ms, "a + b", tolerance_seconds=120).collect()
            }

        strict = run(False)
        assert strict[T0] == 5.0
        assert strict[T0 + dt.timedelta(seconds=60)] is None  # claimed
        reuse = run(True)
        assert reuse[T0] == 5.0
        assert reuse[T0 + dt.timedelta(seconds=60)] == 5.0  # reused


def test_compound_metadata_rollup_cycle_detected(spark):
    from aquacache_spark.operators.compound import compound_metadata_rollup
    from pyspark.sql import functions as F
    import pytest as _pytest

    basics = spark.createDataFrame(
        [(1, None, None, 300.0)],
        "timeseries_id int, start_datetime timestamp,"
        " end_datetime timestamp, record_rate_seconds double",
    )
    members = spark.createDataFrame(
        [(6, 7, None, None), (7, 6, None, None)],
        "timeseries_id int, member_timeseries_id int,"
        " use_from timestamp, use_to timestamp",
    )
    he = spark.createDataFrame(
        [(6, False), (7, False)], "timeseries_id int, has_expression boolean")
    with _pytest.raises(ValueError, match="unresolvable"):
        compound_metadata_rollup(basics, members, he)
