"""Gridded-model connector kernels (R/downloadHRDPA.R, downloadHRDPS.R).

HRDPA listing normalization is oracle-checked at scale by the
`hrdpa_listing_normalize` registered query; these closed-form cases pin
the reference's edge rules: prelim supersession, 24 h accumulation
windows, complete-run selection, and the no-new-forecast exit.
"""

import datetime as dt

import pytest

from aquacache_spark.sources.gridded import (
    hrdpa_normalize,
    hrdps_forecast_steps,
    hrdps_select_run,
)


def T(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def listing(spark):
    rows = [
        # datetime 06: prelim only -> kept (no final supersedes)
        ("20240101T06Z_MSC_HRDPA_APCP-Accum24h_Sfc_Prelim.grib2",),
        # datetime 12: prelim + final -> prelim dropped
        ("20240101T12Z_MSC_HRDPA_APCP-Accum24h_Sfc_Prelim.grib2",),
        ("20240101T12Z_MSC_HRDPA_APCP-Accum24h_Sfc.grib2",),
        # datetime 18: final only
        ("20240101T18Z_MSC_HRDPA_APCP-Accum24h_Sfc.grib2",),
        # before start_datetime -> filtered
        ("20231230T00Z_MSC_HRDPA_APCP-Accum24h_Sfc.grib2",),
    ]
    return spark.createDataFrame(rows, "file string").selectExpr(
        "file", "'https://dd/' || file AS path"
    )


def test_hrdpa_prelim_supersession_and_window(spark, listing):
    out = {
        r["file"]: r
        for r in hrdpa_normalize(
            listing, "APCP_Accum24h_Sfc", T("2024-01-01 00:00")
        ).collect()
    }
    assert len(out) == 3
    kept_prelim = out[
        "20240101T06Z_MSC_HRDPA_APCP-Accum24h_Sfc_Prelim.grib2"
    ]
    assert kept_prelim["flag"] == "PRELIMINARY"
    assert kept_prelim["valid_from"] == T("2023-12-31 06:00")  # 24h window
    assert kept_prelim["valid_to"] == T("2024-01-01 06:00")
    # the 12:00 prelim was superseded by the final
    assert (
        "20240101T12Z_MSC_HRDPA_APCP-Accum24h_Sfc_Prelim.grib2" not in out
    )
    final12 = out["20240101T12Z_MSC_HRDPA_APCP-Accum24h_Sfc.grib2"]
    assert final12["flag"] is None and final12["model"] == "HRDPA"
    assert not final12["forecast"]


def test_hrdpa_6h_window(spark, listing):
    out = hrdpa_normalize(
        listing, "APCP-Accum6h_Sfc", T("2024-01-01 00:00")
    ).where("file LIKE '20240101T18%'").collect()[0]
    assert (out["valid_to"] - out["valid_from"]).total_seconds() == 6 * 3600


@pytest.fixture(scope="module")
def runs(spark):
    return spark.createDataFrame(
        [
            ("https://dd/20240101/00", T("2024-01-01 00:00"), 49),
            ("https://dd/20240101/06", T("2024-01-01 06:00"), 49),
            ("https://dd/20240101/12", T("2024-01-01 12:00"), 20),  # incomplete
        ],
        "base_url string, issue timestamp, n_steps int",
    )


def test_hrdps_latest_complete_run(spark, runs):
    sel = hrdps_select_run(runs, last_issued=None).collect()
    assert len(sel) == 1 and sel[0]["issue"] == T("2024-01-01 06:00")


def test_hrdps_no_new_forecast(spark, runs):
    assert (
        hrdps_select_run(runs, last_issued=T("2024-01-01 06:00")).count() == 0
    )
    assert (
        hrdps_select_run(runs, last_issued=T("2024-01-01 00:00")).count() == 1
    )


def test_hrdps_step_expansion(spark, runs):
    run = hrdps_select_run(runs, last_issued=None)
    steps = hrdps_forecast_steps(run, "TMP_AGL-2m", n_steps=48).collect()
    assert len(steps) == 49  # 000..048 inclusive
    s0 = next(s for s in steps if s["step"] == 0)
    assert s0["source"] == (
        "https://dd/20240101/06/000/20240101T06"
        "Z_MSC_HRDPS_TMP_AGL-2m_RLatLon0.0225_PT000H.grib2"
    )
    assert s0["valid_from"] == T("2024-01-01 06:00")
    assert s0["valid_to"] == T("2024-01-01 07:00")
    s48 = next(s for s in steps if s["step"] == 48)
    assert s48["valid_from"] == T("2024-01-03 06:00")
    assert s48["model"] == "HRDPS" and s48["forecast"]


def test_caldas_hours_validation():
    from aquacache_spark.sources.gridded import caldas_validate_hours

    assert caldas_validate_hours("0,6,12,18") == [0, 6, 12, 18]
    assert caldas_validate_hours([0, 3]) == [0, 3]
    with pytest.raises(ValueError):
        caldas_validate_hours([0, 5])  # off the 3-hour grid
    with pytest.raises(ValueError):
        caldas_validate_hours("")


def test_era5_plan_edges(spark):
    from aquacache_spark.sources.gridded import era5_request_plan

    ranges = spark.createDataFrame(
        [
            # spans a partial head month, one full month, a partial tail
            (1, dt.date(2024, 1, 15), dt.date(2024, 3, 10)),
            # exactly one full month -> single month request
            (2, dt.date(2024, 2, 1), dt.date(2024, 2, 29)),
            # inside one month -> day requests only
            (3, dt.date(2024, 4, 5), dt.date(2024, 4, 7)),
        ],
        "req_id int, start_ts date, end_ts date",
    )
    out = era5_request_plan(ranges).collect()
    by_req = {}
    for r in out:
        by_req.setdefault(r["req_id"], []).append(r)
    r1 = sorted(by_req[1], key=lambda r: r["range_start"])
    months = [r for r in r1 if r["request_type"] == "month"]
    days = [r for r in r1 if r["request_type"] == "day"]
    assert len(months) == 1
    assert (months[0]["range_start"], months[0]["range_end"]) == (
        dt.date(2024, 2, 1), dt.date(2024, 2, 29))
    # 17 head days (Jan 15-31) + 10 tail days (Mar 1-10)
    assert len(days) == 17 + 10
    assert all(r["range_start"] == r["range_end"] for r in days)
    r2 = by_req[2]
    assert len(r2) == 1 and r2[0]["request_type"] == "month"
    r3 = by_req[3]
    assert len(r3) == 3 and all(r["request_type"] == "day" for r in r3)
