"""Closed-form tests for operators/maintenance.py (maintain.R,
generateACLocationCode.R)."""

import datetime

from pyspark.sql import functions as F

from aquacache_spark.operators.maintenance import (
    generate_location_codes,
    location_checks,
    timeseries_bounds_refresh,
    visibility_expiry_flip,
)


def test_visibility_flip_cases(spark):
    today = datetime.date(2026, 4, 1)
    rows = [
        # (id, share, expiry) -> expected (share, expiry)
        (1, ["admin"], datetime.date(2026, 1, 1)),      # expired -> public, null
        (2, ["admin"], datetime.date(2026, 12, 1)),     # future -> unchanged
        (3, ["public_reader"], datetime.date(2026, 1, 1)),  # already public -> expiry nulled
        (4, ["admin"], None),                           # no expiry -> unchanged
    ]
    df = spark.createDataFrame(rows, "id int, share_with array<string>, private_expiry date")
    out = {
        r["id"]: (r["share_with"], r["private_expiry"])
        for r in visibility_expiry_flip(df, F.lit("2026-04-01").cast("date")).collect()
    }
    assert out[1] == (["public_reader"], None)
    assert out[2] == (["admin"], datetime.date(2026, 12, 1))
    assert out[3] == (["public_reader"], None)
    assert out[4] == (["admin"], None)


def test_bounds_refresh_patches_only_stale(spark):
    dt = datetime.datetime
    dim = spark.createDataFrame(
        [(1, dt(2020, 1, 1), dt(2020, 1, 3)),   # stale end
         (2, dt(2020, 2, 1), dt(2020, 2, 2)),   # in sync
         (3, dt(2020, 3, 1), dt(2020, 3, 2))],  # no measurements
        "timeseries_id int, start_datetime timestamp, end_datetime timestamp",
    )
    meas = spark.createDataFrame(
        [(1, dt(2020, 1, 1)), (1, dt(2020, 1, 5)),
         (2, dt(2020, 2, 1)), (2, dt(2020, 2, 2))],
        "timeseries_id int, datetime timestamp",
    )
    out = {r["timeseries_id"]: r for r in
           timeseries_bounds_refresh(dim, meas).collect()}
    assert out[1]["bounds_changed"] and out[1]["end_datetime"] == dt(2020, 1, 5)
    assert not out[2]["bounds_changed"]
    assert not out[3]["bounds_changed"] and out[3]["start_datetime"] == dt(2020, 3, 1)


def test_location_checks_flags(spark):
    locs = spark.createDataFrame(
        [(1, "A-1"), (2, "B-2"), (3, "C-3")], "location_id int, location_code string")
    used = spark.createDataFrame([(1,), (3,)], "location_id int")
    feats = spark.createDataFrame(
        [("Locations", "a-1"), ("Other", "b-2")], "layer_name string, feature_name string")
    out = {r["location_id"]: r for r in
           location_checks(locs, used, feats).collect()}
    assert not out[1]["orphan"] and not out[1]["missing_point"]
    assert out[2]["orphan"] and out[2]["missing_point"]  # 'Other' layer ignored
    assert not out[3]["orphan"] and out[3]["missing_point"]


def _unit_square(ox, oy, s=1.0):
    return [{"x": ox, "y": oy}, {"x": ox + s, "y": oy},
            {"x": ox + s, "y": oy + s}, {"x": ox, "y": oy + s}]


def test_code_generation_sequencing_and_widening(spark):
    # two basins; points 1-3 in basin A (prefix continues after 00007),
    # point 4 in basin B whose existing max is 99999 -> widens to 100000.
    basins = spark.createDataFrame(
        [("09AB Basin", _unit_square(0.0, 0.0)),
         ("10CD Basin", _unit_square(10.0, 10.0))],
        "feature_name string, ring array<struct<x:double,y:double>>",
    )
    pts = spark.createDataFrame(
        [(1, 0.5, 0.5, 0), (2, 0.4, 0.4, 0), (3, 0.6, 0.6, 1), (4, 10.5, 10.5, 9)],
        "point_id int, px double, py double, type_id int",
    )
    types = spark.createDataFrame(
        [(0, "WL"), (1, "HG")], "type_id int, type_suffix string")
    existing = spark.createDataFrame(
        [("09AB-WL-00007",), ("10CD-OT-99999",)], "code string")
    out = {r["point_id"]: r["location_code"] for r in
           generate_location_codes(pts, basins, types, existing).collect()}
    assert out[1] == "09AB-WL-00008"
    assert out[2] == "09AB-WL-00009"
    assert out[3] == "09AB-HG-00001"      # different suffix -> own sequence
    assert out[4] == "10CD-OT-100000"     # unknown type -> OT; widens past 99999


def test_code_generation_smallest_basin_wins(spark):
    # nested squares: point inside both -> smaller area assigned
    basins = spark.createDataFrame(
        [("11AA Outer", _unit_square(0.0, 0.0, 10.0)),
         ("12BB Inner", _unit_square(4.0, 4.0, 2.0))],
        "feature_name string, ring array<struct<x:double,y:double>>",
    )
    pts = spark.createDataFrame([(1, 5.0, 5.0, 0)],
                                "point_id int, px double, py double, type_id int")
    types = spark.createDataFrame([(0, "WL")], "type_id int, type_suffix string")
    existing = spark.createDataFrame([], "code string")
    rows = generate_location_codes(pts, basins, types, existing).collect()
    assert rows[0]["feature_name"] == "12BB Inner"
    assert rows[0]["location_code"] == "12BB-WL-00001"


def test_insert_timeseries_appends_only_accepted(spark):
    import datetime
    from aquacache_spark.operators.catalog_admin import (
        insert_timeseries, validate_new_timeseries)

    dims = lambda vals, name: spark.createDataFrame([(v,) for v in vals], f"{name} int")
    cat_schema = ("location_id int, parameter_id int, media_id int, "
                  "aggregation_type string, record_rate int, start_datetime timestamp")
    existing = spark.createDataFrame(
        [(1, 1, 1, "mean", 1, datetime.datetime(2020, 1, 1))], cat_schema)
    batch = spark.createDataFrame(
        [(1, 1, 1, 1, "mean", 1, datetime.datetime(2021, 1, 1)),   # dup of existing
         (2, 1, 2, 1, "mean", 1, datetime.datetime(2021, 1, 1)),   # ok
         (3, 9, 1, 1, "mean", 1, datetime.datetime(2021, 1, 1)),   # bad location
         (4, 1, 2, 1, "mean", 1, datetime.datetime(2021, 2, 1))],  # dup in batch of row 2
        "row_id int, " + cat_schema)
    v = validate_new_timeseries(
        batch, dims([1, 2], "location_id"), dims([1, 2], "parameter_id"),
        dims([1], "media_id"),
        spark.createDataFrame([("mean",)], "agg string"), existing)
    reasons = {r["row_id"]: r["reject_reason"] for r in v.collect()}
    assert reasons == {1: "duplicate_of_existing", 2: None,
                       3: "unknown_location", 4: "duplicate_in_batch"}
    merged = insert_timeseries(existing, v)
    assert merged.count() == 2


def test_validate_batch_generic_series(spark):
    """validate_batch covers the other add* entry points — here the
    image-series shape (addACImageSeries.R:44): location FK + unique
    (location_id, img_type)."""
    from aquacache_spark.operators.catalog_admin import validate_batch

    locs = spark.createDataFrame([(1,), (2,)], "location_id int")
    existing = spark.createDataFrame([(1, "auto")],
                                     "location_id int, img_type string")
    batch = spark.createDataFrame(
        [(1, 1, "auto", "d"), (2, 3, "auto", "d"), (3, 2, None, "d"),
         (4, 2, "manual", "d"), (5, 2, "manual", "d")],
        "row_id int, location_id int, img_type string, descr string")
    out = validate_batch(
        batch,
        fk_checks=[("location_id", locs, "unknown_location")],
        unique_key=("location_id", "img_type"),
        existing=existing,
        null_checks=[("img_type", "img_type_null")],
    )
    reasons = {r["row_id"]: r["reject_reason"] for r in out.collect()}
    assert reasons == {1: "duplicate_of_existing", 2: "unknown_location",
                       3: "img_type_null", 4: None, 5: "duplicate_in_batch"}


def test_masked_points_spheroid_distance_matches_request(spark):
    """spheroid=True projects on WGS84: the Vincenty inverse distance
    back to the origin recovers the requested offset to sub-mm."""
    from pyspark.sql import functions as F

    from aquacache_spark.operators.maintenance import masked_location_points
    from helpers import with_vincenty_distance

    locs = spark.createDataFrame(
        [(60.72 + i * 0.3, -135.05 + i * 0.7, f"s{i}") for i in range(8)],
        "lat double, lon double, seed string",
    )
    masked = masked_location_points(locs, 100.0, 500.0, spheroid=True)
    back = with_vincenty_distance(
        masked, F.col("lat"), F.col("lon"),
        F.col("masked_lat"), F.col("masked_lon"), out_col="back",
    ).select("offset_m", "back").collect()
    for r in back:
        assert 100.0 <= r["offset_m"] <= 500.0
        assert abs(r["back"] - r["offset_m"]) < 1e-3


def test_unit_update_guard_semantics(spark):
    """patch_52 trigger parity: change + usage -> blocked; NULLing a
    set unit counts as a change; unused or NULL-old units update."""
    from aquacache_spark.operators.catalog_admin import (
        classify_unit_updates)

    params = spark.createDataFrame(
        [(1, "mg/L", None, None), (2, "mg/L", "mg/kg", None),
         (3, None, None, "ppm")],
        "parameter_id int, units_liquid string, units_solid string, "
        "units_gas string")
    updates = spark.createDataFrame(
        [(1, "g/L", None, None),    # change, used -> blocked
         (2, None, "mg/kg", None),  # NULLed liquid (unused) + solid noop
         (3, "mg/L", None, "ppm")], # NULL old -> update; gas noop
        "parameter_id int, units_liquid string, units_solid string, "
        "units_gas string")
    ms = spark.createDataFrame(
        [(1, "liquid"), (2, "solid"), (3, "gas")],
        "matrix_state_id int, matrix_state_code string")
    results = spark.createDataFrame(
        [(1, 1)], "parameter_id int, matrix_state_id int")  # p1 liquid
    ts = spark.createDataFrame(
        [(10, 2, 2), (11, 2, 1)],
        "timeseries_id int, parameter_id int, matrix_state_id int")
    meas = spark.createDataFrame(
        [(10,)], "timeseries_id int")  # only the SOLID ts is measured
    out = {(r["parameter_id"], r["phase"]): r["action"]
           for r in classify_unit_updates(
               params, updates, ms, results, ts, meas).collect()}
    assert out[(1, "liquid")] == "blocked"   # discrete usage
    assert out[(2, "liquid")] == "update"    # ts 11 exists but unmeasured
    assert out[(2, "solid")] == "noop"
    assert out[(3, "liquid")] == "update"    # old NULL: never guarded
    assert out[(3, "gas")] == "noop"
