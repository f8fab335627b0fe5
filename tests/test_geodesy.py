"""Vincenty spheroid geodesy vs authoritative golden values.

The inverse problem (``helpers.with_vincenty_distance``) is the test
oracle for the library's direct problem (``with_vincenty_projection``);
it is pinned here first. Golden sources: the WGS84 quarter meridian
and equatorial quarter arc (closed-form ellipsoid constants) and
Vincenty's own published test line (Flinders Peak -> Buninyong,
54972.271 m)."""

import math

from pyspark.sql import functions as F

from aquacache_spark.functions.geodesy import with_vincenty_projection
from helpers import with_vincenty_distance


def _dist(spark, lat1, lon1, lat2, lon2):
    df = spark.createDataFrame(
        [(float(lat1), float(lon1), float(lat2), float(lon2))],
        "lat1 double, lon1 double, lat2 double, lon2 double",
    )
    out = with_vincenty_distance(
        df, F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2"),
        out_col="d",
    )
    return out.collect()[0]["d"]


def test_equatorial_quarter_arc(spark):
    # equator is a circle of radius a: quarter = a * pi / 2
    assert abs(_dist(spark, 0, 0, 0, 90) - 6378137.0 * math.pi / 2) < 1e-3


def test_quarter_meridian(spark):
    # WGS84 pole-to-equator meridian arc, the classic 10,001,965.729 m
    assert abs(_dist(spark, 0, 0, 90, 0) - 10001965.729) < 1e-2


def test_vincenty_published_test_line(spark):
    # Vincenty (1975) Flinders Peak -> Buninyong: 54,972.271 m
    flinders = (-(37 + 57 / 60 + 3.72030 / 3600),
                144 + 25 / 60 + 29.52440 / 3600)
    buninyong = (-(37 + 39 / 60 + 10.15610 / 3600),
                 143 + 55 / 60 + 35.38390 / 3600)
    d = _dist(spark, flinders[0], flinders[1], buninyong[0], buninyong[1])
    assert abs(d - 54972.271) < 1e-3


def test_coincident_points_zero(spark):
    assert _dist(spark, 48.5, -123.3, 48.5, -123.3) == 0.0


def test_spherical_divergence_is_sub_half_percent(spark):
    d_sph = 2 * 6371008.8 * math.asin(math.sqrt(
        math.sin(math.radians(10) / 2) ** 2))
    d_vin = _dist(spark, 40, -75, 50, -75)
    assert abs(d_vin - d_sph) / d_vin < 0.005


def test_project_round_trips_through_inverse(spark):
    """direct(p, bearing, d) then inverse(p, q) recovers d to sub-mm —
    the two independent formula paths must agree."""
    df = spark.createDataFrame(
        [(60.7, -135.05, b / 7.0, 250.0 + 100 * b) for b in range(14)],
        "lat double, lon double, bearing double, dist double",
    )
    df = with_vincenty_projection(
        df, F.col("lat"), F.col("lon"), F.col("bearing"), F.col("dist"))
    out = with_vincenty_distance(
        df, F.col("lat"), F.col("lon"), F.col("dest_lat"),
        F.col("dest_lon"), out_col="back",
    ).select("dist", "back").collect()
    for r in out:
        assert abs(r["back"] - r["dist"]) < 1e-3


def test_expression_only_no_python_udf(spark):
    df = spark.createDataFrame([(1.0, 2.0, 3.0, 4.0)],
                               "a double, b double, c double, d double")
    out = with_vincenty_projection(
        df, F.col("a"), F.col("b"), F.col("c"), F.col("d"))
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan  # pure map-side


def test_direct_roundtrip_near_antipode(spark):
    """Across the antipodal strip, projecting p1 by the exact inverse
    solution (s, azi) must land on p2. The solutions come from an
    exact (Gauss-Legendre quadrature) inverse solver; the first pair
    is Karney's published antipodal example (Algorithms for geodesics,
    2013: s12 = 19989832.827610 m, alpha1 = 161.890524 deg)."""
    cases = [
        ((-30.0, 0.0, 29.9, 179.8), (19989832.82760953, 161.89052473632543)),
        ((10.0, 5.0, -10.05, 184.9), (19997550.69755315, 171.08063951777385)),
        ((0.5, 0.0, -0.5, 179.5), (19980861.908890963, 55.96970412003686)),
        ((55.0, 30.0, -54.95, 209.85),
         (19996714.95806063, 19.975738667491864)),
    ]
    df = spark.createDataFrame(
        [(la1, lo1, la2, lo2, math.radians(a), s)
         for (la1, lo1, la2, lo2), (s, a) in cases],
        "lat1 double, lon1 double, lat2 double, lon2 double, "
        "azi double, d double")
    got = with_vincenty_projection(
        df, F.col("lat1"), F.col("lon1"), F.col("azi"), F.col("d"),
        iterations=10).collect()
    for r in got:
        assert abs(r["dest_lat"] - r["lat2"]) < 1e-6, r
        dlon = (r["dest_lon"] - r["lon2"] + 180) % 360 - 180
        assert abs(dlon) < 1e-6, r
