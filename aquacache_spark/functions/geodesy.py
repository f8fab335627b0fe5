"""Spheroid-exact point projection as staged column expressions
(WGS84 Vincenty direct problem).

The reference masks locations with PostGIS ``ST_Project`` on the
``geography`` type (DEV_locs_masking.R:397-462), which solves the
direct geodesic problem on the WGS84 ellipsoid. The engine's default
path uses spherical formulas (documented sub-0.5% divergence);
``with_vincenty_projection`` (start + bearing + distance ->
destination, Vincenty 1975 with a FIXED number of iterations) closes
the gap for ``masked_location_points(spheroid=True)``.

It is a DataFrame transform that STAGES every iteration through
named projection columns: a naively nested Column tree re-references
each iterate many times, and the duplicated subtrees grow
exponentially (observed: JVM StackOverflow at 3 unrolled
iterations). Staged columns keep the plan linear in the iteration
count and entirely JVM-side — no UDFs, no loops at runtime.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563
WGS84_B = WGS84_A * (1.0 - WGS84_F)

_TMP = [
    "__vd_su1", "__vd_cu1", "__vd_sal", "__vd_cal", "__vd_sig1", "__vd_sa",
    "__vd_c2a", "__vd_usq", "__vd_A", "__vd_B", "__vd_sig", "__vd_c2sm",
    "__vd_ss", "__vd_cs", "__vd_dsig", "__vd_base",
]


def with_vincenty_projection(
    df: DataFrame,
    lat: Column,
    lon: Column,
    bearing_rad: Column,
    dist_m: Column,
    lat_out: str = "dest_lat",
    lon_out: str = "dest_lon",
    iterations: int = 6,
) -> DataFrame:
    """Add (``lat_out``, ``lon_out``) degrees = destination of the
    WGS84 direct problem (spheroid-exact ST_Project)."""
    f = WGS84_F
    u1 = F.atan((1 - f) * F.tan(F.radians(lat)))
    df = df.withColumns({
        "__vd_su1": F.sin(u1), "__vd_cu1": F.cos(u1),
        "__vd_sal": F.sin(bearing_rad), "__vd_cal": F.cos(bearing_rad),
    })
    su1, cu1 = F.col("__vd_su1"), F.col("__vd_cu1")
    sal, cal = F.col("__vd_sal"), F.col("__vd_cal")
    df = df.withColumns({
        "__vd_sig1": F.atan2(su1 / cu1, cal),
        "__vd_sa": cu1 * sal,
    })
    df = df.withColumn("__vd_c2a", 1 - F.col("__vd_sa") * F.col("__vd_sa"))
    df = df.withColumn(
        "__vd_usq",
        F.col("__vd_c2a") * (WGS84_A ** 2 - WGS84_B ** 2) / WGS84_B ** 2)
    usq = F.col("__vd_usq")
    df = df.withColumns({
        "__vd_A": 1 + usq / 16384 * (
            4096 + usq * (-768 + usq * (320 - 175 * usq))),
        "__vd_B": usq / 1024 * (
            256 + usq * (-128 + usq * (74 - 47 * usq))),
    })
    df = df.withColumn("__vd_base", dist_m / (WGS84_B * F.col("__vd_A")))
    df = df.withColumn("__vd_sig", F.col("__vd_base"))
    bb = F.col("__vd_B")
    for _ in range(iterations):
        df = df.withColumns({
            "__vd_c2sm": F.cos(2 * F.col("__vd_sig1") + F.col("__vd_sig")),
            "__vd_ss": F.sin(F.col("__vd_sig")),
            "__vd_cs": F.cos(F.col("__vd_sig")),
        })
        ss, cs, c2sm = F.col("__vd_ss"), F.col("__vd_cs"), F.col("__vd_c2sm")
        df = df.withColumn(
            "__vd_dsig",
            bb * ss * (
                c2sm + bb / 4 * (
                    cs * (-1 + 2 * c2sm * c2sm)
                    - bb / 6 * c2sm
                    * (-3 + 4 * ss * ss) * (-3 + 4 * c2sm * c2sm)
                )
            ),
        )
        df = df.withColumn(
            "__vd_sig", F.col("__vd_base") + F.col("__vd_dsig"))

    df = df.withColumns({
        "__vd_ss": F.sin(F.col("__vd_sig")),
        "__vd_cs": F.cos(F.col("__vd_sig")),
        "__vd_c2sm": F.cos(2 * F.col("__vd_sig1") + F.col("__vd_sig")),
    })
    ss, cs = F.col("__vd_ss"), F.col("__vd_cs")
    sa, c2a = F.col("__vd_sa"), F.col("__vd_c2a")
    c2sm = F.col("__vd_c2sm")
    lat2 = F.atan2(
        su1 * cs + cu1 * ss * cal,
        (1 - f) * F.sqrt(
            sa * sa + (su1 * ss - cu1 * cs * cal)
            * (su1 * ss - cu1 * cs * cal)
        ),
    )
    lam = F.atan2(ss * sal, cu1 * cs - su1 * ss * cal)
    cc = f / 16 * c2a * (4 + f * (4 - 3 * c2a))
    big_l = lam - (1 - cc) * f * sa * (
        F.col("__vd_sig") + cc * ss * (
            c2sm + cc * cs * (-1 + 2 * c2sm * c2sm)
        )
    )
    lon2_deg = F.degrees(F.radians(lon) + big_l)
    lon2_deg = lon2_deg - 360 * F.floor((lon2_deg + 180) / 360)
    df = df.withColumn(lat_out, F.degrees(lat2)).withColumn(
        lon_out, lon2_deg)
    return df.drop(*_TMP)
