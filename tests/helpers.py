"""Oracles and helpers that only tests call.

- ``with_vincenty_distance``: the WGS84 inverse problem (Vincenty
  1975) as staged columns, the independent check on
  ``functions/geodesy.with_vincenty_projection``;
- ``decode_geotiff``: reads back the GeoTIFF subset that
  ``functions/geotiff.encode_geotiff`` writes;
- ``compute_increments_pd``: the per-series increments kernel of
  ``operators/increments.compute_increments`` run on one pandas frame;
- ``is_safe_numeric_expression``: ``assert_safe_numeric_expression``
  as a predicate.
"""

from __future__ import annotations

import struct
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aquacache_spark.functions import geotiff as G
from aquacache_spark.functions.geodesy import WGS84_A, WGS84_B, WGS84_F
from aquacache_spark.operators.increments import _increments_parts
from aquacache_spark.plans.expr_safety import (UnsafeExpressionError,
                                               assert_safe_numeric_expression)

_TYPE_SIZE = {G._TYPE_SHORT: 2, G._TYPE_LONG: 4, G._TYPE_ASCII: 1,
              G._TYPE_DOUBLE: 8}


def with_vincenty_distance(
    df: DataFrame,
    lat1: Column,
    lon1: Column,
    lat2: Column,
    lon2: Column,
    out_col: str = "dist_m",
) -> DataFrame:
    """Add ``out_col`` = WGS84 spheroid metres between the two points
    (Vincenty inverse, 8 λ-iterations; it converges in <4 except
    within ~0.01° of the antipode). Temp columns are dropped before
    returning."""
    f = WGS84_F
    u1 = F.atan((1 - f) * F.tan(F.radians(lat1)))
    u2 = F.atan((1 - f) * F.tan(F.radians(lat2)))
    df = df.withColumns({
        "__vd_su1": F.sin(u1), "__vd_cu1": F.cos(u1),
        "__vd_su2": F.sin(u2), "__vd_cu2": F.cos(u2),
        "__vd_L": F.radians(lon2) - F.radians(lon1),
    }).withColumn("__vd_lam", F.col("__vd_L"))

    su1, cu1 = F.col("__vd_su1"), F.col("__vd_cu1")
    su2, cu2 = F.col("__vd_su2"), F.col("__vd_cu2")
    for _ in range(8):
        df = df.withColumns({
            "__vd_sl": F.sin(F.col("__vd_lam")),
            "__vd_cl": F.cos(F.col("__vd_lam")),
        })
        sl, cl = F.col("__vd_sl"), F.col("__vd_cl")
        df = df.withColumns({
            "__vd_ss": F.sqrt(
                (cu2 * sl) * (cu2 * sl)
                + (cu1 * su2 - su1 * cu2 * cl)
                * (cu1 * su2 - su1 * cu2 * cl)
            ),
            "__vd_cs": su1 * su2 + cu1 * cu2 * cl,
        })
        ss, cs = F.col("__vd_ss"), F.col("__vd_cs")
        df = df.withColumns({
            "__vd_sig": F.atan2(ss, cs),
            "__vd_sa": F.when(ss == 0, F.lit(0.0)).otherwise(
                cu1 * cu2 * sl / ss),
        })
        df = df.withColumn(
            "__vd_c2a", 1 - F.col("__vd_sa") * F.col("__vd_sa"))
        c2a = F.col("__vd_c2a")
        df = df.withColumns({
            "__vd_c2sm": F.when(c2a == 0, F.lit(0.0)).otherwise(
                cs - 2 * su1 * su2 / c2a),
            "__vd_C": f / 16 * c2a * (4 + f * (4 - 3 * c2a)),
        })
        c2sm, cc = F.col("__vd_c2sm"), F.col("__vd_C")
        df = df.withColumn(
            "__vd_lam",
            F.col("__vd_L") + (1 - cc) * f * F.col("__vd_sa") * (
                F.col("__vd_sig") + cc * ss * (
                    c2sm + cc * cs * (-1 + 2 * c2sm * c2sm)
                )
            ),
        )

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
    ss, cs, c2sm = F.col("__vd_ss"), F.col("__vd_cs"), F.col("__vd_c2sm")
    bb = F.col("__vd_B")
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
    dist = WGS84_B * F.col("__vd_A") * (F.col("__vd_sig") - F.col("__vd_dsig"))
    df = df.withColumn(
        out_col, F.when(ss == 0, F.lit(0.0)).otherwise(dist))
    return df.drop(*[c for c in df.columns if c.startswith("__vd_")])


def decode_geotiff(blob: bytes) -> dict:
    """Parse the subset ``encode_geotiff`` writes. Returns grid metadata and a
    row-major values list with None at nodata cells."""
    if blob[:4] not in (b"II*\x00", b"MM\x00*"):
        raise ValueError("not a TIFF (bad magic)")
    en = "<" if blob[:2] == b"II" else ">"
    (ifd_off,) = struct.unpack_from(f"{en}I", blob, 4)
    (n_entries,) = struct.unpack_from(f"{en}H", blob, ifd_off)
    tags = {}
    for k in range(n_entries):
        tag, typ, count = struct.unpack_from(
            f"{en}HHI", blob, ifd_off + 2 + 12 * k)
        voff = ifd_off + 2 + 12 * k + 8
        size = _TYPE_SIZE.get(typ, 1) * count
        if size > 4:
            (ptr,) = struct.unpack_from(f"{en}I", blob, voff)
            raw = blob[ptr:ptr + size]
        else:
            raw = blob[voff:voff + size]
        if typ == G._TYPE_SHORT:
            vals = struct.unpack_from(f"{en}{count}H", raw)
        elif typ == G._TYPE_LONG:
            vals = struct.unpack_from(f"{en}{count}I", raw)
        elif typ == G._TYPE_DOUBLE:
            vals = struct.unpack_from(f"{en}{count}d", raw)
        elif typ == G._TYPE_ASCII:
            vals = (raw.split(b"\x00")[0].decode(),)
        else:
            continue
        tags[tag] = vals
    w = tags[G._TAG_WIDTH][0]
    h = tags[G._TAG_HEIGHT][0]
    if tags.get(G._TAG_COMPRESSION, (1,))[0] != 1:
        raise ValueError("compressed TIFF unsupported")
    bits = tags[G._TAG_BITS][0]
    fmt = tags.get(G._TAG_SAMPLE_FORMAT, (1,))[0]
    if fmt != 3 or bits not in (32, 64):
        raise ValueError(
            f"unsupported sample layout (format={fmt}, bits={bits})")
    dt = np.dtype(f"{en}f{bits // 8}")
    offs = tags[G._TAG_STRIP_OFFSETS]
    counts = tags[G._TAG_STRIP_COUNTS]
    raw = b"".join(blob[o:o + c] for o, c in zip(offs, counts))
    arr = np.frombuffer(raw, dtype=dt, count=w * h)
    nodata = None
    if G._TAG_GDAL_NODATA in tags:
        nodata = float(tags[G._TAG_GDAL_NODATA][0])
    vals: list[Optional[float]] = arr.astype(float).tolist()
    if nodata is not None:
        vals = [None if v == nodata else v for v in vals]
    sx, sy = tags.get(G._TAG_PIXEL_SCALE, (0.0, 0.0, 0.0))[:2]
    tie = tags.get(G._TAG_TIEPOINT, (0.0,) * 6)
    geo = tags.get(G._TAG_GEOKEYS, ())
    epsg = None
    if len(geo) >= 4:
        for k in range(geo[3]):
            kid, loc, _cnt, val = geo[4 + 4 * k:8 + 4 * k]
            if kid == 2048 and loc == 0:
                epsg = val
    return {
        "width": w, "height": h, "scale_x": sx, "scale_y": sy,
        "origin_x": tie[3], "origin_y": tie[4], "epsg": epsg,
        "nodata": nodata, "values": vals,
    }


def compute_increments_pd(
    pdf: pd.DataFrame,
    dt_col: str,
    value_col: str,
    reset_drop: float,
    min_pos: float,
    period_seconds: float | None = None,
    max_gap: int = 0,
) -> pd.DataFrame:
    """``compute_increments``' per-series kernel on one pandas frame."""
    return _increments_parts(pdf, dt_col, value_col, reset_drop, min_pos,
                             period_seconds, max_gap, False, ())[0]


def is_safe_numeric_expression(expr: str, allowed_idents: tuple = ("value",)) -> bool:
    try:
        assert_safe_numeric_expression(expr, allowed_idents)
        return True
    except UnsafeExpressionError:
        return False
