"""Well-known-binary encode/decode for Point / LineString / Polygon.

The reference stores vector geometries in PostGIS ``geometry`` columns
(R/insertACVector.R:5-11); the Spark-first store keeps two parallel
representations per feature:

- ``wkb binary`` — the opaque interchange form (what a PostGIS or
  GeoPackage export/import speaks), produced by these pure-stdlib
  codecs so no GDAL/shapely is needed;
- ``ring array<struct<x:double,y:double>>`` — the compute form used by
  the spatial operators, so containment/bbox math runs in JVM
  higher-order functions instead of per-row Python.

Bulk encode/decode is Arrow-batched via ``mapInPandas`` (see
operators/vector.py); these scalar codecs are the kernel and the
fixture/test path.  Little-endian, 2-D, no SRID block (PostGIS EWKB
SRID is carried in a separate column like the reference's constrained
``EPSG:4326``).
"""

from __future__ import annotations

import struct
from typing import List, Sequence, Tuple

_POINT, _LINESTRING, _POLYGON = 1, 2, 3


def encode_point(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", 1, _POINT, x, y)


def encode_linestring(coords: Sequence[Tuple[float, float]]) -> bytes:
    out = [struct.pack("<BII", 1, _LINESTRING, len(coords))]
    out += [struct.pack("<dd", x, y) for x, y in coords]
    return b"".join(out)


def encode_polygon(ring: Sequence[Tuple[float, float]]) -> bytes:
    """Single exterior ring; closed automatically if open."""
    pts = list(ring)
    if pts and pts[0] != pts[-1]:
        pts.append(pts[0])
    out = [struct.pack("<BIII", 1, _POLYGON, 1, len(pts))]
    out += [struct.pack("<dd", x, y) for x, y in pts]
    return b"".join(out)


def decode(wkb: bytes) -> Tuple[str, List[Tuple[float, float]]]:
    """-> (geom_type, coords). Polygon returns the exterior ring,
    closing point dropped."""
    (byte_order,) = struct.unpack_from("<B", wkb, 0)
    fmt = "<" if byte_order == 1 else ">"
    (gtype,) = struct.unpack_from(fmt + "I", wkb, 1)
    if gtype == _POINT:
        x, y = struct.unpack_from(fmt + "dd", wkb, 5)
        return "point", [(x, y)]
    if gtype == _LINESTRING:
        (n,) = struct.unpack_from(fmt + "I", wkb, 5)
        coords = [struct.unpack_from(fmt + "dd", wkb, 9 + 16 * i) for i in range(n)]
        return "line", coords
    if gtype == _POLYGON:
        (nrings,) = struct.unpack_from(fmt + "I", wkb, 5)
        if nrings < 1:
            return "polygon", []
        (n,) = struct.unpack_from(fmt + "I", wkb, 9)
        coords = [struct.unpack_from(fmt + "dd", wkb, 13 + 16 * i) for i in range(n)]
        if len(coords) > 1 and coords[0] == coords[-1]:
            coords = coords[:-1]
        return "polygon", coords
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def parse_wkt(wkt: str) -> Tuple[str, List[Tuple[float, float]]]:
    """Minimal WKT reader for fixtures: POINT / LINESTRING / POLYGON
    (single ring)."""
    s = wkt.strip()
    head = s.split("(", 1)[0].strip().upper()
    body = s[s.index("("):].replace("(", " ").replace(")", " ").strip()
    coords = []
    for pair in body.split(","):
        xs = pair.split()
        coords.append((float(xs[0]), float(xs[1])))
    if head == "POINT":
        return "point", coords
    if head == "LINESTRING":
        return "line", coords
    if head == "POLYGON":
        if len(coords) > 1 and coords[0] == coords[-1]:
            coords = coords[:-1]
        return "polygon", coords
    raise ValueError(f"unsupported WKT type {head}")


def encode(geom_type: str, coords: Sequence[Tuple[float, float]]) -> bytes:
    if geom_type == "point":
        return encode_point(*coords[0])
    if geom_type == "line":
        return encode_linestring(coords)
    if geom_type == "polygon":
        return encode_polygon(coords)
    raise ValueError(f"unsupported geom_type {geom_type}")
