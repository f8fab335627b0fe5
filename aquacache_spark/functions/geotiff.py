"""Minimal GeoTIFF writer (stdlib struct + numpy).

The reference's writeRaster first materializes a GTiff via
``terra::writeRaster`` (R/writeRaster.R:330) before raster2pgsql picks
it up; this module produces the equivalent artifact without GDAL:

- classic little-endian TIFF, one strip, uncompressed;
- one band of IEEE float64 (SampleFormat 3, 64 bits);
- georeferencing via ModelPixelScaleTag (33550) + ModelTiepointTag
  (33922) and a GeoKeyDirectory (34735) declaring geographic
  EPSG:4326, pixel-is-area — the plain lat/lon case every gridded
  connector here produces;
- nodata advertised through the GDAL_NODATA ASCII tag (42113), the
  de-facto standard GDAL/terra read back.
"""

from __future__ import annotations

import struct

import numpy as np

_TAG_WIDTH = 256
_TAG_HEIGHT = 257
_TAG_BITS = 258
_TAG_COMPRESSION = 259
_TAG_PHOTOMETRIC = 262
_TAG_STRIP_OFFSETS = 273
_TAG_SAMPLES = 277
_TAG_ROWS_PER_STRIP = 278
_TAG_STRIP_COUNTS = 279
_TAG_SAMPLE_FORMAT = 339
_TAG_PIXEL_SCALE = 33550
_TAG_TIEPOINT = 33922
_TAG_GEOKEYS = 34735
_TAG_GDAL_NODATA = 42113

_TYPE_SHORT = 3
_TYPE_LONG = 4
_TYPE_ASCII = 2
_TYPE_DOUBLE = 12


def encode_geotiff(
    values,
    width: int,
    height: int,
    origin_x: float,
    origin_y: float,
    scale_x: float,
    scale_y: float,
    nodata: float = -9999.0,
) -> bytes:
    """Row-major floats/None (upper-left origin) -> GeoTIFF bytes."""
    arr = np.array([np.nan if v is None else v for v in values],
                   dtype="<f8")
    arr[np.isnan(arr)] = nodata
    if arr.size != width * height:
        raise ValueError(
            f"raster has {arr.size} cells, expected {width}x{height}")
    data = arr.tobytes()
    nodata_ascii = (repr(float(nodata)).rstrip("0").rstrip(".")
                    + "\x00").encode()
    geokeys = struct.pack(
        "<" + "H" * 16,
        1, 1, 0, 3,            # version, rev, minor, nkeys
        1024, 0, 1, 2,         # GTModelType = geographic
        1025, 0, 1, 1,         # GTRasterType = PixelIsArea
        2048, 0, 1, 4326,      # GeographicType = WGS84
    )
    scale = struct.pack("<3d", scale_x, scale_y, 0.0)
    tiepoint = struct.pack("<6d", 0.0, 0.0, 0.0, origin_x, origin_y, 0.0)

    # layout: header(8) + IFD + out-of-line values + pixel data
    entries = [
        (_TAG_WIDTH, _TYPE_LONG, 1, width),
        (_TAG_HEIGHT, _TYPE_LONG, 1, height),
        (_TAG_BITS, _TYPE_SHORT, 1, 64),
        (_TAG_COMPRESSION, _TYPE_SHORT, 1, 1),
        (_TAG_PHOTOMETRIC, _TYPE_SHORT, 1, 1),
        (_TAG_STRIP_OFFSETS, _TYPE_LONG, 1, None),   # patched
        (_TAG_SAMPLES, _TYPE_SHORT, 1, 1),
        (_TAG_ROWS_PER_STRIP, _TYPE_LONG, 1, height),
        (_TAG_STRIP_COUNTS, _TYPE_LONG, 1, len(data)),
        (_TAG_SAMPLE_FORMAT, _TYPE_SHORT, 1, 3),
        (_TAG_PIXEL_SCALE, _TYPE_DOUBLE, 3, scale),
        (_TAG_TIEPOINT, _TYPE_DOUBLE, 6, tiepoint),
        (_TAG_GEOKEYS, _TYPE_SHORT, 16, geokeys),
        (_TAG_GDAL_NODATA, _TYPE_ASCII, len(nodata_ascii), nodata_ascii),
    ]
    ifd_off = 8
    ifd_size = 2 + 12 * len(entries) + 4
    extra_off = ifd_off + ifd_size
    extras = bytearray()
    packed = []
    for tag, typ, count, val in entries:
        if isinstance(val, (bytes, bytearray)):
            if len(val) <= 4:
                packed.append((tag, typ, count,
                               bytes(val) + b"\x00" * (4 - len(val))))
            else:
                packed.append((tag, typ, count, struct.pack(
                    "<I", extra_off + len(extras))))
                extras.extend(val)
                if len(extras) % 2:
                    extras.append(0)
        else:
            packed.append((tag, typ, count, val))
    data_off = extra_off + len(extras)
    out = bytearray(b"II*\x00" + struct.pack("<I", ifd_off))
    out += struct.pack("<H", len(packed))
    for tag, typ, count, val in packed:
        out += struct.pack("<HHI", tag, typ, count)
        if isinstance(val, bytes):
            out += val
        elif tag == _TAG_STRIP_OFFSETS:
            out += struct.pack("<I", data_off)
        elif typ == _TYPE_SHORT:
            out += struct.pack("<HH", val, 0)
        else:
            out += struct.pack("<I", val)
    out += struct.pack("<I", 0)  # next IFD
    out += extras
    out += data
    return bytes(out)
