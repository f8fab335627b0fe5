"""Minimal pure-stdlib+numpy GRIB2 decoder (WMO FM 92 GRIB Edition 2).

The reference's gridded connectors hand GRIB urls to ``terra::rast``
(R/downloadHRDPA.R:155-181); this engine decodes the payload itself,
so no GDAL binary is required for the supported product shape:

- Section 3 grid templates 3.0 (regular latitude/longitude) and 3.1
  (ROTATED latitude/longitude — what the ``RLatLon`` in every real
  ECCC HRDPA/HRDPS/CaLDAS filename means; the south-pole parameters
  decode and ``true_coords`` unrotates grid points to geographic
  lat/lon),
- Section 5 data representation templates
    5.0  simple packing,
    5.2  complex packing (grouped), and
    5.3  complex packing with spatial differencing (orders 1 and 2) —
  5.2/5.3 are what production ECCC HRDPA/HRDPS/CaLDAS files actually
  use; 5.0 is what synthetic/archival payloads use,
- Section 6 bitmap (indicator 0 = present, 255 = none),
- Section 7 packed data, MSB-first bit stream; each block of a complex
  message (references, widths, lengths, data) is byte-aligned per spec.

Decoded value = (R + X * 2**E) / 10**D with R the IEEE-754 float32
reference, X the unpacked integer (group reference + offset for
complex packing, un-differenced first when template 5.3), E/D the
binary and decimal scale factors (GRIB sign-and-magnitude int16).
Cells masked out by the bitmap decode as None (terra's NA).

Spec notes enforced loudly rather than guessed:

- Section 5 octets 6-9 count the points encoded in Section 7 — the
  PRESENT count when a bitmap exists — while the grid size comes from
  Section 3; the bitmap is iterated over the grid size and its
  popcount must equal Section 5's count or decoding raises.
- Section 4 octet 18 is the forecast-time unit indicator; known units
  (minute/hour/day/3h/6h/12h/second) convert to whole hours, anything
  else (or a non-integral conversion) raises.

Scalar codec only — the distributed path batches it through
``mapInPandas`` (sources/gridded.py:grib_cells), one file per task of
a binaryFile scan, which is exactly how a 30-day fleet of HRDPA files
fans out on a cluster; the bit-stream unpacking is vectorized numpy
(per-value widths via repeat + masked bit-gathers), so a 3.3M-point
operational HRDPA grid (complex packing, ~470k groups) decodes
bit-exact in ~1 s single-threaded.
"""

from __future__ import annotations

import struct
from typing import List, Optional

import numpy as np


def _su16(b: bytes, off: int) -> int:
    """GRIB2 signed 16-bit: sign-and-magnitude, NOT two's complement."""
    raw = struct.unpack_from(">H", b, off)[0]
    if raw & 0x8000:
        return -(raw & 0x7FFF)
    return raw


def _si32(b: bytes, off: int) -> int:
    raw = struct.unpack_from(">I", b, off)[0]
    if raw & 0x80000000:
        return -(raw & 0x7FFFFFFF)
    return raw


# Section 4 octet 18 -> hours multiplier (WMO code table 4.4).
_TIME_UNIT_HOURS = {
    0: 1.0 / 60.0,   # minute
    1: 1.0,          # hour
    2: 24.0,         # day
    10: 3.0,         # 3 hours
    11: 6.0,         # 6 hours
    12: 12.0,        # 12 hours
    13: 1.0 / 3600.0,  # second
}


class _BitReader:
    """MSB-first bit cursor over a byte string, vectorized unpacking."""

    __slots__ = ("bits", "pos")

    def __init__(self, data: bytes):
        self.bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8))
        self.pos = 0

    def read_uints(self, count: int, width: int) -> np.ndarray:
        """``count`` unsigned big-endian ints of ``width`` bits each."""
        if count == 0:
            return np.zeros(0, dtype=np.int64)
        if width == 0:
            return np.zeros(count, dtype=np.int64)
        end = self.pos + count * width
        if end > self.bits.size:
            raise ValueError("GRIB2 packed data truncated")
        arr = self.bits[self.pos:end].reshape(count, width).astype(np.int64)
        self.pos = end
        weights = (1 << np.arange(width - 1, -1, -1)).astype(np.int64)
        return arr @ weights

    def read_signed(self, count: int, width: int) -> np.ndarray:
        """Sign-and-magnitude ints (first bit = sign), per GRIB ints."""
        raw = self.read_uints(count, width)
        sign = np.int64(1) << (width - 1)
        return np.where(raw & sign, -(raw & (sign - 1)), raw)

    def align(self) -> None:
        self.pos = (self.pos + 7) // 8 * 8


class Grib2Message:
    __slots__ = ("discipline", "ref_time", "param_category", "param_number",
                 "forecast_hours", "ni", "nj", "lat0", "lon0", "dlat",
                 "dlon", "scan_mode", "packing", "values_np",
                 "rotated", "sp_lat", "sp_lon", "rot_angle")

    def __init__(self):
        # canonical storage: float64 ndarray, NaN = bitmap-masked
        self.values_np: np.ndarray = np.zeros(0)
        self.packing = None  # data representation template number
        self.rotated = False
        self.sp_lat = self.sp_lon = self.rot_angle = 0.0

    @property
    def values(self) -> List[Optional[float]]:
        """Row-major values, None for masked cells (scalar-consumer
        view of ``values_np``)."""
        return [None if np.isnan(v) else v
                for v in self.values_np.tolist()]

    def lat(self, j: int) -> float:
        """GRID latitude of row j under the decoded scanning mode (+j =
        south->north when bit 2 of scan_mode is set, else north->south).
        For a rotated grid (template 3.1) this is the ROTATED
        coordinate; ``true_coords`` gives geographic ones."""
        sign = 1.0 if self.scan_mode & 0x40 else -1.0
        return self.lat0 + sign * j * self.dlat

    def lon(self, i: int) -> float:
        return self.lon0 + i * self.dlon

    def true_coords(self, i: int, j: int) -> tuple:
        """(geographic lat, lon) of grid point (i, j): identity for
        template 3.0, the south-pole unrotation for 3.1 (north pole of
        the rotated system at (-sp_lat, sp_lon - 180), the standard
        CF ``rotated_latitude_longitude`` relation)."""
        latr, lonr = self.lat(j), self.lon(i)
        if not self.rotated:
            return latr, lonr
        return _unrotate(latr, lonr, self.sp_lat, self.sp_lon)


def _unrotate(latr: float, lonr: float, sp_lat: float,
              sp_lon: float) -> tuple:
    """Rotated -> geographic coordinates, degrees in and out.

    The rotated system's north pole sits at true (phi_p, lam_p) =
    (-sp_lat, sp_lon - 180). Basis vectors of the rotated frame in the
    true frame: z = pole direction, x = 90 deg down the lam_p meridian
    toward the true equator, y = east at lam_p (right-handed) — the
    standard CF rotated_latitude_longitude convention with zero
    rotation angle.
    """
    import math

    phi_p = math.radians(-sp_lat)
    lam_p = math.radians(sp_lon - 180.0)
    pr = math.radians(latr)
    lr = math.radians(lonr)
    ux = math.cos(pr) * math.cos(lr)
    uy = math.cos(pr) * math.sin(lr)
    uz = math.sin(pr)
    sp, cp = math.sin(phi_p), math.cos(phi_p)
    sl, cl = math.sin(lam_p), math.cos(lam_p)
    # x-hat, y-hat, z-hat of the rotated frame, in true coordinates
    vx = ux * (sp * cl) + uy * (-sl) + uz * (cp * cl)
    vy = ux * (sp * sl) + uy * (cl) + uz * (cp * sl)
    vz = ux * (-cp) + uz * sp
    lat = math.degrees(math.asin(max(-1.0, min(1.0, vz))))
    lon = math.degrees(math.atan2(vy, vx)) % 360.0
    return lat, lon


def decode_grib2(data: bytes) -> List[Grib2Message]:
    """Decode every GRIB2 message in ``data``."""
    out: List[Grib2Message] = []
    pos = 0
    n = len(data)
    while pos < n:
        if data[pos:pos + 4] != b"GRIB":
            raise ValueError(f"bad GRIB indicator at offset {pos}")
        edition = data[pos + 7]
        if edition != 2:
            raise ValueError(f"unsupported GRIB edition {edition}")
        total_len = struct.unpack_from(">Q", data, pos + 8)[0]
        out.append(_decode_message(data[pos:pos + total_len]))
        pos += total_len
    return out


def _forecast_hours(s: bytes) -> int:
    """Section 4 forecast time -> whole hours, honoring the octet-18
    time-unit indicator (code table 4.4); unknown units raise."""
    unit = s[17]
    if unit not in _TIME_UNIT_HOURS:
        raise ValueError(f"unsupported forecast time unit indicator {unit}")
    raw = struct.unpack_from(">I", s, 18)[0]
    hours = raw * _TIME_UNIT_HOURS[unit]
    if hours != int(hours):
        raise ValueError(
            f"non-integral forecast hours: {raw} in unit {unit}"
        )
    return int(hours)


def _decode_message(msg: bytes) -> Grib2Message:
    m = Grib2Message()
    m.discipline = msg[6]
    pos = 16
    bitmap: Optional[bytes] = None
    ndata = 0          # section 5 octets 6-9: points encoded in section 7
    sec5: Optional[bytes] = None
    while msg[pos:pos + 4] != b"7777":
        sec_len = struct.unpack_from(">I", msg, pos)[0]
        sec_num = msg[pos + 4]
        s = msg[pos:pos + sec_len]
        if sec_num == 1:
            year = struct.unpack_from(">H", s, 12)[0]
            m.ref_time = (year, s[14], s[15], s[16], s[17], s[18])
        elif sec_num == 3:
            template = struct.unpack_from(">H", s, 12)[0]
            if template not in (0, 1):
                raise ValueError(
                    f"unsupported grid definition template {template} "
                    "(only 3.0 regular / 3.1 rotated lat/lon)"
                )
            # template 3.0 octet offsets (1-based per spec; -1 here);
            # 3.1 shares the layout and appends the rotation params
            m.ni = struct.unpack_from(">I", s, 30)[0]
            m.nj = struct.unpack_from(">I", s, 34)[0]
            m.lat0 = _si32(s, 46) / 1e6
            m.lon0 = _si32(s, 50) / 1e6
            m.dlon = struct.unpack_from(">I", s, 63)[0] / 1e6
            m.dlat = struct.unpack_from(">I", s, 67)[0] / 1e6
            m.scan_mode = s[71]
            if template == 1:
                m.rotated = True
                m.sp_lat = _si32(s, 72) / 1e6
                m.sp_lon = _si32(s, 76) / 1e6
                m.rot_angle = struct.unpack_from(">f", s, 80)[0]
                if m.rot_angle != 0.0:
                    raise ValueError(
                        "nonzero rotation angle unsupported (ECCC "
                        "products use 0)"
                    )
        elif sec_num == 4:
            template = struct.unpack_from(">H", s, 7)[0]
            if template not in (0, 8):
                raise ValueError(
                    f"unsupported product definition template {template}"
                )
            m.param_category = s[9]
            m.param_number = s[10]
            m.forecast_hours = _forecast_hours(s)
        elif sec_num == 5:
            ndata = struct.unpack_from(">I", s, 5)[0]
            sec5 = s
            m.packing = struct.unpack_from(">H", s, 9)[0]
            if m.packing not in (0, 2, 3):
                raise ValueError(
                    f"unsupported data representation template {m.packing}"
                    " (only 5.0 simple / 5.2 complex / 5.3 spatial-diff)"
                )
        elif sec_num == 6:
            indicator = s[5]
            if indicator == 0:
                bitmap = s[6:]
            elif indicator != 255:
                raise ValueError(
                    f"unsupported bitmap indicator {indicator}"
                )
        elif sec_num == 7:
            if sec5 is None:
                raise ValueError("data section before representation section")
            ngrid = m.ni * m.nj
            if bitmap is not None:
                popcount = int(np.unpackbits(
                    np.frombuffer(bitmap, dtype=np.uint8),
                )[:ngrid].sum())
                if popcount != ndata:
                    raise ValueError(
                        f"bitmap popcount {popcount} != section-5 point "
                        f"count {ndata}"
                    )
            elif ndata != ngrid:
                raise ValueError(
                    f"no bitmap but section-5 point count {ndata} != grid "
                    f"size {ngrid}"
                )
            if m.packing == 0:
                present = _unpack_simple_present(s[5:], ndata, sec5)
            else:
                present = _unpack_complex_present(
                    s[5:], ndata, sec5, m.packing
                )
            m.values_np = _expand_bitmap(present, ngrid, bitmap)
        pos += sec_len
    return m


def _scale(x: np.ndarray, miss: Optional[np.ndarray], ref: float,
           e: int, d: int) -> np.ndarray:
    """(R + X*2^E)/10^D as float64; missing positions -> NaN."""
    vals = (ref + x.astype(np.float64) * (2.0 ** e)) / (10.0 ** d)
    if miss is not None:
        vals = np.where(miss, np.nan, vals)
    return vals


def _expand_bitmap(present: np.ndarray, ngrid: int,
                   bitmap: Optional[bytes]) -> np.ndarray:
    """Spread the present-values sequence over the full grid; cells the
    bitmap masks out become NaN. The bitmap covers the SECTION-3 grid
    size, not section 5's present count."""
    if bitmap is None:
        return present
    mask = np.unpackbits(np.frombuffer(bitmap, dtype=np.uint8))[:ngrid]
    out = np.full(ngrid, np.nan)
    out[np.nonzero(mask)[0]] = present
    return out


def _unpack_simple_present(packed: bytes, ndata: int, sec5: bytes) -> list:
    """Template 7.0: ndata MSB-first fixed-width integers."""
    ref = struct.unpack_from(">f", sec5, 11)[0]
    e = _su16(sec5, 15)
    d = _su16(sec5, 17)
    nbits = sec5[19]
    if nbits == 0:
        return np.full(ndata, ref / (10.0 ** d))
    br = _BitReader(packed)
    return _scale(br.read_uints(ndata, nbits), None, ref, e, d)


def _unpack_complex_present(packed: bytes, ndata: int, sec5: bytes,
                            template: int) -> list:
    """Templates 7.2 / 7.3: grouped packing, optional spatial diff.

    Layout (each block padded to a byte boundary per spec): for 7.3,
    ``order`` initial field values then the overall minimum of the
    differences, each a sign-and-magnitude int of section-5 octet 49's
    width; then NG group references (octet-20 bits each), NG group
    widths (octet-37 bits), NG scaled group lengths (octet-47 bits),
    then per-group offset values. Group g's true width/length are
    ``width_ref + w[g]`` / ``len_ref + len_inc * l[g]`` with the last
    group's length overridden by octets 43-46.
    """
    ref = struct.unpack_from(">f", sec5, 11)[0]
    e = _su16(sec5, 15)
    d = _su16(sec5, 17)
    nbits = sec5[19]
    miss_mgmt = sec5[22]
    if miss_mgmt not in (0, 1):
        raise ValueError(
            f"unsupported missing value management {miss_mgmt}"
        )
    ng = struct.unpack_from(">I", sec5, 31)[0]
    width_ref = sec5[35]
    width_bits = sec5[36]
    len_ref = struct.unpack_from(">I", sec5, 37)[0]
    len_inc = sec5[41]
    last_len = struct.unpack_from(">I", sec5, 42)[0]
    len_bits = sec5[46]

    br = _BitReader(packed)
    order = 0
    h = gmin = None
    if template == 3:
        order = sec5[47]
        extra_octets = sec5[48]
        if order not in (1, 2):
            raise ValueError(f"unsupported spatial differencing order {order}")
        if miss_mgmt != 0:
            raise ValueError(
                "missing-value management with spatial differencing "
                "not supported"
            )
        h = br.read_signed(order, extra_octets * 8)
        gmin = int(br.read_signed(1, extra_octets * 8)[0])

    refs = br.read_uints(ng, nbits)
    br.align()
    widths = width_ref + br.read_uints(ng, width_bits)
    br.align()
    lens = len_ref + len_inc * br.read_uints(ng, len_bits)
    br.align()
    if ng:
        lens[-1] = last_len
    if int(lens.sum()) != ndata:
        raise ValueError(
            f"group lengths sum {int(lens.sum())} != point count {ndata}"
        )

    # vectorized variable-width unpack: per-VALUE widths via repeat,
    # then maxw passes of masked bit-gathers — a 3.3M-point
    # operational grid with ~10-bit groups decodes in tens of ms where
    # a per-group loop took minutes
    widths_pv = np.repeat(widths, lens)
    refs_pv = np.repeat(refs, lens)
    ends = np.cumsum(widths_pv)
    starts = br.pos + ends - widths_pv
    total_bits = int(ends[-1]) if ndata else 0
    if br.pos + total_bits > br.bits.size:
        raise ValueError("GRIB2 packed data truncated")
    vals = np.zeros(ndata, dtype=np.int64)
    maxw = int(widths.max()) if ng else 0
    bits = br.bits
    for b_i in range(maxw):
        sel = widths_pv > b_i
        vals[sel] = (vals[sel] << 1) | bits[starts[sel] + b_i]
    br.pos += total_bits
    x = refs_pv + vals
    miss = None
    if miss_mgmt == 1:
        all_ones_ref = (np.int64(1) << nbits) - 1 if nbits else np.int64(0)
        miss = np.where(
            widths_pv > 0,
            vals == (np.int64(1) << widths_pv) - 1,
            nbits > 0 and refs_pv == all_ones_ref,
        )
        x = np.where(miss, 0, x)

    if template == 3:
        # undo spatial differencing: packed values are d^order minus
        # gmin (first `order` slots are placeholders the initial values
        # replace), so add gmin back then integrate `order` times.
        x[order:] += gmin
        if order == 1:
            x[0] = h[0]
            x = np.cumsum(x)
        else:
            d1 = np.concatenate(([h[1] - h[0]], x[2:])).cumsum()
            x = np.concatenate(([h[0]], d1)).cumsum()
            x[0] = h[0]
    return _scale(x, miss, ref, e, d)


def _unpack_simple(
    packed: bytes,
    ngrid: int,
    ref: float,
    e: int,
    d: int,
    nbits: int,
    bitmap: Optional[bytes],
    ndata: Optional[int] = None,
) -> List[Optional[float]]:
    """Back-compat scalar helper used by golden-byte tests: simple
    packing over a ``ngrid``-cell grid with an optional bitmap.
    ``ndata`` (the section-5 present count) defaults to the bitmap
    popcount / grid size per spec."""
    if ndata is None:
        if bitmap is None:
            ndata = ngrid
        else:
            ndata = int(np.unpackbits(
                np.frombuffer(bitmap, dtype=np.uint8))[:ngrid].sum())
    sec5 = struct.pack(
        ">IBIHfHHBB", 21, 5, ndata, 0, ref,
        (0x8000 | -e) if e < 0 else e,
        (0x8000 | -d) if d < 0 else d,
        nbits, 0,
    )
    present = _unpack_simple_present(packed, ndata, sec5)
    out = _expand_bitmap(present, ngrid, bitmap)
    return [None if np.isnan(v) else v for v in out.tolist()]
