"""GRIB2 codec: hand-constructed golden bytes (independent of the
fixture generator's encoder) pin the bit order, sign-and-magnitude
scale factors, and bitmap semantics; the distributed grib_cells path
is checked against the fixture CSV twin."""

import struct

import numpy as np

from aquacache_spark.functions.grib2 import (_expand_bitmap, _su16,
                                             _unpack_simple_present,
                                             decode_grib2)


def _unpack_simple(packed, ngrid, ref, e, d, nbits, bitmap):
    """Simple packing (template 7.0) over a ``ngrid``-cell grid with an
    optional bitmap; the section-5 present count is the bitmap
    popcount, or the grid size without one."""
    ndata = ngrid if bitmap is None else int(np.unpackbits(
        np.frombuffer(bitmap, dtype=np.uint8))[:ngrid].sum())
    sec5 = struct.pack(
        ">IBIHfHHBB", 21, 5, ndata, 0, ref,
        (0x8000 | -e) if e < 0 else e,
        (0x8000 | -d) if d < 0 else d,
        nbits, 0,
    )
    out = _expand_bitmap(_unpack_simple_present(packed, ndata, sec5),
                         ngrid, bitmap)
    return [None if np.isnan(v) else v for v in out.tolist()]


def test_simple_packing_hand_computed():
    # nbits=10, values M = [5, 1023, 0]; MSB-first packed stream:
    # 0000000101 1111111111 0000000000 -> bytes 00000001 01111111
    # 11110000 00000000 (padded)
    packed = bytes([0b00000001, 0b01111111, 0b11110000, 0b00000000])
    # R=1.5, E=2 (x4), D=1 (/10): v = (1.5 + M*4) / 10
    vals = _unpack_simple(packed, 3, 1.5, 2, 1, 10, None)
    assert vals == [(1.5 + 5 * 4) / 10, (1.5 + 1023 * 4) / 10, 0.15]


def test_sign_and_magnitude_scale_factors():
    # 0x8002 is -2 in GRIB sign-magnitude (NOT two's complement -32766)
    assert _su16(struct.pack(">H", 0x8002), 0) == -2
    assert _su16(struct.pack(">H", 0x0002), 0) == 2
    # E=-2: step 0.25
    packed = bytes([0b01000000])  # nbits=2, M=[1,0,0,0]
    vals = _unpack_simple(packed, 1, 0.0, -2, 0, 2, None)
    assert vals[0] == 0.25


def test_bitmap_masks_cells():
    # 5 points, bitmap 10110xxx -> present at 0,2,3; M (nbits=8) = 7,9,11
    bitmap = bytes([0b10110000])
    packed = bytes([7, 9, 11])
    vals = _unpack_simple(packed, 5, 0.0, 0, 0, 8, bitmap)
    assert vals == [7.0, None, 9.0, 11.0, None]


def test_nbits_zero_constant_field():
    vals = _unpack_simple(b"", 4, 42.0, 0, 1, 0, None)
    assert vals == [4.2] * 4
    vals = _unpack_simple(b"", 3, 42.0, 0, 1, 0, bytes([0b10100000]))
    assert vals == [4.2, None, 4.2]


def _complex_sec5(ndata, template, nbits, ng, wbits, len_ref, last_len,
                  order=0):
    tail = struct.pack(">BBIIIBBIBIB", 1, 0, 0, 0, ng, 0, wbits,
                       len_ref, 1, last_len, 0)
    s = struct.pack(">IBIHfHHBB", 47 + (2 if order else 0), 5, ndata,
                    template, 0.0, 0, 0, nbits, 0) + tail
    if order:
        s += struct.pack(">BB", order, 2)
    return s


def test_complex_packing_hand_computed():
    from aquacache_spark.functions.grib2 import _unpack_complex_present

    # X = [3,5,4 | 10,12]; refs 3,10 (4-bit), widths 2,2 (2-bit raw),
    # len_ref=3 lbits=0 last=2; offsets 0,2,1,0,2 at 2 bits
    sec5 = _complex_sec5(5, 2, nbits=4, ng=2, wbits=2, len_ref=3,
                         last_len=2)
    payload = bytes([0x3A, 0xA0, 0b00100100, 0b10000000])
    assert _unpack_complex_present(payload, 5, sec5, 2).tolist() == [
        3.0, 5.0, 4.0, 10.0, 12.0]


def test_spatial_diff_order2_constant_second_difference():
    from aquacache_spark.functions.grib2 import _unpack_complex_present

    # f = [10,12,15,19,24]: d2 = [1,1,1], gmin=1, packed seq all zero
    # (one zero-width group); extra descriptors h1=10 h2=12 gmin=1
    sec5 = _complex_sec5(5, 3, nbits=1, ng=1, wbits=1, len_ref=5,
                         last_len=5, order=2)
    payload = bytes([0, 10, 0, 12, 0, 1, 0x00, 0x00])
    assert _unpack_complex_present(payload, 5, sec5, 3).tolist() == [
        10.0, 12.0, 15.0, 19.0, 24.0]


def test_spatial_diff_order1_negative_gmin_sign_magnitude():
    from aquacache_spark.functions.grib2 import _unpack_complex_present

    # f = [5,3,2,2,3]: d1 = [-2,-1,0,1], gmin=-2 -> 0x8002 in GRIB
    # sign-magnitude; offsets [0,0,1,2,3] one group width 2
    sec5 = _complex_sec5(5, 3, nbits=1, ng=1, wbits=2, len_ref=5,
                         last_len=5, order=1)
    # extra: h1=5, gmin=0x8002; refs: 0 (1 bit); widths: 2 (2 bits);
    # data: 00 00 01 10 11 -> 0b0000 0110 11 -> 0x06, 0xC0
    payload = bytes([0, 5, 0x80, 0x02, 0x00, 0x80, 0x06, 0xC0])
    assert _unpack_complex_present(payload, 5, sec5, 3).tolist() == [
        5.0, 3.0, 2.0, 2.0, 3.0]


def test_section5_count_is_present_count(repo_root):
    # Spec: section 5 octets 6-9 = points in section 7 (present count
    # under a bitmap); the fixtures encode it that way and a popcount
    # mismatch is rejected loudly, not silently mis-gridded.
    import pytest

    fixdir = repo_root / "fixtures/connectors/hrdpa_grib"
    raw = bytearray(sorted(fixdir.glob("*.grib2"))[0].read_bytes())
    (m,) = decode_grib2(bytes(raw))
    assert len(m.values) == m.ni * m.nj == 120
    assert sum(v is not None for v in m.values) == 109
    # corrupt the section-5 count: walk sections to find it
    pos = 16
    while True:
        sec_len = struct.unpack_from(">I", raw, pos)[0]
        if raw[pos + 4] == 5:
            break
        pos += sec_len
    struct.pack_into(">I", raw, pos + 5, 120)  # grid size, not present
    with pytest.raises(ValueError, match="popcount"):
        decode_grib2(bytes(raw))


def test_forecast_time_units():
    from aquacache_spark.functions.grib2 import _forecast_hours

    def sec4(unit, value):
        return struct.pack(">IBHHBBBBBHBBI", 34, 4, 0, 0, 1, 8, 2, 0, 0,
                           0, 0, unit, value)

    assert _forecast_hours(sec4(1, 6)) == 6       # hours
    assert _forecast_hours(sec4(0, 180)) == 3     # minutes
    assert _forecast_hours(sec4(2, 2)) == 48      # days
    assert _forecast_hours(sec4(10, 4)) == 12     # 3-hour units
    assert _forecast_hours(sec4(13, 7200)) == 2   # seconds
    import pytest
    with pytest.raises(ValueError, match="time unit"):
        _forecast_hours(sec4(3, 1))               # months: unsupported
    with pytest.raises(ValueError, match="non-integral"):
        _forecast_hours(sec4(0, 90))              # 1.5 h


def test_complex_fixture_roundtrip_against_csv_twin(repo_root):
    import csv

    from collections import defaultdict

    fixdir = repo_root / "fixtures/connectors/hrdpa_complex_grib"
    expected = defaultdict(dict)
    with open(repo_root / "fixtures/connectors/hrdpa_complex_cells.csv") as fh:
        for row in csv.DictReader(fh):
            v = None if row["value"] == "" else float(row["value"])
            expected[row["file"]][(int(row["x"]), int(row["y"]))] = v
    seen = set()
    for path in sorted(fixdir.glob("*.grib2")):
        (m,) = decode_grib2(path.read_bytes())
        seen.add(m.packing)
        got = {}
        for idx, v in enumerate(m.values):
            j, i = divmod(idx, m.ni)
            got[(i, j)] = None if v is None else round(v, 6)
        assert got == expected[path.name], path.name
    assert seen == {2, 3}  # both complex templates exercised


def test_fixture_roundtrip_against_csv_twin(repo_root):
    import csv

    from collections import defaultdict

    fixdir = repo_root / "fixtures/connectors/hrdpa_grib"
    expected = defaultdict(dict)
    with open(repo_root / "fixtures/connectors/hrdpa_cells.csv") as fh:
        for row in csv.DictReader(fh):
            v = None if row["value"] == "" else float(row["value"])
            expected[row["file"]][(int(row["x"]), int(row["y"]))] = v
    for path in sorted(fixdir.glob("*.grib2")):
        (m,) = decode_grib2(path.read_bytes())
        assert (m.ni, m.nj) == (12, 10)
        assert (m.discipline, m.param_category, m.param_number) == (0, 1, 8)
        got = {}
        for idx, v in enumerate(m.values):
            j, i = divmod(idx, m.ni)
            got[(i, j)] = v
        assert got == expected[path.name], path.name
        # grid georeferencing
        assert (m.lon(0), m.lat(0)) == (230.0, 60.0)
        assert (round(m.lon(11), 6), round(m.lat(9), 6)) == (232.75, 64.5)


def test_multi_message_stream(repo_root):
    fixdir = repo_root / "fixtures/connectors/hrdpa_grib"
    paths = sorted(fixdir.glob("*.grib2"))[:2]
    blob = paths[0].read_bytes() + paths[1].read_bytes()
    msgs = decode_grib2(blob)
    assert len(msgs) == 2


def test_unsupported_templates_rejected(repo_root):
    import pytest

    fixdir = repo_root / "fixtures/connectors/hrdpa_grib"
    data = bytearray(sorted(fixdir.glob("*.grib2"))[0].read_bytes())
    with pytest.raises(ValueError, match="bad GRIB indicator"):
        decode_grib2(b"XRIB" + bytes(data[4:]))


def test_grib_cells_distributed_decode(spark, repo_root):
    from aquacache_spark.sources.gridded import grib_cells

    cells = grib_cells(
        spark, str(repo_root / "fixtures/connectors/hrdpa_grib/*.grib2"))
    rows = cells.collect()
    # 4 files x 120 cells minus the bitmap-masked ones
    assert len(rows) == 109 * 3 + 110
    one = {(r["x"], r["y"]): r["value"] for r in rows
           if "T06Z" in r["file"]}
    assert one[(1, 0)] == 0.7
    assert (0, 0) not in one  # masked


def test_unrotate_anchors_and_isometry():
    import math

    from aquacache_spark.functions.grib2 import _unrotate

    # south pole at (-90, 180) -> identity
    lat, lon = _unrotate(30.0, 40.0, -90.0, 180.0)
    assert abs(lat - 30) < 1e-9 and abs(lon - 40) < 1e-9
    # the rotated pole itself maps to (-sp_lat, sp_lon - 180)
    lat, lon = _unrotate(90.0, 0.0, -36.0885, 245.305)
    assert abs(lat - 36.0885) < 1e-9 and abs(lon - 65.305) < 1e-9
    # rotation is an isometry: angular distances preserved
    def ang(p, q):
        p1, l1, p2, l2 = map(math.radians, (*p, *q))
        return math.acos(max(-1, min(1, math.sin(p1) * math.sin(p2)
                                     + math.cos(p1) * math.cos(p2)
                                     * math.cos(l1 - l2))))
    a, b = (10.0, 20.0), (-5.0, 60.0)
    at = _unrotate(*a, -36.0885, 245.305)
    bt = _unrotate(*b, -36.0885, 245.305)
    assert abs(ang(a, b) - ang(at, bt)) < 1e-12


def test_rotated_fixture_roundtrip(repo_root):
    import csv

    from collections import defaultdict

    fixdir = repo_root / "fixtures/connectors/hrdpa_rot_grib"
    expected = defaultdict(dict)
    with open(repo_root / "fixtures/connectors/hrdpa_rot_cells.csv") as fh:
        for row in csv.DictReader(fh):
            v = None if row["value"] == "" else float(row["value"])
            expected[row["file"]][(int(row["x"]), int(row["y"]))] = (
                v, float(row["lat"]), float(row["lon"]))
    for path in sorted(fixdir.glob("*.grib2")):
        (m,) = decode_grib2(path.read_bytes())
        assert m.rotated and m.sp_lat == -36.0885 and m.sp_lon == 245.305
        for idx, v in enumerate(m.values):
            j, i = divmod(idx, m.ni)
            ev, elat, elon = expected[path.name][(i, j)]
            la, lo = m.true_coords(i, j)
            assert (v is None) == (ev is None)
            if v is not None:
                assert round(v, 6) == ev
            # decoder trig vs the generator's independent matrix math
            assert abs(la - elat) < 1e-9 and abs(lo - elon) < 1e-9


def test_nonzero_rotation_angle_rejected(repo_root):
    import pytest

    fixdir = repo_root / "fixtures/connectors/hrdpa_rot_grib"
    raw = bytearray(sorted(fixdir.glob("*.grib2"))[0].read_bytes())
    pos = 16
    while True:
        sec_len = struct.unpack_from(">I", raw, pos)[0]
        if raw[pos + 4] == 3:
            break
        pos += sec_len
    struct.pack_into(">f", raw, pos + 80, 10.0)  # angle octets 81-84
    with pytest.raises(ValueError, match="rotation angle"):
        decode_grib2(bytes(raw))
