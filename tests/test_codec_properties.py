"""Property-based round trips for every binary codec: random payloads
through encode -> decode must reproduce exactly (these codecs are
bit-exact by construction — any drift is a bug, not noise)."""

import sys

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, "fixtures/connectors")


@st.composite
def grids(draw, max_side=12):
    w = draw(st.integers(2, max_side))
    h = draw(st.integers(2, max_side))
    vals = draw(st.lists(
        st.one_of(st.none(), st.integers(0, 970).map(lambda v: v / 10.0)),
        min_size=w * h, max_size=w * h))
    if all(v is None for v in vals):
        vals[0] = 1.0  # encoder needs at least one present cell
    return w, h, vals


@settings(max_examples=25, deadline=None)
@given(grids())
def test_grib2_simple_roundtrip(grid):
    import gen_grib as G

    from aquacache_spark.functions.grib2 import decode_grib2

    w, h, vals = grid
    G.NI, G.NJ = w, h
    try:
        blob = G.encode(vals, (2024, 1, 10, 6))
        (m,) = decode_grib2(blob)
    finally:
        G.NI, G.NJ = 12, 10
    got = [None if v is None else round(v, 6) for v in m.values]
    assert got == vals


@settings(max_examples=25, deadline=None)
@given(grids(), st.sampled_from([(2, 0), (3, 1), (3, 2)]))
def test_grib2_complex_roundtrip(grid, packing):
    import gen_grib as G

    from aquacache_spark.functions.grib2 import decode_grib2

    w, h, vals = grid
    tmpl, order = packing
    if order and sum(v is not None for v in vals) <= order:
        vals = [1.0, 2.0] + vals[2:]
    G.NI, G.NJ = w, h
    try:
        blob = G.encode(vals, (2024, 1, 10, 6), packing=tmpl,
                        spatial_order=order)
        (m,) = decode_grib2(blob)
    finally:
        G.NI, G.NJ = 12, 10
    got = [None if v is None else round(v, 6) for v in m.values]
    assert got == vals


@settings(max_examples=25, deadline=None)
@given(grids(max_side=10))
def test_pgraster_and_geotiff_roundtrip_random(grid):
    from aquacache_spark.functions.geotiff import encode_geotiff
    from aquacache_spark.functions.pgraster import (decode_pgraster,
                                                    encode_pgraster)
    from helpers import decode_geotiff

    w, h, vals = grid
    d = decode_pgraster(encode_pgraster(vals, w, h, 10.0, 20.0, 0.5, -0.5))
    assert d["values"] == vals
    g = decode_geotiff(encode_geotiff(vals, w, h, 10.0, 20.0, 0.5, 0.5))
    assert g["values"] == vals


@settings(max_examples=25, deadline=None)
@given(st.lists(st.binary(min_size=0, max_size=512), min_size=1,
                max_size=8),
       st.booleans())
def test_warc_roundtrip_random_payloads(payloads, gz):
    from aquacache_spark.functions.warc import (
        build_warc, encode_warc_record, http_response_block,
        iter_warc_records)

    recs = [
        encode_warc_record(
            {"WARC-Type": "response",
             "WARC-Record-ID": f"urn:x:{i}",
             "WARC-Date": "2024-01-01T00:00:00Z",
             "WARC-Target-URI": f"https://e/{i}",
             "Content-Type": "application/http; msgtype=response"},
            http_response_block(200, "OK",
                                {"Content-Type":
                                 "application/octet-stream"}, p))
        for i, p in enumerate(payloads)
    ]
    out = list(iter_warc_records(build_warc(recs, gz=gz)))
    assert len(out) == len(payloads)
    for i, (r, p) in enumerate(zip(out, payloads)):
        assert r["ok"] and r["record_id"] == f"urn:x:{i}"
        assert r["payload"] == p  # arbitrary octets survive framing


@settings(max_examples=25, deadline=None)
@given(st.binary(min_size=0, max_size=600), st.integers(0, 3))
def test_warc_arbitrary_truncation_never_throws(blob_seed, mode):
    # parser total-function property: ANY byte prefix/mutation of a
    # valid archive yields rows (ok or quarantine), never an exception
    from aquacache_spark.functions.warc import (
        build_warc, encode_warc_record, iter_warc_records)

    base = build_warc(
        [encode_warc_record({"WARC-Type": "metadata",
                             "WARC-Record-ID": "urn:x:0",
                             "WARC-Date": "d",
                             "WARC-Target-URI": "u"}, blob_seed)],
        gz=(mode % 2 == 0))
    cut = len(blob_seed) % max(1, len(base))
    mutated = base[:cut] + blob_seed + base[cut:]
    for victim in (base[:cut], mutated, blob_seed):
        rows = list(iter_warc_records(victim))
        assert all(isinstance(r, dict) for r in rows)
