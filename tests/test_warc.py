"""WARC codec + source: roundtrip, quarantine, distributed record parse."""

import gzip

import pytest
from pyspark.sql import functions as F

from aquacache_spark.functions.warc import (
    build_warc, encode_warc_record, gzip_member, http_response_block,
    iter_warc_records, parse_http_response)
from aquacache_spark.sources.warc import warc_records


def _resp(i: int, payload: bytes = b"<html>x</html>",
          status: int = 200) -> bytes:
    return encode_warc_record(
        {"WARC-Type": "response",
         "WARC-Record-ID": f"urn:example:{i}",
         "WARC-Date": "2024-01-01T00:00:01Z",
         "WARC-Target-URI": f"https://example.org/doc/{i}",
         "Content-Type": "application/http; msgtype=response"},
        http_response_block(status, "OK",
                            {"Content-Type": "text/html"}, payload))


def _req(i: int) -> bytes:
    return encode_warc_record(
        {"WARC-Type": "request",
         "WARC-Record-ID": f"urn:example:req:{i}",
         "WARC-Date": "2024-01-01T00:00:02Z",
         "WARC-Target-URI": f"https://example.org/doc/{i}"},
        b"GET /doc HTTP/1.1\r\nHost: example.org\r\n\r\n")


def test_roundtrip_gz_and_plain():
    recs = [_resp(1), _req(1), _resp(2, b"abc" * 100, 404)]
    for gz in (True, False):
        out = list(iter_warc_records(build_warc(recs, gz=gz)))
        assert [r["ok"] for r in out] == [True] * 3
        assert [r["warc_type"] for r in out] == [
            "response", "request", "response"]
        assert out[0]["http_status"] == 200
        assert out[0]["payload"] == b"<html>x</html>"
        assert out[0]["target_uri"] == "https://example.org/doc/1"
        assert out[0]["record_id"] == "urn:example:1"
        assert out[2]["http_status"] == 404
        assert out[2]["payload"] == b"abc" * 100
        # request records carry their raw block, no HTTP parse
        assert out[1].get("http_status") is None


def test_gz_member_spanning_many_feed_chunks():
    # r12: the member splitter feeds zlib bounded chunks (256 KiB) off
    # a memoryview instead of slicing the whole remainder per member
    # (which copied O(members x size) bytes). Pin the boundary cases:
    # one member whose compressed AND inflated size spans several feed
    # chunks, surrounded by tiny members, parses byte-exactly.
    import os

    big = os.urandom(1 << 20)  # incompressible: compressed > 2 chunks
    recs = [_resp(1), _resp(2, big), _resp(3)]
    out = list(iter_warc_records(build_warc(recs)))
    assert [r["ok"] for r in out] == [True] * 3
    assert out[1]["payload"] == big
    assert out[0]["payload"] == b"<html>x</html>"
    assert out[2]["record_id"] == "urn:example:3"


def test_gz_members_independent_after_corruption():
    # member 1 OK, member 2 corrupt, member 3 unreachable: the OK
    # record survives and exactly one quarantine row is emitted
    m1, m2, m3 = (gzip_member(_resp(i)) for i in (1, 2, 3))
    blob = m1 + m2[:10] + b"\x00\x00\x00\x00" + m2[14:] + m3
    out = list(iter_warc_records(blob))
    assert out[0]["ok"] and out[0]["record_id"] == "urn:example:1"
    assert not out[1]["ok"] and "gzip" in out[1]["error"]
    assert len(out) == 2


def test_truncated_member_quarantines():
    blob = build_warc([_resp(1), _resp(2)], gz=True)
    out = list(iter_warc_records(blob[: len(blob) - 15]))
    assert out[0]["ok"]
    assert not out[-1]["ok"] and "trunc" in out[-1]["error"]


def test_truncated_plain_block_and_header():
    plain = build_warc([_resp(1)], gz=False)
    out = list(iter_warc_records(plain[:30]))
    assert [r["ok"] for r in out] == [False]
    assert "truncated header" in out[0]["error"]
    out = list(iter_warc_records(plain[: len(plain) - 20]))
    assert "truncated block" in out[0]["error"]


def test_bad_magic_and_missing_content_length():
    out = list(iter_warc_records(b"NOTAWARC/1.0\r\nfoo: bar\r\n\r\nxx"))
    assert not out[0]["ok"] and "bad magic" in out[0]["error"]
    bad = (b"WARC/1.0\r\nWARC-Type: response\r\n\r\n" + b"x" * 10)
    out = list(iter_warc_records(bad))
    assert not out[0]["ok"] and "Content-Length" in out[0]["error"]


def test_http_block_without_head_is_passthrough():
    r = parse_http_response(b"no http head here")
    assert r["http_status"] is None
    assert r["payload"] == b"no http head here"


def test_warc_records_quarantine_distributed(spark):
    good = build_warc([_resp(1), _resp(2)])
    bad = good[:25] + b"\xff\xff\xff\xff" + good[29:]
    df = spark.createDataFrame(
        [(0, bytearray(good)), (1, bytearray(bad))],
        "file_id long, content binary")
    out = warc_records(df)
    ok = out.where(F.col("ok")).count()
    quarantined = out.where(~F.col("ok")).count()
    assert ok >= 2 and quarantined >= 1
    # the good file parses fully even when a sibling file is corrupt
    assert out.where(F.col("ok")
                     & (F.col("file_id") == 0)).count() == 2
