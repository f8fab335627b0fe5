"""WARC/1.x codec — pure-stdlib writer + reader for web-archive files
(ISO 28500; the WARC 1.1 spec is public via iipc.github.io/warc-
specifications).

The reference (YukonWRB/AquaCache) has no web-archive surface; this is
the engine's web tier on-ramp, built the same way as the GRIB2 / GPKG
codecs (functions/grib2.py, sources/vector.py):

- an Arrow-batched kernel parses whole-file blobs where they sit
  (sources/warc.warc_records) — octets never shuffle;
- oracles never parse bytes: fixtures are synthesized
  closed-form from table keys through the REAL writer, so the reader
  runs on genuine WARC bytes while DuckDB recomputes the expected
  features from the keys alone.

Format essentials (ISO 28500 §4):

    WARC/1.0<CRLF>
    <header-name>: <value><CRLF> ...
    <CRLF>
    <Content-Length octets of record block>
    <CRLF><CRLF>

``.warc.gz`` compresses EACH record as its own gzip member (the
customary form — members stay independently seekable, which is what
makes a 100 TB crawl splittable at record granularity). ``response``
records carry an HTTP/1.1 message as their block; the payload follows
the first empty line of the HTTP head.

Robustness contract (quarantine, never throw): a gzip member that
fails to inflate, a record without the WARC/ magic, a missing or
non-numeric Content-Length, or a block shorter than Content-Length
each yield ONE record dict with ``ok=False`` and a diagnostic
``error``; parsing resumes at the next gzip member when boundaries
are still known, else stops (a corrupt mid-stream plain record has no
resync point).

Not part of the AquaCache surface: reached only from perfbench's
``warc_crawl_corpus`` probe (``queries/web.py``).
"""

from __future__ import annotations

import gzip
import re
import zlib
from typing import Iterator

CRLF = b"\r\n"
_MAGIC_GZ = b"\x1f\x8b"
_VERSION_RE = re.compile(rb"^WARC/(\d+\.\d+)$")


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------

def encode_warc_record(headers: dict[str, str], block: bytes) -> bytes:
    """One WARC record: version line, headers (Content-Length written
    from the actual block size), blank line, block, record separator."""
    lines = [b"WARC/1.0"]
    for k, v in headers.items():
        if k.lower() == "content-length":
            continue
        lines.append(f"{k}: {v}".encode("utf-8"))
    lines.append(f"Content-Length: {len(block)}".encode("ascii"))
    head = CRLF.join(lines) + CRLF + CRLF
    return head + block + CRLF + CRLF


def http_response_block(
    status: int,
    reason: str,
    headers: dict[str, str],
    payload: bytes,
) -> bytes:
    """An HTTP/1.1 response message (the block of a ``response``
    record). Content-Length reflects the payload."""
    lines = [f"HTTP/1.1 {status} {reason}".encode("ascii")]
    for k, v in headers.items():
        if k.lower() == "content-length":
            continue
        lines.append(f"{k}: {v}".encode("utf-8"))
    lines.append(f"Content-Length: {len(payload)}".encode("ascii"))
    return CRLF.join(lines) + CRLF + CRLF + payload


def gzip_member(record: bytes) -> bytes:
    """One record -> one gzip member (mtime pinned for determinism)."""
    return gzip.compress(record, compresslevel=6, mtime=0)


def build_warc(records: list[bytes], gz: bool = True) -> bytes:
    """Concatenate encoded records into a .warc / .warc.gz blob."""
    if gz:
        return b"".join(gzip_member(r) for r in records)
    return b"".join(records)


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------

def _split_gzip_members(blob: bytes) -> Iterator[tuple[bytes, str | None]]:
    """Inflate a multi-member gzip stream one member at a time.
    Yields (member_bytes, error); on a corrupt member yields
    (b'', message) and stops — the next member boundary is unknown."""
    pos = 0
    # Zero-copy + bounded feeding (r12): the old loop passed blob[pos:]
    # to decompress once per member — the slice copies the remainder
    # AND zlib materializes it again as unused_data, so splitting an
    # n-member archive copied O(n * size) bytes (profiled: 5.5s for a
    # 5000-member archive; a production 1 GB .warc.gz with ~50k members
    # would be catastrophic). Feed bounded chunks off a memoryview:
    # each member now costs its own bytes plus at most one chunk of
    # unused_data.
    mv = memoryview(blob)
    chunk = 1 << 18
    total = len(blob)
    while pos < total:
        d = zlib.decompressobj(wbits=31)
        parts = []
        p = pos
        try:
            while not d.eof and p < total:
                parts.append(d.decompress(mv[p:p + chunk]))
                p += chunk
            parts.append(d.flush())
        except zlib.error as e:  # corrupt member: no resync point
            yield b"", f"gzip: {e}"
            return
        if not d.eof:  # truncated final member
            yield b"", "gzip: truncated member"
            return
        data = b"".join(parts)
        consumed = min(p, total) - pos - len(d.unused_data)
        if consumed <= 0:  # defensive: zero-length progress
            yield b"", "gzip: zero-length member"
            return
        yield data, None
        pos += consumed


def _parse_headers(head: bytes) -> dict[str, str]:
    out: dict[str, str] = {}
    for line in head.split(CRLF):
        if b":" in line:
            k, v = line.split(b":", 1)
            out[k.decode("latin-1").strip().lower()] = \
                v.decode("latin-1").strip()
    return out


def parse_http_response(block: bytes) -> dict:
    """Split an HTTP response block into status / headers / payload.
    Returns http_status None when the block is not an HTTP response."""
    sep = block.find(CRLF + CRLF)
    if sep < 0:
        return {"http_status": None, "http_reason": None,
                "http_content_type": None, "payload": block}
    head, payload = block[:sep], block[sep + 4:]
    first, _, rest = head.partition(CRLF)
    m = re.match(rb"^HTTP/\d\.\d (\d{3})\s*(.*)$", first)
    if not m:
        return {"http_status": None, "http_reason": None,
                "http_content_type": None, "payload": block}
    hdrs = _parse_headers(rest)
    return {
        "http_status": int(m.group(1)),
        "http_reason": m.group(2).decode("latin-1") or None,
        "http_content_type": hdrs.get("content-type"),
        "payload": payload,
    }


def _record_from_stream(stream: bytes, pos: int) -> tuple[dict, int]:
    """Parse one record at ``pos``; returns (record, next_pos).
    next_pos == -1 signals an unrecoverable error in this stream."""
    sep = stream.find(CRLF + CRLF, pos)
    if sep < 0:
        return {"ok": False, "error": "warc: truncated header"}, -1
    head = stream[pos:sep]
    first, _, rest = head.partition(CRLF)
    if not _VERSION_RE.match(first):
        return {"ok": False,
                "error": f"warc: bad magic {first[:16]!r}"}, -1
    hdrs = _parse_headers(rest)
    cl = hdrs.get("content-length")
    if cl is None or not cl.isdigit():
        return {"ok": False, "error": "warc: missing Content-Length"}, -1
    n = int(cl)
    block_start = sep + 4
    if block_start + n > len(stream):
        return {"ok": False, "error": "warc: truncated block"}, -1
    block = stream[block_start:block_start + n]
    rec = {
        "ok": True,
        "error": None,
        "warc_type": hdrs.get("warc-type"),
        "record_id": hdrs.get("warc-record-id"),
        "target_uri": hdrs.get("warc-target-uri"),
        "warc_date": hdrs.get("warc-date"),
        "content_type": hdrs.get("content-type"),
        "content_length": n,
        "block": block,
    }
    return rec, block_start + n + 4  # skip the CRLF CRLF separator


def iter_warc_records(blob: bytes) -> Iterator[dict]:
    """All records of a .warc / .warc.gz blob, quarantine included.

    Each yielded dict carries ok/error plus (for ok records) the WARC
    headers of interest, the raw block, and — for ``response``
    records — the parsed HTTP status/content-type/payload."""
    if blob[:2] == _MAGIC_GZ:
        streams: Iterator[tuple[bytes, str | None]] = \
            _split_gzip_members(blob)
    else:
        streams = iter([(blob, None)])
    for member_index, (stream, err) in enumerate(streams):
        if err is not None:
            yield {"ok": False, "error": err,
                   "member_index": member_index}
            continue
        pos = 0
        while pos < len(stream):
            rec, nxt = _record_from_stream(stream, pos)
            rec["member_index"] = member_index
            if rec["ok"] and rec.get("warc_type") == "response":
                rec.update(parse_http_response(rec["block"]))
            yield rec
            if nxt < 0:
                break
            pos = nxt
