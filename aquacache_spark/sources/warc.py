"""WARC web-archive source: parse .warc.gz blobs into record rows.

Same Spark shape as sources/gridded.py: whole .warc.gz blobs sit one
per row, and an Arrow-batched ``mapInPandas`` kernel inflates members
and parses records where the rows already are. Record rows — not raw
octets — are what shuffles downstream. Corrupt or truncated members
quarantine as ok=false rows (never throw). ``synthesize_warc_files``
builds deterministic fixtures through the real writer.

Not part of the AquaCache surface: the module holds only the source of
perfbench's ``warc_crawl_corpus`` probe (``queries/web.py``), which
composes filter warc_type='response' -> functions.html.with_main_text
-> operators.web.url_canonicalize.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

WARC_RECORD_SCHEMA = T.StructType([
    T.StructField("file_id", T.LongType()),
    T.StructField("member_index", T.IntegerType()),
    T.StructField("ok", T.BooleanType()),
    T.StructField("error", T.StringType()),
    T.StructField("warc_type", T.StringType()),
    T.StructField("record_id", T.StringType()),
    T.StructField("target_uri", T.StringType()),
    T.StructField("warc_date", T.StringType()),
    T.StructField("content_type", T.StringType()),
    T.StructField("content_length", T.LongType()),
    T.StructField("http_status", T.IntegerType()),
    T.StructField("http_content_type", T.StringType()),
    T.StructField("payload", T.BinaryType()),
])


def warc_records(
    df: DataFrame,
    id_col: str = "file_id",
    blob_col: str = "content",
) -> DataFrame:
    """(file_id, warc blob) -> one row per record (quarantine rows
    included), Arrow-batched. The blob never shuffles: parsing happens
    where the scan put it."""
    from ..functions.warc import iter_warc_records

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for fid, blob in zip(pdf[id_col], pdf[blob_col]):
                for rec in iter_warc_records(bytes(blob)):
                    rows.append({
                        "file_id": int(fid),
                        "member_index": rec.get("member_index"),
                        "ok": bool(rec.get("ok")),
                        "error": rec.get("error"),
                        "warc_type": rec.get("warc_type"),
                        "record_id": rec.get("record_id"),
                        "target_uri": rec.get("target_uri"),
                        "warc_date": rec.get("warc_date"),
                        "content_type": rec.get("content_type"),
                        "content_length": rec.get("content_length"),
                        "http_status": rec.get("http_status"),
                        "http_content_type":
                            rec.get("http_content_type"),
                        "payload": rec.get("payload"),
                    })
            yield pd.DataFrame(
                rows, columns=[f.name for f in WARC_RECORD_SCHEMA])

    return df.mapInPandas(kernel, schema=WARC_RECORD_SCHEMA)


def synthesize_warc_files(
    records: DataFrame,
    file_col: str = "file_id",
    order_col: str = "doc_id",
) -> DataFrame:
    """Deterministic .warc.gz fixtures through the REAL writer (the
    GIF policy): one output blob per ``file_col`` group, one gzip
    member per record, records ordered by ``order_col``.

    ``records`` columns: file_id, doc_id, warc_type, record_id,
    target_uri, warc_date, http_status, http_content_type,
    payload (string, UTF-8-encoded).
    Non-response types encode their payload as the raw block (no HTTP
    head)."""
    from ..functions.warc import (build_warc, encode_warc_record,
                                  http_response_block)

    out_schema = T.StructType([
        T.StructField(file_col, T.LongType()),
        T.StructField("content", T.BinaryType()),
    ])

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort")
        recs = []
        for r in pdf.itertuples(index=False):
            payload = str(r.payload).encode("utf-8")
            hdrs = {
                "WARC-Type": str(r.warc_type),
                "WARC-Record-ID": str(r.record_id),
                "WARC-Date": str(r.warc_date),
                "WARC-Target-URI": str(r.target_uri),
            }
            if r.warc_type == "response":
                hdrs["Content-Type"] = \
                    "application/http; msgtype=response"
                block = http_response_block(
                    int(r.http_status), "OK" if r.http_status == 200
                    else "NOT OK",
                    {"Content-Type": str(r.http_content_type)}, payload)
            else:
                hdrs["Content-Type"] = "text/plain"
                block = payload
            recs.append(encode_warc_record(hdrs, block))
        return pd.DataFrame({
            file_col: [int(pdf[file_col].iloc[0])],
            "content": [build_warc(recs, gz=True)],
        })

    return records.groupBy(file_col).applyInPandas(build, out_schema)
