"""WARC web-archive source — the web tier's crawl-to-corpus on-ramp.

The reference (YukonWRB/AquaCache) ingests domain files (HYDAT, GRIB2,
SWOB-ML, GeoPackage — sources/*.py); a training-data pipeline's
equivalent bulk drop is the WARC crawl archive. Same Spark shape as
sources/gridded.py: a ``binaryFile`` scan fans whole .warc.gz files to
tasks (one file per task — gzip members are only splittable after an
index pass, and a single file is bounded by crawler rotation policy,
~1 GB in Common Crawl practice), and an Arrow-batched ``mapInPandas``
kernel inflates members and parses records. Record rows — not raw
octets — are what shuffles downstream.

Scale notes:
- a 100 TB crawl is ~100k files; the scan parallelizes per file and
  the kernel streams member-at-a-time, so task memory is bounded by
  the largest single record, not the file;
- corrupt/truncated members quarantine as ok=false rows (never throw
  — one bad megabyte must not kill a 1000-executor stage);
- downstream composition: filter warc_type='response' ->
  functions.html.with_main_text -> operators.web.url_canonicalize —
  the crawl-to-corpus capstone.

Not part of the AquaCache surface: reached only from
``queries/web.py`` — perfbench's ``warc_crawl_corpus`` probe and the
web-tier queries a later change still has to cut.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Distributed .warc/.warc.gz ingest: binaryFile scan (one file
    per task) -> record rows. file_id is a deterministic hash of the
    file path (xxhash64), stable across re-reads."""
    files = (
        spark.read.format("binaryFile").load(path)
        .select(F.xxhash64("path").alias("file_id"), "content")
    )
    return warc_records(files)


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


def write_warc(
    df: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    url_col: str = "url",
    payload_col: str = "payload",
    date_col: str | None = None,
    records_per_file: int = 1000,
) -> DataFrame:
    """Distributed WARC EXPORT — corpus rows back out as .warc.gz
    response records (the archival sink mirroring :func:`read_warc`).

    Rows are bucketed into files of ``records_per_file`` by a
    deterministic id hash (NOT by partition layout, so output is
    stable across cluster sizes/AQE decisions); each task writes its
    whole bucket as one file, one gzip member per record. Returns the
    (file_name, n_records, n_bytes) manifest frame.

    Payload may be string (UTF-8-encoded) or binary."""
    import os

    from ..functions.warc import (build_warc, encode_warc_record,
                                  http_response_block)

    man_schema = T.StructType([
        T.StructField("file_name", T.StringType()),
        T.StructField("n_records", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
    ])
    # deterministic file assignment: dense rank of id hash would need
    # a global sort; hash-bucket count derived from an approximate
    # row count keeps assignment one map-side expression
    n_rows = df.count()
    n_files = max(1, (n_rows + records_per_file - 1) // records_per_file)
    with_file = df.withColumn(
        "__file", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_files)))

    def writer(pdf):
        os.makedirs(out_dir, exist_ok=True)
        fid = int(pdf["__file"].iloc[0])
        pdf = pdf.sort_values(id_col, kind="mergesort")
        recs = []
        for r in pdf.itertuples(index=False):
            payload = getattr(r, payload_col)
            payload = (bytes(payload)
                       if isinstance(payload, (bytes, bytearray))
                       else str(payload).encode("utf-8"))
            date = (getattr(r, date_col) if date_col
                    else "2024-01-01T00:00:00Z")
            hdrs = {
                "WARC-Type": "response",
                "WARC-Record-ID":
                    f"urn:export:{getattr(r, id_col)}",
                "WARC-Date": str(date),
                "WARC-Target-URI": str(getattr(r, url_col)),
                "Content-Type": "application/http; msgtype=response",
            }
            block = http_response_block(
                200, "OK", {"Content-Type": "text/html"}, payload)
            recs.append(encode_warc_record(hdrs, block))
        blob = build_warc(recs, gz=True)
        name = f"export-{fid:05d}.warc.gz"
        tmp = os.path.join(out_dir, f".{name}.tmp-{os.getpid()}")
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, os.path.join(out_dir, name))  # atomic publish
        import pandas as _pd
        return _pd.DataFrame({"file_name": [name],
                              "n_records": [len(recs)],
                              "n_bytes": [len(blob)]})

    return with_file.groupBy("__file").applyInPandas(
        writer, man_schema)
