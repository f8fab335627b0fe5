"""The import-mapping join and the web-crawl probe.

The module holds one web-crawl-tier query, ``warc_crawl_corpus``:
perfbench's batch probe, named in ``perfbench/batch_analytics.py``. It
stays until a benchmark change retargets the probe;
tests/test_import_boundary.py pins it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_df as _ldf
from ._common import _t, register


# ---------------------------------------------------------------------------
# §2.1 import-mapping DSL: source codes -> canonical ids with fallback
# (R/import_mappings.R:26; downloadEQWin parameter mapping,
# R/downloadEQWin.R:43)
# ---------------------------------------------------------------------------

_MAPPING_ORACLE = """
    WITH mapping AS (
      SELECT * FROM (VALUES
        ('BRASS',  'alloy'), ('COPPER', 'metal'), ('STEEL', 'metal'),
        ('TIN',    'metal'), ('NICKEL', 'metal')
      ) AS m(src_token, category)
    )
    SELECT p_partkey, p_type,
           coalesce(m.category, 'unmapped') AS category
    FROM part p
    LEFT JOIN mapping m
      ON upper(p.p_type) LIKE '%' || m.src_token || '%'
"""


@register("import_mapping_join", oracle=_MAPPING_ORACLE)
def import_mapping_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    mapping = _ldf(spark, 
        [("BRASS", "alloy"), ("COPPER", "metal"), ("STEEL", "metal"),
         ("TIN", "metal"), ("NICKEL", "metal")],
        ["src_token", "category"],
    )
    joined = part.join(
        F.broadcast(mapping),
        F.upper(part["p_type"]).contains(mapping["src_token"]),
        "left",
    )
    return joined.select(
        "p_partkey", "p_type",
        F.coalesce("category", F.lit("unmapped")).alias("category"),
    )


# ---------------------------------------------------------------------------
# WARC crawl-to-corpus (functions/warc.py + sources/warc.py +
# functions/html.py + operators/web.url_canonicalize). Fixtures are
# synthesized through the REAL writer (one gzip member per record,
# ISO 28500 framing) and parsed by the REAL reader; the oracle
# recomputes the expected rows closed-form from doc_id/text without
# touching bytes, with _HTML_CLEAN_SQL as the SQL twin of
# functions/html.py's tag strip, entity decode and whitespace collapse.
# ---------------------------------------------------------------------------

_HTML_CLEAN_SQL = (
    "trim(regexp_replace("
    "replace(replace(replace(replace(replace("
    "regexp_replace({src}, '<[^>]*>', ' ', 'g'),"
    " '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'),"
    " '&#39;', ''''), '&amp;', '&'),"
    " '\\s+', ' ', 'g'))"
)


def _doc_html(text_col) -> Column:
    """The boilerplate-wrapped document HTML fixture (title + nav +
    script/style/comment noise + 1-2 <p> blocks + ad + footer),
    mirrored verbatim by the oracle's raw CTE."""
    d = F.col("doc_id")
    return F.concat(
        F.lit("<html><head><title>Doc "), d.cast("string"),
        F.lit(" &amp; friends</title>"),
        F.lit('<script type="text/javascript">var x = 1; //junk'),
        F.lit("</script><style>.a { color: red; }</style></head>"),
        F.lit('<body><nav>Home | About | <a href="/x">Links</a></nav>'),
        F.lit("<!-- comment block -->"),
        F.lit("<p>"), F.substring(text_col, 1, 120), F.lit("</p>"),
        F.when(d % 3 == 0,
               F.concat(F.lit("<p>"), F.substring(text_col, 121, 100),
                        F.lit(" &lt;tagged&gt;</p>"))).otherwise(""),
        F.lit('<div class="ad">BUY NOW!!!</div>'),
        F.lit("<footer>(c) 2024 Example</footer></body></html>"),
    )


def _warc_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized .warc.gz files over documents: one response record
    per doc (+ request records for doc_id%7==0 and metadata records
    for doc_id%11==0, which ingest must classify and filters drop),
    ~40 docs per file."""
    from ..sources.warc import synthesize_warc_files

    d = F.col("doc_id")
    date = F.date_format(
        F.to_timestamp(F.lit("2024-01-01 00:00:00"))
        + F.make_dt_interval(secs=(d % 86400).cast("double")),
        "yyyy-MM-dd'T'HH:mm:ss'Z'")
    payload = _doc_html(F.col("text"))
    uri = F.concat(F.lit("HTTPS://Example.org/a/./docs/../doc/"),
                   d.cast("string"), F.lit("?z=1&a=2"))
    ctype = F.lit("text/html; charset=UTF-8")
    docs = _t(spark, sf_dir, "documents")
    resp = docs.select(
        (d % 40).alias("file_id"), (d * 4).alias("seq"),
        F.lit("response").alias("warc_type"),
        F.concat(F.lit("urn:example:"), d.cast("string"))
        .alias("record_id"),
        uri.alias("target_uri"), date.alias("warc_date"),
        F.when(d % 9 == 0, 404).otherwise(200).alias("http_status"),
        ctype.alias("http_content_type"),
        payload.alias("payload"))
    req = docs.where(d % 7 == 0).select(
        (d % 40).alias("file_id"), (d * 4 + 1).alias("seq"),
        F.lit("request").alias("warc_type"),
        F.concat(F.lit("urn:example:req:"), d.cast("string"))
        .alias("record_id"),
        uri.alias("target_uri"), date.alias("warc_date"),
        F.lit(0).alias("http_status"),
        F.lit("").alias("http_content_type"),
        F.concat(F.lit("GET /doc/"), d.cast("string"),
                 F.lit(" HTTP/1.1")).alias("payload"))
    meta = docs.where(d % 11 == 0).select(
        (d % 40).alias("file_id"), (d * 4 + 2).alias("seq"),
        F.lit("metadata").alias("warc_type"),
        F.concat(F.lit("urn:example:meta:"), d.cast("string"))
        .alias("record_id"),
        uri.alias("target_uri"), date.alias("warc_date"),
        F.lit(0).alias("http_status"),
        F.lit("").alias("http_content_type"),
        F.concat(F.lit("meta "), d.cast("string")).alias("payload"))
    return synthesize_warc_files(
        resp.unionByName(req).unionByName(meta), order_col="seq")


_WARC_CORPUS_ORACLE = f"""
    WITH raw AS (
      SELECT doc_id,
             '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
             || ' &amp; friends</title>'
             || '<script type="text/javascript">var x = 1; //junk'
             || '</script><style>.a {{ color: red; }}</style></head>'
             || '<body><nav>Home | About | <a href="/x">Links</a></nav>'
             || '<!-- comment block -->'
             || '<p>' || substr(text, 1, 120) || '</p>'
             || (CASE WHEN doc_id % 3 = 0
                      THEN '<p>' || substr(text, 121, 100)
                           || ' &lt;tagged&gt;</p>'
                      ELSE '' END)
             || '<div class="ad">BUY NOW!!!</div>'
             || '<footer>(c) 2024 Example</footer></body></html>'
               AS html
      FROM documents
      WHERE doc_id % 9 != 0
    ), noiseless AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(html,
               '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
               '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
               '(?s)<!--.*?-->', ' ', 'g') AS s
      FROM raw
    ), parts AS (
      SELECT doc_id,
             {_HTML_CLEAN_SQL.format(
                 src="regexp_extract(s, '(?s)<title[^>]*>(.*?)</title>',"
                     " 1)")}
               AS title,
             array_to_string(list_transform(
               regexp_extract_all(s, '(?s)<p[^>]*>(.*?)</p>', 1),
               b -> {_HTML_CLEAN_SQL.format(src='b')}), ' ')
               AS main_text,
             CAST(len(regexp_extract_all(s, '(?s)<p[^>]*>(.*?)</p>', 1))
                  AS INT) AS n_blocks
      FROM noiseless
    )
    SELECT doc_id,
           'https://example.org/a/doc/' || CAST(doc_id AS VARCHAR)
             || '?a=2&z=1' AS canonical_url,
           'example.org' AS host,
           title, main_text, n_blocks,
           CAST(length(main_text) AS BIGINT) AS chars_kept
    FROM parts
"""


@register("warc_crawl_corpus", oracle=_WARC_CORPUS_ORACLE)
def warc_crawl_corpus_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-to-corpus capstone: .warc.gz ingest -> HTTP 200 text/html
    responses -> HTML main-content extraction -> RFC 3986 URL
    canonicalization (dot-segments resolved, host lowercased, query
    sorted). One declarative plan from archive bytes to corpus rows."""
    from ..functions.html import with_main_text
    from ..operators.web import url_canonicalize
    from ..sources.warc import warc_records

    files = _warc_fixture(spark, sf_dir)
    recs = warc_records(files)
    pages = recs.where(
        F.col("ok") & (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        & F.col("http_content_type").startswith("text/html")
    ).select(
        F.regexp_extract("record_id", r"^urn:example:(\d+)$", 1)
        .cast("long").alias("doc_id"),
        F.col("target_uri").alias("url"),
        F.col("payload").cast("string").alias("html"))
    text = with_main_text(pages, "html")
    canon = url_canonicalize(
        text.select("doc_id", "url", "title", "main_text", "n_blocks"),
        "url")
    return canon.select(
        "doc_id", "canonical_url", "host", "title", "main_text",
        F.col("n_blocks").cast("int").alias("n_blocks"),
        F.length("main_text").cast("long").alias("chars_kept"))
