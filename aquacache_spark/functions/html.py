"""HTML main-content extraction — the stage before every text
pipeline (the trafilatura/jusText role, regex-tier): drop script and
style payloads, select text-bearing blocks, strip tags, decode the
core entities, collapse whitespace.

All codegen'd string expressions (regexp_replace / regexp_extract_all
with RE2-and-Java-compatible patterns — non-greedy dot with (?s),
no lookarounds), mirrored 1:1 in the DuckDB oracle. Map-only: linear
over a 100 TB HTML column, no shuffle, no UDF.

Extraction rule (deliberately simple and deterministic, not a layout
model): the main text is the concatenation of <p>-block contents —
the text-bearing tag — so navs, footers, scripts, styles, and bare
divs drop out as boilerplate; ``boilerplate_ratio`` reports how much
of the tag-stripped page text was discarded.

Not part of the AquaCache surface: reached only from perfbench's
``warc_crawl_corpus`` probe (``queries/web.py``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: the core named entities (chained replaces; &amp; LAST so freshly
#: produced '&' never re-decodes — the standard double-decode guard)
_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
             ("&#39;", "'"), ("&amp;", "&")]


def _decode_entities(c: Column) -> Column:
    for src, dst in _ENTITIES:
        c = F.replace(c, F.lit(src), F.lit(dst))
    return c


def _clean(c: Column) -> Column:
    """Strip any remaining tags, decode entities, collapse spaces."""
    c = F.regexp_replace(c, r"<[^>]*>", " ")
    c = _decode_entities(c)
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def strip_noise(html: Column) -> Column:
    """Remove script/style elements INCLUDING their payloads ((?s):
    the dot crosses newlines), then comments."""
    c = F.regexp_replace(html, r"(?s)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?s)<style[^>]*>.*?</style>", " ")
    return F.regexp_replace(c, r"(?s)<!--.*?-->", " ")


def with_main_text(df, html_col: str = "html"):
    """df + (title, main_text, n_blocks, chars_total, chars_kept,
    boilerplate_ratio). The noiseless document is materialized once
    as an intermediate column so the title/block/full extractions
    share it."""
    d = df.withColumn("__noiseless", strip_noise(F.col(html_col)))
    noiseless = F.col("__noiseless")
    title = _clean(F.regexp_extract(
        noiseless, r"(?s)<title[^>]*>(.*?)</title>", 1))
    blocks = F.regexp_extract_all(
        noiseless, F.lit(r"(?s)<p[^>]*>(.*?)</p>"), F.lit(1))
    main = F.array_join(F.transform(blocks, lambda b: _clean(b)), " ")
    full = _clean(noiseless)
    d = (
        d.withColumn("title", title)
        .withColumn("main_text", main)
        .withColumn("n_blocks", F.size(blocks).cast("int"))
        .withColumn("chars_total", F.length(full).cast("long"))
        .withColumn("chars_kept", F.length(F.col("main_text"))
                    .cast("long"))
    )
    ratio = F.when(
        F.col("chars_total") > 0,
        (F.col("chars_total") - F.col("chars_kept")).cast("double")
        / F.col("chars_total"),
    ).otherwise(F.lit(0.0))
    return d.withColumn("boilerplate_ratio", ratio).drop("__noiseless")
