"""Text quality gates, sessionization and link-graph queries.

The web-crawl-tier queries here remain only for perfbench's batch
probe (``warc_crawl_corpus``, named in ``perfbench/batch_analytics.py``)
and until a later change cuts the rest; tests/test_import_boundary.py
lists them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from ._common import (  # noqa: F401
    Callable,
    Column,
    Correction,
    DSUM,
    DataFrame,
    Dict,
    F,
    ORACLES,
    QUERIES,
    R,
    SparkSession,
    Window,
    _FIXDIR,
    _GATE_ORACLE,
    _RASTER_CELLS_SQL,
    _REFRESH_LADDER_AVG,
    _exact_mean_of,
    _exact_sum_col,
    _lang_filter_sql,
    _ldf,
    _pathlib,
    _raster_cells,
    _refresh_tail_sql,
    _round,
    _t,
    apply_corrections,
    catalog,
    daily_rollup,
    doy_stats,
    register,
)


# ---------------------------------------------------------------------------
# Gap-based sessionization via Spark's native session_window (the
# dynamic-gap analog of the RLE/segment family; in a training-data
# pipeline: user/crawl session assembly before per-session features).
# Spark merges events whose [ts, ts+gap) windows OVERLAP, so a gap of
# EXACTLY 30 minutes starts a new session (>=, not >, in the oracle).
# One shuffle on user_id; the session assembly is a single
# aggregation, no self-join.
# ---------------------------------------------------------------------------

_SESSION_ORACLE = """
    WITH m AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS nb
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT user_id, ts,
             sum(nb) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    )
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
"""


@register("event_sessionization", oracle=_SESSION_ORACLE)
def event_sessionization_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessions per user over the event stream."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id",
            F.session_window("ts", "30 minutes").alias("win"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


# Per-user session features on top of the session assembly: the
# engagement profile (session counts, exact-summed active seconds,
# busiest session) — sessionization COMPOSED with aggregation. Active
# seconds = last-minus-first event per session (integer epoch diff,
# exact), not the gap-padded window end.
_SESSION_FEATURES_ORACLE = """
    WITH m AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS nb
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT user_id, ts,
             sum(nb) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    ), sess AS (
      SELECT user_id, sid,
             CAST(count(*) AS BIGINT) AS n_events,
             (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000
               AS active_seconds
      FROM s GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(n_events) AS BIGINT) AS total_events,
           CAST(sum(active_seconds) AS BIGINT) AS total_active_seconds,
           CAST(max(n_events) AS BIGINT) AS busiest_session_events
    FROM sess GROUP BY 1
"""


@register("session_features", oracle=_SESSION_FEATURES_ORACLE)
def session_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user engagement profile from 30-minute-gap sessions —
    two partial-aggregable groupBys on the same user key (the second
    shuffle is AQE-coalesced), all-integer arithmetic."""
    ev = _t(spark, sf_dir, "events")
    sess = (
        ev.groupBy(
            "user_id",
            F.session_window("ts", "30 minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.expr("(unix_micros(max(ts)) - unix_micros(min(ts)))"
                   " div 1000000").alias("active_seconds"),
        )
    )
    return sess.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("total_events"),
        F.sum("active_seconds").cast("long")
        .alias("total_active_seconds"),
        F.max("n_events").cast("long").alias("busiest_session_events"),
    )


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
# Training-data tier: C4-style line filtering + page flags, and a
# per-domain top-share quality gate with deterministic tie-breaks.
# ---------------------------------------------------------------------------

_C4_ORACLE = """
    WITH lines AS (
      SELECT doc_id, lower(text) AS low,
             string_split(text, '. ') AS ls
      FROM documents
    ), f AS (
      SELECT doc_id,
             list_filter(ls, x ->
               regexp_matches(trim(x), '[.!?"]$')
               AND len(regexp_split_to_array(trim(x), '\\s+')) >= 5)
               AS kept,
             len(ls) AS n_total,
             contains(low, '{') AS has_brace,
             contains(low, 'lorem ipsum') AS has_lorem
      FROM lines
    )
    SELECT doc_id, CAST(len(kept) AS INT) AS n_kept,
           CAST(n_total AS INT) AS n_total, has_brace, has_lorem,
           len(kept) >= 3 AND NOT has_brace AND NOT has_lorem AS doc_kept
    FROM f
"""


@register("c4_line_filter", oracle=_C4_ORACLE)
def c4_line_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line retention + page flags over sentence-segmented docs
    (functions/text.c4_line_filter; the corpus has no newlines, so
    '. ' plays the line separator)."""
    from ..functions.text import c4_doc_flags, c4_line_filter

    docs = _t(spark, sf_dir, "documents")
    lf = c4_line_filter(F.col("text"), sep=r"\. ")
    brace, lorem = c4_doc_flags(F.col("text"))
    out = docs.select(
        "doc_id",
        F.size(lf["kept_lines"]).alias("n_kept"),
        lf["n_total"].alias("n_total"),
        brace.alias("has_brace"),
        lorem.alias("has_lorem"),
    ).withColumn(
        "doc_kept",
        (F.col("n_kept") >= 3) & ~F.col("has_brace") & ~F.col("has_lorem"),
    )
    return out


# Full Gopher rule set (Rae et al. 2021 Appendix A) over documents
# with a synthesized line structure: ' a ' becomes a bullet line
# break, ' the ' an ellipsis line break, and every 7th doc gets two
# '#' symbols — so every rule (bullet fraction, ellipsis fraction,
# symbol ratio, stopword hits, word/length bounds) discriminates at
# test SF instead of being constant. Word rules run on the original
# text, line rules on the synthesized line text, mirrored exactly.
_GOPHER_LT_SQL = """
      '- ' || replace(replace(text, ' a ', chr(10) || '- '),
                      ' the ', '...' || chr(10))
      || (CASE WHEN doc_id % 7 = 0 THEN ' # #' ELSE '' END)
"""

_GOPHER_ORACLE = f"""
    WITH lt AS (
      SELECT doc_id, text, {_GOPHER_LT_SQL} AS lt FROM documents
    ), m AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             (len(text) - (len(string_split(text, ' ')) - 1))
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mlen,
             (len(lt) - len(replace(lt, '#', ''))
              + (len(lt) - len(replace(lt, '...', ''))) / 3.0)
               / len(string_split(text, ' ')) AS sym,
             len(list_filter(string_split(lt, chr(10)),
                 l -> starts_with(l, '- ') OR starts_with(l, '* ')))
               / CAST(len(string_split(lt, chr(10))) AS DOUBLE) AS bf,
             len(list_filter(string_split(lt, chr(10)),
                 l -> ends_with(l, '...')))
               / CAST(len(string_split(lt, chr(10))) AS DOUBLE) AS ef,
             len(list_filter(string_split(text, ' '),
                 w -> regexp_matches(w, '[A-Za-z]')))
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS af,
             (CASE WHEN list_contains(string_split(text, ' '), 'the')
                   THEN 1 ELSE 0 END)
             + (CASE WHEN list_contains(string_split(text, ' '), 'be')
                     THEN 1 ELSE 0 END)
             + (CASE WHEN list_contains(string_split(text, ' '), 'to')
                     THEN 1 ELSE 0 END)
             + (CASE WHEN list_contains(string_split(text, ' '), 'of')
                     THEN 1 ELSE 0 END)
             + (CASE WHEN list_contains(string_split(text, ' '), 'and')
                     THEN 1 ELSE 0 END)
             + (CASE WHEN list_contains(string_split(text, ' '), 'that')
                     THEN 1 ELSE 0 END)
             + (CASE WHEN list_contains(string_split(text, ' '), 'have')
                     THEN 1 ELSE 0 END)
             + (CASE WHEN list_contains(string_split(text, ' '), 'with')
                     THEN 1 ELSE 0 END) AS hits
      FROM lt
    )
    SELECT doc_id, n_words,
           {R('mlen', 6)} AS mean_word_len,
           {R('sym', 6)} AS symbol_ratio,
           {R('bf', 6)} AS bullet_frac,
           {R('ef', 6)} AS ellipsis_frac,
           {R('af', 6)} AS alpha_frac,
           hits AS stopword_hits,
           (n_words >= 50 AND n_words <= 100000
            AND mlen >= 3.0 AND mlen <= 10.0 AND sym <= 0.1
            AND bf <= 0.9 AND ef <= 0.3 AND af >= 0.8
            AND hits >= 2) AS keep
    FROM m
"""


@register("gopher_quality_gate", oracle=_GOPHER_ORACLE)
def gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Gopher quality rules (functions/text.gopher_flags): word
    bounds, mean word length, symbol ratio, bullet/ellipsis line
    fractions, alpha-word fraction, required-stopword hits."""
    from ..functions.text import gopher_flags

    docs = _t(spark, sf_dir, "documents")
    lt = F.concat(
        F.lit("- "),
        F.replace(
            F.replace(F.col("text"), F.lit(" a "),
                      F.concat(F.lit("\n"), F.lit("- "))),
            F.lit(" the "), F.concat(F.lit("..."), F.lit("\n"))),
        F.when(F.col("doc_id") % 7 == 0, F.lit(" # #")).otherwise(F.lit("")),
    )
    flags = gopher_flags(F.col("text"), line_text=lt)
    out = docs.select("doc_id", *[
        flags[name].alias(name)
        for name in ("n_words", "mean_word_len", "symbol_ratio",
                     "bullet_frac", "ellipsis_frac", "alpha_frac",
                     "stopword_hits", "keep")
    ])
    return _round(out, {"mean_word_len": 6, "symbol_ratio": 6,
                        "bullet_frac": 6, "ellipsis_frac": 6,
                        "alpha_frac": 6})


# ---------------------------------------------------------------------------
# URL normalization + domain-level curation rollup (operators/web.py):
# canonical URLs, registered domains (public-suffix-aware), per-domain
# doc/host/url-dup/token/https statistics — the domain axis of corpus
# curation. URLs are synthesized deterministically from documents
# (the fixture carries none); every normalization rule mirrors 1:1.
# ---------------------------------------------------------------------------


_URL_SQL = """
      lower(
        (CASE WHEN doc_id % 4 = 0 THEN 'https://' ELSE 'http://' END)
        || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
        || (CASE WHEN doc_id % 7 = 0 THEN 'cdn.' ELSE '' END)
        || source
        || (CASE WHEN doc_id % 5 = 0 THEN '.co.uk' ELSE '.example.com' END)
        || (CASE WHEN doc_id % 11 = 0 THEN ':443' ELSE '' END)
        || '/p/' || CAST(doc_id % 50 AS VARCHAR)
        || (CASE WHEN doc_id % 2 = 0
            THEN '?b=2&utm_source=x&a=' || CAST(doc_id % 3 AS VARCHAR)
            ELSE '' END)
      )
"""


_URL_ROLLUP_ORACLE = f"""
    WITH raw AS (
      SELECT doc_id, text, {_URL_SQL} AS url FROM documents
    ), parsed0 AS (
      SELECT doc_id, text,
             regexp_replace(regexp_replace(url, '^[a-z][a-z0-9+.-]*://', ''),
                            '^www\\.', '') AS rest,
             starts_with(url, 'https://') AS is_https
      FROM raw
    ), parsed1 AS (
      SELECT *, string_split_regex(rest, '[/?]')[1] AS hostport
      FROM parsed0
    ), parsed2 AS (
      SELECT *,
             regexp_replace(hostport, ':\\d+$', '') AS host,
             CASE WHEN regexp_extract(hostport, ':(\\d+)$', 1)
                       IN ('', '80', '443') THEN ''
                  ELSE ':' || regexp_extract(hostport, ':(\\d+)$', 1)
             END AS port_norm,
             substr(rest, len(hostport) + 1) AS after_host
      FROM parsed1
    ), parsed3 AS (
      SELECT *,
             CASE WHEN string_split_regex(after_host, '\\?')[1] = ''
                  THEN '/' ELSE string_split_regex(after_host, '\\?')[1]
             END AS path,
             CASE WHEN position('?' IN after_host) > 0
                  THEN substr(after_host, position('?' IN after_host) + 1)
                  ELSE '' END AS raw_query
      FROM parsed2
    ), parsed4 AS (
      SELECT *,
             -- array_to_string([]) is NULL in DuckDB (Spark
             -- array_join gives '') — coalesce to match
             coalesce(array_to_string(list_sort(list_filter(
               string_split(raw_query, '&'),
               p -> p <> '' AND NOT (starts_with(p, 'utm_')
                 OR string_split(p, '=')[1] IN ('fbclid', 'gclid',
                                                'ref')))), '&'), '')
               AS query_norm,
             string_split(host, '.') AS labels
      FROM parsed3
    ), parsed AS (
      SELECT doc_id, host, is_https,
             len(string_split(lower(text), ' ')) AS ntok,
             host || port_norm || path
               || (CASE WHEN query_norm = '' THEN ''
                   ELSE '?' || query_norm END) AS url_norm,
             CASE
               WHEN labels[-2] || '.' || labels[-1] IN
                    ('co.uk','ac.uk','gov.uk','com.au','net.au','org.au',
                     'co.jp','com.br','gc.ca','on.ca','qc.ca')
                    AND len(labels) >= 3
               THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
               WHEN len(labels) >= 2 THEN labels[-2] || '.' || labels[-1]
               ELSE host END AS registered_domain
      FROM parsed4
    ), per_url AS (
      SELECT registered_domain, url_norm, count(*) AS n
      FROM parsed GROUP BY 1, 2
    ), url_dups AS (
      SELECT registered_domain, sum(n - 1) AS dup_url_docs,
             count(*) AS n_urls
      FROM per_url GROUP BY 1
    ), stats AS (
      SELECT registered_domain, count(*) AS n_docs,
             count(DISTINCT host) AS n_hosts,
             sum(ntok) AS total_tokens,
             sum(CASE WHEN is_https THEN 1 ELSE 0 END) AS n_https
      FROM parsed GROUP BY 1
    )
    SELECT s.registered_domain, s.n_docs, s.n_hosts, u.n_urls,
           u.dup_url_docs, s.total_tokens,
           {R('s.n_https / CAST(s.n_docs AS DOUBLE)', 6)} AS https_frac
    FROM stats s JOIN url_dups u USING (registered_domain)
"""


@register("url_domain_rollup", oracle=_URL_ROLLUP_ORACLE)
def url_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + registered-domain rollup
    (operators/web.domain_rollup)."""
    from ..operators.web import domain_rollup

    docs = _t(spark, sf_dir, "documents")
    url = F.lower(F.concat(
        F.when(F.col("doc_id") % 4 == 0, "https://").otherwise("http://"),
        F.when(F.col("doc_id") % 3 == 0, "www.").otherwise(""),
        F.when(F.col("doc_id") % 7 == 0, "cdn.").otherwise(""),
        F.col("source"),
        F.when(F.col("doc_id") % 5 == 0, ".co.uk").otherwise(".example.com"),
        F.when(F.col("doc_id") % 11 == 0, ":443").otherwise(""),
        F.lit("/p/"), (F.col("doc_id") % 50).cast("string"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("?b=2&utm_source=x&a="),
                     (F.col("doc_id") % 3).cast("string")),
        ).otherwise(""),
    ))
    out = domain_rollup(docs.withColumn("url", url))
    return _round(out, {"https_frac": 6})


# PSL-table variant: registered domains resolve against the broadcast
# public-suffix snapshot (fixtures/public_suffix_snapshot.csv) instead
# of the embedded 11-suffix set — .com.mx / .co.nz / 3-label k12.ca.us
# hosts roll up correctly, non-default :8080 ports stay in the
# canonical URL but out of the domain, and gclidx=1 (prefix of a
# tracking NAME, not the name itself) survives canonicalization.
_URL_PSL_SQL = """
      lower(
        (CASE WHEN doc_id % 4 = 0 THEN 'https://' ELSE 'http://' END)
        || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
        || (CASE WHEN doc_id % 7 = 0 THEN 'shop.' ELSE '' END)
        || source
        || (CASE doc_id % 6 WHEN 0 THEN '.com.mx' WHEN 1 THEN '.co.nz'
            WHEN 2 THEN '.k12.ca.us' WHEN 3 THEN '.example.org'
            WHEN 4 THEN '.com.au' ELSE '.io' END)
        || (CASE WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END)
        || '/p/' || CAST(doc_id % 50 AS VARCHAR)
        || (CASE WHEN doc_id % 2 = 0
            THEN '?b=2&utm_source=x&gclidx=1&ref=abc&a='
                 || CAST(doc_id % 3 AS VARCHAR)
            ELSE '' END)
      )
"""


_PSL_CSV = _FIXDIR.parent / "public_suffix_snapshot.csv"


_URL_PSL_ORACLE = f"""
    WITH psl AS (
      SELECT suffix FROM read_csv('{_PSL_CSV}', header=true)
    ), raw AS (
      SELECT doc_id, text, {_URL_PSL_SQL} AS url FROM documents
    ), parsed0 AS (
      SELECT doc_id, text,
             regexp_replace(regexp_replace(url, '^[a-z][a-z0-9+.-]*://', ''),
                            '^www\\.', '') AS rest,
             starts_with(url, 'https://') AS is_https
      FROM raw
    ), parsed1 AS (
      SELECT *, string_split_regex(rest, '[/?]')[1] AS hostport
      FROM parsed0
    ), parsed2 AS (
      SELECT *,
             regexp_replace(hostport, ':\\d+$', '') AS host,
             CASE WHEN regexp_extract(hostport, ':(\\d+)$', 1)
                       IN ('', '80', '443') THEN ''
                  ELSE ':' || regexp_extract(hostport, ':(\\d+)$', 1)
             END AS port_norm,
             substr(rest, len(hostport) + 1) AS after_host
      FROM parsed1
    ), parsed3 AS (
      SELECT *,
             CASE WHEN string_split_regex(after_host, '\\?')[1] = ''
                  THEN '/' ELSE string_split_regex(after_host, '\\?')[1]
             END AS path,
             CASE WHEN position('?' IN after_host) > 0
                  THEN substr(after_host, position('?' IN after_host) + 1)
                  ELSE '' END AS raw_query
      FROM parsed2
    ), parsed4 AS (
      SELECT *,
             coalesce(array_to_string(list_sort(list_filter(
               string_split(raw_query, '&'),
               p -> p <> '' AND NOT (starts_with(p, 'utm_')
                 OR string_split(p, '=')[1] IN ('fbclid', 'gclid',
                                                'ref')))), '&'), '')
               AS query_norm,
             string_split(host, '.') AS labels
      FROM parsed3
    ), tails AS (
      SELECT *,
             CASE WHEN len(labels) >= 2
                  THEN labels[-2] || '.' || labels[-1] END AS tail2,
             CASE WHEN len(labels) >= 3
                  THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
             END AS tail3
      FROM parsed4
    ), joined AS (
      SELECT t.*, s2.suffix AS m2, s3.suffix AS m3
      FROM tails t
      LEFT JOIN psl s2 ON t.tail2 = s2.suffix
      LEFT JOIN psl s3 ON t.tail3 = s3.suffix
    ), parsed AS (
      SELECT doc_id, host, is_https,
             len(string_split(lower(text), ' ')) AS ntok,
             host || port_norm || path
               || (CASE WHEN query_norm = '' THEN ''
                   ELSE '?' || query_norm END) AS url_norm,
             CASE
               WHEN m3 IS NOT NULL AND len(labels) >= 4
               THEN labels[-4] || '.' || tail3
               WHEN m3 IS NOT NULL THEN host
               WHEN m2 IS NOT NULL AND len(labels) >= 3
               THEN labels[-3] || '.' || tail2
               WHEN m2 IS NOT NULL THEN host
               WHEN len(labels) >= 2 THEN tail2
               ELSE host END AS registered_domain
      FROM joined
    ), per_url AS (
      SELECT registered_domain, url_norm, count(*) AS n
      FROM parsed GROUP BY 1, 2
    ), url_dups AS (
      SELECT registered_domain, sum(n - 1) AS dup_url_docs,
             count(*) AS n_urls
      FROM per_url GROUP BY 1
    ), stats AS (
      SELECT registered_domain, count(*) AS n_docs,
             count(DISTINCT host) AS n_hosts,
             sum(ntok) AS total_tokens,
             sum(CASE WHEN is_https THEN 1 ELSE 0 END) AS n_https
      FROM parsed GROUP BY 1
    )
    SELECT s.registered_domain, s.n_docs, s.n_hosts, u.n_urls,
           u.dup_url_docs, s.total_tokens,
           {R('s.n_https / CAST(s.n_docs AS DOUBLE)', 6)} AS https_frac
    FROM stats s JOIN url_dups u USING (registered_domain)
"""


@register("url_domain_rollup_psl", oracle=_URL_PSL_ORACLE)
def url_domain_rollup_psl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain rollup with the public-suffix table broadcast
    (operators/web.registered_domain_psl): longest-suffix matching on
    the PSL snapshot dim, mixed 2-/3-label suffixes, non-default
    ports, name-exact tracking-param dropping."""
    from ..operators.web import domain_rollup, load_psl

    docs = _t(spark, sf_dir, "documents")
    url = F.lower(F.concat(
        F.when(F.col("doc_id") % 4 == 0, "https://").otherwise("http://"),
        F.when(F.col("doc_id") % 3 == 0, "www.").otherwise(""),
        F.when(F.col("doc_id") % 7 == 0, "shop.").otherwise(""),
        F.col("source"),
        F.when(F.col("doc_id") % 6 == 0, ".com.mx")
        .when(F.col("doc_id") % 6 == 1, ".co.nz")
        .when(F.col("doc_id") % 6 == 2, ".k12.ca.us")
        .when(F.col("doc_id") % 6 == 3, ".example.org")
        .when(F.col("doc_id") % 6 == 4, ".com.au")
        .otherwise(".io"),
        F.when(F.col("doc_id") % 11 == 0, ":8080").otherwise(""),
        F.lit("/p/"), (F.col("doc_id") % 50).cast("string"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("?b=2&utm_source=x&gclidx=1&ref=abc&a="),
                     (F.col("doc_id") % 3).cast("string")),
        ).otherwise(""),
    ))
    out = domain_rollup(docs.withColumn("url", url), psl=load_psl(spark))
    return _round(out, {"https_frac": 6})


# Full publicsuffix.org algorithm (operators/web.registered_domain_psl
# + psl_rule_dim): wildcard rules (*.ck, *.kawasaki.jp) match one
# extra host label, exception rules (!www.ck, !city.kawasaki.jp) beat
# everything and shorten the suffix by one label, 4-label literal
# rules resolve 5-label hosts, hosts that ARE a public suffix resolve
# to themselves, and unmatched TLDs fall back to the implicit '*'
# rule. The oracle replays the algorithm rule-by-rule from the SAME
# snapshot CSV (tiny non-equi join + arg_max), not a hand-coded
# per-case table.
_PSL_WILD_HOST_SQL = """
  CASE doc_id % 9
    WHEN 0 THEN 'h' || CAST(doc_id % 5 AS VARCHAR) || '.example.ck'
    WHEN 1 THEN 'www.ck'
    WHEN 2 THEN 'a' || CAST(doc_id % 3 AS VARCHAR) || '.b.kawasaki.jp'
    WHEN 3 THEN 'city.kawasaki.jp'
    WHEN 4 THEN 's' || CAST(doc_id % 4 AS VARCHAR)
                || '.cdn.prod.atlassian-dev.net'
    WHEN 5 THEN 'cdn.prod.atlassian-dev.net'
    WHEN 6 THEN 'deep' || CAST(doc_id % 2 AS VARCHAR)
                || '.example.k12.ca.us'
    WHEN 7 THEN 'foo' || CAST(doc_id % 3 AS VARCHAR) || '.ck'
    ELSE 'plain' || CAST(doc_id % 6 AS VARCHAR) || '.example.io'
  END
"""


_PSL_WILD_ORACLE = f"""
    WITH rules0 AS (
      SELECT suffix AS rule FROM read_csv('{_PSL_CSV}', header=true)
    ), rules AS (
      SELECT CASE WHEN rule LIKE '!%' THEN substr(rule, 2)
                  WHEN rule LIKE '*.%' THEN substr(rule, 3)
                  ELSE rule END AS match_key,
             (rule LIKE '*.%') AS wild,
             CASE WHEN rule LIKE '!%' THEN 10000
                  WHEN rule LIKE '*.%'
                  THEN len(string_split(substr(rule, 3), '.')) + 1
                  ELSE len(string_split(rule, '.')) END AS prio,
             CASE WHEN rule LIKE '!%'
                  THEN len(string_split(substr(rule, 2), '.')) - 1
                  WHEN rule LIKE '*.%'
                  THEN len(string_split(substr(rule, 3), '.')) + 1
                  ELSE len(string_split(rule, '.')) END AS pub_len
      FROM rules0
    ), hosts AS (
      SELECT doc_id, {_PSL_WILD_HOST_SQL} AS host FROM documents
    ), lab AS (
      SELECT doc_id, host, string_split(host, '.') AS labels FROM hosts
    ), matches AS (
      SELECT l.doc_id, r.prio * 16 + r.pub_len AS ord, r.pub_len
      FROM lab l JOIN rules r
        ON len(l.labels) >= len(string_split(r.match_key, '.'))
            + (CASE WHEN r.wild THEN 1 ELSE 0 END)
       AND array_to_string(list_slice(l.labels,
             len(l.labels) - len(string_split(r.match_key, '.')) + 1,
             len(l.labels)), '.') = r.match_key
    ), best AS (
      SELECT doc_id, arg_max(pub_len, ord) AS pub_len
      FROM matches GROUP BY doc_id
    ), resolved AS (
      SELECT l.doc_id, l.host,
             CASE WHEN len(l.labels) > coalesce(b.pub_len, 1)
                  THEN array_to_string(list_slice(l.labels,
                        len(l.labels) - coalesce(b.pub_len, 1),
                        len(l.labels)), '.')
                  ELSE l.host END AS registered_domain
      FROM lab l LEFT JOIN best b USING (doc_id)
    )
    SELECT registered_domain,
           count(*) AS n_docs,
           count(DISTINCT host) AS n_hosts
    FROM resolved GROUP BY 1
"""


@register("psl_wildcard_resolution", oracle=_PSL_WILD_ORACLE)
def psl_wildcard_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-domain resolution under the complete PSL rule
    grammar: wildcards, exceptions, 4-label literals, suffix-only
    hosts, implicit-'*' fallback."""
    from ..operators.web import load_psl, registered_domain_psl

    docs = _t(spark, sf_dir, "documents")
    host = (
        F.when(F.col("doc_id") % 9 == 0,
               F.concat(F.lit("h"), (F.col("doc_id") % 5).cast("string"),
                        F.lit(".example.ck")))
        .when(F.col("doc_id") % 9 == 1, F.lit("www.ck"))
        .when(F.col("doc_id") % 9 == 2,
              F.concat(F.lit("a"), (F.col("doc_id") % 3).cast("string"),
                       F.lit(".b.kawasaki.jp")))
        .when(F.col("doc_id") % 9 == 3, F.lit("city.kawasaki.jp"))
        .when(F.col("doc_id") % 9 == 4,
              F.concat(F.lit("s"), (F.col("doc_id") % 4).cast("string"),
                       F.lit(".cdn.prod.atlassian-dev.net")))
        .when(F.col("doc_id") % 9 == 5, F.lit("cdn.prod.atlassian-dev.net"))
        .when(F.col("doc_id") % 9 == 6,
              F.concat(F.lit("deep"), (F.col("doc_id") % 2).cast("string"),
                       F.lit(".example.k12.ca.us")))
        .when(F.col("doc_id") % 9 == 7,
              F.concat(F.lit("foo"), (F.col("doc_id") % 3).cast("string"),
                       F.lit(".ck")))
        .otherwise(
            F.concat(F.lit("plain"), (F.col("doc_id") % 6).cast("string"),
                     F.lit(".example.io")))
    )
    resolved = registered_domain_psl(
        docs.select("doc_id", host.alias("host")), load_psl(spark))
    return resolved.groupBy("registered_domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("host").alias("n_hosts"),
    )


# ---------------------------------------------------------------------------
# Per-domain quality gate: the top 30% of each synthetic domain by
# quality score, rank-based so the cut is bit-exact at any partitioning.
# ---------------------------------------------------------------------------


@register("domain_quality_gate", oracle=_GATE_ORACLE)
def domain_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the top 30% of each domain by quality score with a
    deterministic (quality DESC, doc_id) tie-break — rank-based rather
    than interpolated-percentile so the cut reproduces bit-exactly at
    any partitioning.  (At 100 TB swap the full sort for a sampled
    threshold + filter; the rank form is the correctness oracle.)"""
    from ..functions.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0, "web")
        .when(F.col("doc_id") % 4 == 1, "code")
        .when(F.col("doc_id") % 4 == 2, "wiki")
        .otherwise("books").alias("domain"),
        (F.floor(quality_score(F.col("text")) * 1e6 + F.lit(0.5)) / 1e6)
        .alias("quality"),
    )
    w = Window.partitionBy("domain").orderBy(F.desc("quality"), "doc_id")
    wc = Window.partitionBy("domain")
    return (
        q.withColumn("rnk", F.row_number().over(w).cast("long"))
        .withColumn("__n", F.count("*").over(wc))
        .withColumn(
            "kept", F.col("rnk") <= F.ceil(0.3 * F.col("__n")).cast("long")
        )
        .drop("__n")
    )


# ---------------------------------------------------------------------------
# robots.txt tier (RFC 9309, public spec; no reference analog): parse
# a robots corpus into a rules table and evaluate crawl permission per
# URL — exact-agent group precedence over '*', longest-pattern wins,
# Allow beats Disallow on ties, '*' wildcards and '$' end anchors.
# ---------------------------------------------------------------------------


_ROBOTS_SQL = """
    robots AS (
      SELECT 'h' || CAST(k AS VARCHAR) AS host,
             'User-agent: *' || chr(10)
             || 'Disallow: /private' || chr(10)
             || 'Allow: /private/ok' || chr(10)
             || CASE WHEN k % 3 = 0 THEN
                  'User-agent: aquabot' || chr(10)
                  || 'Disallow: /tmp*' || chr(10)
                  || 'Allow: /tmp/keep$' || chr(10)
                ELSE '' END
             || CASE WHEN k % 5 = 0 THEN
                  'Disallow: /blog' || chr(10) ELSE '' END
             || CASE WHEN k % 7 = 3 THEN
                  -- rule-less named group: RFC 9309 still selects it
                  -- over '*' (allow-everything for the named agent)
                  'User-agent: aquabot' || chr(10)
                  || 'Disallow:' || chr(10) ELSE '' END
             || CASE WHEN k % 4 = 1 THEN
                  'User-agent: *' || chr(10)
                  || 'Disallow: /search' || chr(10) ELSE '' END
               AS content
      FROM (SELECT unnest(range(0, 50)) AS k)
    ), rl AS (
      SELECT host, i AS pos,
             trim(split_part(ls[i], '#', 1)) AS line
      FROM (SELECT host, string_split(content, chr(10)) AS ls
            FROM robots),
           unnest(generate_series(1, len(ls))) AS t(i)
    ), parsed AS (
      SELECT host, pos,
             lower(trim(split_part(line, ':', 1))) AS d,
             trim(substr(line, strpos(line, ':') + 1)) AS v
      FROM rl WHERE line <> '' AND strpos(line, ':') > 0
    ), blocks AS (
      SELECT host, pos, d, v,
             d = 'user-agent' AS ia,
             CASE WHEN d = 'user-agent' AND NOT coalesce(
                    lag(d = 'user-agent') OVER
                      (PARTITION BY host ORDER BY pos), FALSE)
                  THEN 1 ELSE 0 END AS nb
      FROM parsed
    ), grouped AS (
      SELECT host, pos, d, v, ia,
             sum(nb) OVER (PARTITION BY host ORDER BY pos
                           ROWS UNBOUNDED PRECEDING) AS grp
      FROM blocks
    ), agents AS (
      SELECT host, grp, lower(v) AS agent FROM grouped WHERE ia
    ), rules AS (
      -- LEFT: rule-less named groups still register agent presence
      SELECT a.host, a.agent, g.rule, g.path FROM agents a LEFT JOIN (
        SELECT host, grp, d AS rule, v AS path FROM grouped
        WHERE d IN ('allow', 'disallow') AND v <> ''
      ) g ON a.host = g.host AND a.grp = g.grp
    )
"""


_ROBOTS_RULES_ORACLE = "WITH " + _ROBOTS_SQL + """
    SELECT host, agent, rule, path FROM rules
"""


def _robots_fixture(spark):
    nl = F.lit("\n")
    k = F.col("id")
    content = F.concat(
        F.lit("User-agent: *"), nl,
        F.lit("Disallow: /private"), nl,
        F.lit("Allow: /private/ok"), nl,
        F.when(k % 3 == 0, F.concat(
            F.lit("User-agent: aquabot"), nl,
            F.lit("Disallow: /tmp*"), nl,
            F.lit("Allow: /tmp/keep$"), nl)).otherwise(F.lit("")),
        F.when(k % 5 == 0, F.concat(
            F.lit("Disallow: /blog"), nl)).otherwise(F.lit("")),
        F.when(k % 7 == 3, F.concat(
            F.lit("User-agent: aquabot"), nl,
            F.lit("Disallow:"), nl)).otherwise(F.lit("")),
        F.when(k % 4 == 1, F.concat(
            F.lit("User-agent: *"), nl,
            F.lit("Disallow: /search"), nl)).otherwise(F.lit("")),
    )
    return spark.range(50).select(
        F.concat(F.lit("h"), k.cast("string")).alias("host"),
        content.alias("content"),
    )


def _robots_rules(spark):
    """Parsed rules table with lineage truncated at the catalog-sized
    boundary (r12, guide §3.3 'materialising an intermediate truncates
    the plan'): the parse subtree (posexplode + window + self-join over
    chained string expressions) costs Catalyst ~0.5-1s PER REPLAN, and
    every noop/write replans it — five verdict queries paid that on
    both their warm and timed runs. The rules table is ~200 rows (50
    hosts); values are bit-identical so the driver hashes are
    unchanged. robots_rules_parse keeps the raw operator output (its
    OUTPUT is the parse itself)."""
    from ..operators.web import parse_robots

    return parse_robots(_robots_fixture(spark)).localCheckpoint(eager=False)


@register("robots_rules_parse", oracle=_ROBOTS_RULES_ORACLE)
def robots_rules_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 group-structure parse: consecutive User-agent lines
    open a group, its Allow/Disallow lines bind to every named agent;
    comments strip, empty Disallow drops (but the GROUP still emits an
    agent-presence row with NULL rule/path, so a rule-less named group
    beats '*' downstream), a rule block appended after an
    agent-specific group extends THAT group."""
    from ..operators.web import parse_robots

    return parse_robots(_robots_fixture(spark))


# urls + verdict chain shared with the crawl-frontier capstone; the
# chain after `urls` is also reused by the WARC robots-gated capstone
# with a documents-keyed urls CTE
_ROBOTS_URLS_CTE = """
    , urls AS (
      SELECT 'h' || CAST(o_custkey % 50 AS VARCHAR) AS host,
             CASE o_orderkey % 8
               WHEN 0 THEN '/private/doc' || CAST(o_orderkey % 20 AS VARCHAR)
               WHEN 1 THEN '/private/ok/p' || CAST(o_orderkey % 20 AS VARCHAR)
               WHEN 2 THEN '/tmp' || CAST(o_orderkey % 10 AS VARCHAR) || '/x'
               WHEN 3 THEN '/tmp/keep'
               WHEN 4 THEN '/blog/post' || CAST(o_orderkey % 30 AS VARCHAR)
               WHEN 5 THEN '/search/q' || CAST(o_orderkey % 9 AS VARCHAR)
               WHEN 6 THEN '/public/a' || CAST(o_orderkey % 40 AS VARCHAR)
               ELSE '/tmp/keepx' END AS path,
             o_orderkey AS doc_id
      FROM orders WHERE o_orderkey % 6 = 2
    )"""


_ROBOTS_CHAIN_CTES = """, exact AS (
      SELECT * FROM rules WHERE agent = 'aquabot'
    ), eff AS (
      SELECT * FROM exact
      UNION ALL
      SELECT * FROM rules r WHERE r.agent = '*'
        AND NOT EXISTS (SELECT 1 FROM exact e WHERE e.host = r.host)
    ), pats AS (
      SELECT host, rule, path, length(path) AS plen,
             CASE WHEN ends_with(esc, '$')
                  THEN replace(left(esc, length(esc) - 1), '*', '%')
                  ELSE replace(esc, '*', '%') || '%' END AS likepat
      FROM (SELECT host, rule, path,
                   replace(replace(replace(path, '\\', '\\\\'),
                                   '%', '\\%'), '_', '\\_') AS esc
            FROM eff)
    ), joined AS (
      SELECT u.host, u.path AS upath, u.doc_id, p.rule, p.path, p.plen,
             p.likepat IS NOT NULL
               AND u.path LIKE p.likepat ESCAPE '\\' AS hit
      FROM urls u LEFT JOIN pats p ON p.host = u.host
    ), ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY host, upath, doc_id
               ORDER BY hit DESC, plen DESC, rule = 'allow' DESC,
                        path ASC) AS rn
      FROM joined
    ), verdicts AS (
      SELECT host, upath AS path, doc_id,
             CASE WHEN coalesce(hit, FALSE) THEN rule = 'allow'
                  ELSE TRUE END AS allowed,
             CASE WHEN hit THEN rule END AS matched_rule,
             CASE WHEN hit THEN path END AS matched_path
      FROM ranked WHERE rn = 1
    )
"""


_ROBOTS_VERDICT_CTES = _ROBOTS_URLS_CTE + _ROBOTS_CHAIN_CTES


_ROBOTS_FILTER_ORACLE = ("WITH " + _ROBOTS_SQL + _ROBOTS_VERDICT_CTES
                         + """
    SELECT host, path, doc_id, allowed, matched_rule, matched_path
    FROM verdicts
""")


@register("robots_url_filter", oracle=_ROBOTS_FILTER_ORACLE)
def robots_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-permission verdict per URL: exact-agent group beats '*',
    longest pattern wins, Allow beats Disallow on ties, '$' anchors,
    rule-less hosts allowed."""
    from ..operators.web import parse_robots, robots_allowed

    rules = _robots_rules(spark)
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 6 == 2)
    k = F.col("o_orderkey")
    path = (
        F.when(k % 8 == 0, F.concat(F.lit("/private/doc"),
                                    (k % 20).cast("string")))
        .when(k % 8 == 1, F.concat(F.lit("/private/ok/p"),
                                   (k % 20).cast("string")))
        .when(k % 8 == 2, F.concat(F.lit("/tmp"), (k % 10).cast("string"),
                                   F.lit("/x")))
        .when(k % 8 == 3, F.lit("/tmp/keep"))
        .when(k % 8 == 4, F.concat(F.lit("/blog/post"),
                                   (k % 30).cast("string")))
        .when(k % 8 == 5, F.concat(F.lit("/search/q"),
                                   (k % 9).cast("string")))
        .when(k % 8 == 6, F.concat(F.lit("/public/a"),
                                   (k % 40).cast("string")))
        .otherwise(F.lit("/tmp/keepx"))
    )
    urls = o.select(
        F.concat(F.lit("h"), (F.col("o_custkey") % 50).cast("string"))
        .alias("host"),
        path.alias("path"),
        k.alias("doc_id"),
    )
    return robots_allowed(urls, rules, agent="aquabot")


# ---------------------------------------------------------------------------
# Host-graph PageRank (operators/graph.host_pagerank): the link-based
# quality prior. INTEGER power iteration — bigint micro-units, floor
# divisions — so every iteration is bit-equal between engines under
# any partitioning; the oracle unrolls the 5 iterations as CTEs.
# Nodes 50..59 appear only as destinations -> dangling mass exercised.
# ---------------------------------------------------------------------------

def _pr_cte_chain(iterations: int, e: str = "e", pfx: str = "",
                  init_join: str | None = None) -> str:
    """deg/nn/pr0..prN CTE text over a preceding CTE ``{e}(src, dst)``
    (shared by host_pagerank, the crawl-frontier capstone, and the
    incremental warm-start replay). ``pfx`` namespaces the CTEs so two
    chains can coexist; ``init_join`` names a prior chain's final
    rank CTE to seed pr{pfx}0 from (new nodes fall back to
    PR_UNIT)."""
    if init_join is None:
        init = f"""
      SELECT node, outdeg, CAST(1000000000 AS BIGINT) AS pr
      FROM deg{pfx}"""
    else:
        init = f"""
      SELECT d.node, d.outdeg,
             coalesce(p.pr, CAST(1000000000 AS BIGINT)) AS pr
      FROM deg{pfx} d LEFT JOIN {init_join} p USING (node)"""
    sql = f"""nodes{pfx} AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM {e} UNION ALL SELECT dst FROM {e})
    ), deg{pfx} AS (
      SELECT n.node, coalesce(o.outdeg, 0) AS outdeg
      FROM nodes{pfx} n LEFT JOIN (
        SELECT src AS node, count(*) AS outdeg FROM {e} GROUP BY 1) o
        USING (node)
    ), nn{pfx} AS (
      SELECT count(*) AS n FROM deg{pfx}
    ), pr{pfx}0 AS ({init}
    )"""
    for i in range(1, iterations + 1):
        p = f"pr{pfx}{i - 1}"
        sql += f""", pr{pfx}{i} AS (
      SELECT d.node, d.outdeg,
             150000000 + 85 * (coalesce(s.insum, 0)
                               + dg.dang // nn{pfx}.n)
               // 100 AS pr
      FROM deg{pfx} d
      LEFT JOIN (
        SELECT {e}.dst AS node, sum(p.pr // p.outdeg) AS insum
        FROM {e} JOIN {p} p ON p.node = {e}.src AND p.outdeg > 0
        GROUP BY 1) s ON s.node = d.node
      CROSS JOIN (SELECT coalesce(sum(pr), 0) AS dang
                  FROM {p} WHERE outdeg = 0) dg
      CROSS JOIN nn{pfx}
    )"""
    return sql


def _pagerank_oracle() -> str:
    return f"""
    WITH e AS (
      SELECT DISTINCT o_custkey % 50 AS src, o_orderkey % 60 AS dst
      FROM orders
    ), {_pr_cte_chain(5)}
    SELECT node, CAST(pr AS BIGINT) AS rank_units,
           CAST(pr AS BIGINT) / 1000000000.0 AS rank
    FROM pr5
"""


@register("host_pagerank", oracle=_pagerank_oracle())
def host_pagerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-iteration integer-exact PageRank over a synthesized host
    link graph (damping 0.85, dangling mass shared uniformly)."""
    from ..operators.graph import host_pagerank

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        (F.col("o_custkey") % 50).alias("src"),
        (F.col("o_orderkey") % 60).alias("dst"),
    ).distinct()
    return host_pagerank(edges, iterations=5)


# Link-graph degree profile: in/out degree, distinct peers, and
# reciprocity (mutual links) per host — the spam/seed triage columns
# next to PageRank. Reciprocity = edges whose reverse edge exists:
# one self-equi-join on the reversed key, pair mass = edge count.
_LINK_STATS_ORACLE = """
    WITH e AS (
      SELECT DISTINCT o_custkey % 50 AS src, o_orderkey % 60 AS dst
      FROM orders
    ), recip AS (
      SELECT a.src, count(*) AS mutual
      FROM e a JOIN e b ON b.src = a.dst AND b.dst = a.src
      GROUP BY 1
    ), outs AS (
      SELECT src AS node, count(*) AS out_degree,
             count(DISTINCT dst) AS out_peers
      FROM e GROUP BY 1
    ), ins AS (
      SELECT dst AS node, count(*) AS in_degree FROM e GROUP BY 1
    )
    SELECT coalesce(o.node, i.node) AS node,
           CAST(coalesce(o.out_degree, 0) AS BIGINT) AS out_degree,
           CAST(coalesce(o.out_peers, 0) AS BIGINT) AS out_peers,
           CAST(coalesce(i.in_degree, 0) AS BIGINT) AS in_degree,
           CAST(coalesce(r.mutual, 0) AS BIGINT) AS mutual_links
    FROM outs o
    FULL OUTER JOIN ins i ON i.node = o.node
    LEFT JOIN recip r ON r.src = coalesce(o.node, i.node)
"""


@register("host_link_stats", oracle=_LINK_STATS_ORACLE)
def host_link_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host degree/reciprocity profile over the synthesized link
    graph — three partial-aggregable groupBys + one reversed-edge
    equi-join (pair mass = edge count, never quadratic)."""
    o = _t(spark, sf_dir, "orders")
    e = o.select(
        (F.col("o_custkey") % 50).alias("src"),
        (F.col("o_orderkey") % 60).alias("dst"),
    ).distinct()
    recip = (
        e.alias("a")
        .join(e.alias("b"),
              (F.col("b.src") == F.col("a.dst"))
              & (F.col("b.dst") == F.col("a.src")))
        .groupBy(F.col("a.src").alias("node"))
        .agg(F.count(F.lit(1)).alias("mutual"))
    )
    outs = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree"),
        F.countDistinct("dst").alias("out_peers"))
    ins = e.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_degree"))
    return (
        outs.join(ins, "node", "full_outer")
        .join(recip, "node", "left")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).cast("long")
            .alias("out_degree"),
            F.coalesce("out_peers", F.lit(0)).cast("long")
            .alias("out_peers"),
            F.coalesce("in_degree", F.lit(0)).cast("long")
            .alias("in_degree"),
            F.coalesce("mutual", F.lit(0)).cast("long")
            .alias("mutual_links"),
        )
    )


# ---------------------------------------------------------------------------
# Crawl-frontier capstone: the web tier composed — RFC 9309 verdicts
# gate the URL corpus, host PageRank prices each host, and the
# frontier table carries per-host budgets (allowed/blocked counts,
# next allowed path). Every component is independently oracled
# (robots_url_filter, host_pagerank); this verifies the COMPOSITION.
# ---------------------------------------------------------------------------


_FRONTIER_ORACLE = (
    "WITH " + _ROBOTS_SQL + _ROBOTS_VERDICT_CTES + """
    , e AS (
      SELECT DISTINCT 'h' || CAST(o_custkey % 50 AS VARCHAR) AS src,
             'h' || CAST(o_orderkey % 50 AS VARCHAR) AS dst
      FROM orders
    ), """ + _pr_cte_chain(3) + """
    , agg AS (
      SELECT host,
             CAST(sum(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT)
               AS n_allowed,
             CAST(sum(CASE WHEN allowed THEN 0 ELSE 1 END) AS BIGINT)
               AS n_disallowed,
             min(CASE WHEN allowed THEN path END) AS next_path
      FROM verdicts GROUP BY 1
    )
    SELECT a.host, CAST(coalesce(p.pr, 0) AS BIGINT) AS rank_units,
           a.n_allowed, a.n_disallowed, a.next_path
    FROM agg a LEFT JOIN pr3 p ON p.node = a.host
""")


@register("crawl_frontier_priority", oracle=_FRONTIER_ORACLE)
def crawl_frontier_priority_q(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Per-host crawl budget: robots-gated URL counts + link-graph
    priority (3-iteration integer PageRank) + next allowed path."""
    from ..operators.graph import host_pagerank
    from ..operators.web import parse_robots, robots_allowed

    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 6 == 2)
    k = F.col("o_orderkey")
    path = (
        F.when(k % 8 == 0, F.concat(F.lit("/private/doc"),
                                    (k % 20).cast("string")))
        .when(k % 8 == 1, F.concat(F.lit("/private/ok/p"),
                                   (k % 20).cast("string")))
        .when(k % 8 == 2, F.concat(F.lit("/tmp"), (k % 10).cast("string"),
                                   F.lit("/x")))
        .when(k % 8 == 3, F.lit("/tmp/keep"))
        .when(k % 8 == 4, F.concat(F.lit("/blog/post"),
                                   (k % 30).cast("string")))
        .when(k % 8 == 5, F.concat(F.lit("/search/q"),
                                   (k % 9).cast("string")))
        .when(k % 8 == 6, F.concat(F.lit("/public/a"),
                                   (k % 40).cast("string")))
        .otherwise(F.lit("/tmp/keepx"))
    )
    urls = o.select(
        F.concat(F.lit("h"), (F.col("o_custkey") % 50).cast("string"))
        .alias("host"),
        path.alias("path"),
        k.alias("doc_id"),
    )
    verdict = robots_allowed(
        urls, _robots_rules(spark), agent="aquabot")
    full = _t(spark, sf_dir, "orders")
    edges = full.select(
        F.concat(F.lit("h"), (F.col("o_custkey") % 50).cast("string"))
        .alias("src"),
        F.concat(F.lit("h"), (F.col("o_orderkey") % 50).cast("string"))
        .alias("dst"),
    ).distinct()
    pr = host_pagerank(edges, iterations=3).select(
        F.col("node").alias("host"), "rank_units")
    agg = verdict.groupBy("host").agg(
        F.sum(F.col("allowed").cast("long")).alias("n_allowed"),
        F.sum((~F.col("allowed")).cast("long")).alias("n_disallowed"),
        F.min(F.when(F.col("allowed"), F.col("path"))).alias("next_path"),
    )
    return agg.join(pr, "host", "left").select(
        "host",
        F.coalesce("rank_units", F.lit(0)).cast("long")
        .alias("rank_units"),
        "n_allowed", "n_disallowed", "next_path")


# ---------------------------------------------------------------------------
# Provenance-aware curation capstone: robots.txt crawl permission x
# a minimal quality gate x exact-dedup canonicalization, composed in
# the standard order (provenance + quality first, dedup among
# survivors). Each component is independently oracled elsewhere
# (robots_url_filter, gopher_quality_gate/text_metrics, dedup_exact);
# this verifies the COMPOSITION.
# ---------------------------------------------------------------------------


_PROV_GATE_ORACLE = "WITH " + _ROBOTS_SQL + """
    , urls AS (
      SELECT doc_id, text,
             'h' || CAST(doc_id % 50 AS VARCHAR) AS host,
             CASE doc_id % 6
               WHEN 0 THEN '/private/p' || CAST(doc_id % 9 AS VARCHAR)
               WHEN 1 THEN '/private/ok/q' || CAST(doc_id % 9 AS VARCHAR)
               WHEN 2 THEN '/blog/b' || CAST(doc_id % 9 AS VARCHAR)
               WHEN 3 THEN '/search/s' || CAST(doc_id % 9 AS VARCHAR)
               WHEN 4 THEN '/tmp' || CAST(doc_id % 9 AS VARCHAR)
               ELSE '/page/' || CAST(doc_id % 40 AS VARCHAR) END AS path
      FROM documents
    ), exact AS (
      SELECT * FROM rules WHERE agent = 'aquabot'
    ), eff AS (
      SELECT * FROM exact
      UNION ALL
      SELECT * FROM rules r WHERE r.agent = '*'
        AND NOT EXISTS (SELECT 1 FROM exact e WHERE e.host = r.host)
    ), pats AS (
      SELECT host, rule, path, length(path) AS plen,
             CASE WHEN ends_with(esc, '$')
                  THEN replace(left(esc, length(esc) - 1), '*', '%')
                  ELSE replace(esc, '*', '%') || '%' END AS likepat
      FROM (SELECT host, rule, path,
                   replace(replace(replace(path, '\\', '\\\\'),
                                   '%', '\\%'), '_', '\\_') AS esc
            FROM eff)
    ), verdict AS (
      SELECT doc_id, allowed FROM (
        SELECT u.doc_id, coalesce(hit, FALSE) AS hitf, p.rule,
               row_number() OVER (
                 PARTITION BY u.doc_id
                 ORDER BY hit DESC, plen DESC, rule = 'allow' DESC,
                          p.path ASC) AS rn
        FROM urls u LEFT JOIN (
          SELECT host, rule, path, plen, likepat, TRUE AS pat_row
          FROM pats) p ON p.host = u.host
        CROSS JOIN LATERAL (SELECT p.pat_row IS NOT NULL
               AND u.path LIKE p.likepat ESCAPE '\\' AS hit)
      ), LATERAL (SELECT CASE WHEN hitf THEN rule = 'allow'
                              ELSE TRUE END AS allowed)
      WHERE rn = 1
    ), q AS (
      -- every 11th doc collapses to one boilerplate page: the exact-dup
      -- class web corpora are full of, so the dedup axis has real work
      SELECT doc_id,
             len(string_split(t2, ' ')) AS nw,
             (CASE WHEN list_contains(string_split(t2, ' '), 'the')
                   THEN 1 ELSE 0 END)
             + (CASE WHEN list_contains(string_split(t2, ' '), 'and')
                     THEN 1 ELSE 0 END)
             + (CASE WHEN list_contains(string_split(t2, ' '), 'of')
                     THEN 1 ELSE 0 END) AS hits,
             md5(regexp_replace(lower(t2), '\\s+', ' ', 'g')) AS fp
      FROM (SELECT doc_id,
                   CASE WHEN doc_id % 11 = 7
                        THEN 'the default page of this site and all of '
                             || 'the content is pending review the '
                             || 'webmaster of the site posted nothing '
                             || 'here yet and the page will update soon '
                             || 'with all of the new content of the '
                             || 'season'
                        ELSE text END AS t2
            FROM documents)
    ), gated AS (
      SELECT q.doc_id, v.allowed,
             q.nw >= 20 AND q.nw <= 100000 AND q.hits >= 1
               AS quality_keep,
             q.fp
      FROM q JOIN verdict v ON v.doc_id = q.doc_id
    ), canon AS (
      SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) = doc_id
               AS canonical
      FROM gated WHERE allowed AND quality_keep
    )
    SELECT g.doc_id, g.allowed, g.quality_keep,
           coalesce(c.canonical, FALSE) AS canonical,
           g.allowed AND g.quality_keep
             AND coalesce(c.canonical, FALSE) AS kept
    FROM gated g LEFT JOIN canon c ON c.doc_id = g.doc_id
"""


@register("provenance_curation_gate", oracle=_PROV_GATE_ORACLE)
def provenance_curation_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone: robots permission AND minimal quality gate AND
    exact-dedup canonical (min doc id per fingerprint AMONG gate
    survivors) -> kept."""
    from pyspark.sql import Window as W

    from ..functions.text import fingerprint, tokens
    from ..operators.web import parse_robots, robots_allowed

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    path = (
        F.when(d % 6 == 0, F.concat(F.lit("/private/p"),
                                    (d % 9).cast("string")))
        .when(d % 6 == 1, F.concat(F.lit("/private/ok/q"),
                                   (d % 9).cast("string")))
        .when(d % 6 == 2, F.concat(F.lit("/blog/b"),
                                   (d % 9).cast("string")))
        .when(d % 6 == 3, F.concat(F.lit("/search/s"),
                                   (d % 9).cast("string")))
        .when(d % 6 == 4, F.concat(F.lit("/tmp"), (d % 9).cast("string")))
        .otherwise(F.concat(F.lit("/page/"), (d % 40).cast("string")))
    )
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("h"), (d % 50).cast("string")).alias("host"),
        path.alias("path"),
    )
    rules = _robots_rules(spark)
    verdict = robots_allowed(urls, rules, agent="aquabot") \
        .select("doc_id", "allowed")
    boiler = ("the default page of this site and all of the content is "
              "pending review the webmaster of the site posted nothing "
              "here yet and the page will update soon with all of the "
              "new content of the season")
    t2 = F.when(d % 11 == 7, F.lit(boiler)).otherwise(F.col("text"))
    toks = tokens(t2)
    nw = F.size(toks)
    hits = sum(
        F.array_contains(toks, w).cast("int") for w in ("the", "and", "of"))
    gated = (
        docs.select(
            "doc_id",
            ((nw >= 20) & (nw <= 100_000) & (hits >= 1))
            .alias("quality_keep"),
            fingerprint(t2).alias("__fp"),
        )
        .join(verdict, "doc_id")
    )
    surv = gated.where(F.col("allowed") & F.col("quality_keep")) \
        .withColumn(
            "canonical",
            F.min("doc_id").over(W.partitionBy("__fp")) == F.col("doc_id"),
        ).select("doc_id", "canonical")
    return (
        gated.join(surv, "doc_id", "left")
        .select(
            "doc_id", "allowed", "quality_keep",
            F.coalesce("canonical", F.lit(False)).alias("canonical"),
            (F.col("allowed") & F.col("quality_keep")
             & F.coalesce("canonical", F.lit(False))).alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# URL canonicalization (operators/web.url_canonicalize): RFC 3986 §6.2
# syntax normalization as the crawl-frontier / dedup-key normalizer.
# Map-only codegen; the dot-segment removal is a higher-order string
# FOLD (F.aggregate <-> DuckDB list_reduce) — no UDF, no bounded-pass
# replace chains.
# ---------------------------------------------------------------------------


_URL_CANON_ORACLE = r"""
    WITH raw AS (
      SELECT c_custkey AS url_id,
             (CASE c_custkey % 3 WHEN 0 THEN 'http' WHEN 1 THEN 'HTTP'
                   ELSE 'HttpS' END)
             || '://'
             || (CASE WHEN c_custkey % 11 = 0
                      THEN 'u' || CAST(c_custkey % 3 AS VARCHAR) || '@'
                      ELSE '' END)
             || 'Host' || CAST(c_custkey % 7 AS VARCHAR) || '.Example.COM'
             || (CASE c_custkey % 5 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
                      WHEN 2 THEN ':8080' WHEN 3 THEN '' ELSE ':80' END)
             || (CASE WHEN c_custkey % 13 = 0 THEN ''
                      ELSE CASE c_custkey % 6
                           WHEN 0 THEN '/a/./b/../c'
                           WHEN 1 THEN '/x/y/z/../../w'
                           WHEN 2 THEN '/../up'
                           WHEN 3 THEN '/a//b/.'
                           WHEN 4 THEN '/dots/..'
                           ELSE '/keep/me/' END END)
             || (CASE c_custkey % 4 WHEN 0 THEN '?b=2&a=1'
                      WHEN 1 THEN '' WHEN 2 THEN '?z=9&a=1&m=3'
                      ELSE '?single=1' END)
             || (CASE WHEN c_custkey % 2 = 0 THEN '#sec2' ELSE '' END)
               AS url
      FROM customer
    ), parsed AS (
      SELECT url_id, url,
             lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
               AS scheme,
             regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1) AS auth,
             regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1)
               AS rawpath,
             regexp_extract(url, '\?([^#]*)', 1) AS query
      FROM raw
    ), comps AS (
      SELECT url_id, scheme, rawpath, query,
             regexp_extract(auth, '^([^@]*)@', 1) AS userinfo,
             lower(regexp_extract(regexp_replace(auth, '^[^@]*@', ''),
                                  '^([^:]*)', 1)) AS host,
             regexp_extract(regexp_replace(auth, '^[^@]*@', ''),
                            ':([0-9]+)$', 1) AS port
      FROM parsed
    ), norm AS (
      SELECT url_id, scheme, host, userinfo, query, rawpath,
             CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                       OR (scheme = 'https' AND port = '443')
                  THEN '' ELSE ':' || port END AS port_keep,
             list_reduce(
               string_split('/' || regexp_replace(rawpath, '^/', ''), '/'),
               (acc, x) -> CASE WHEN x = '' OR x = '.' THEN acc
                                WHEN x = '..'
                                  THEN regexp_replace(acc, '/[^/]*$', '')
                                ELSE acc || '/' || x END) AS folded,
             (regexp_matches(rawpath, '(/|/\.|/\.\.)$') OR rawpath = '')
               AS keep_slash,
             array_to_string(list_sort(string_split(query, '&')), '&')
               AS qsorted
      FROM comps
    )
    SELECT url_id, scheme, host, port_keep AS port,
           CASE WHEN folded = '' THEN '/'
                ELSE folded || CASE WHEN keep_slash THEN '/' ELSE '' END
           END AS path,
           qsorted AS query,
           scheme || '://'
           || CASE WHEN userinfo = '' THEN '' ELSE userinfo || '@' END
           || host || port_keep
           || CASE WHEN folded = '' THEN '/'
                   ELSE folded || CASE WHEN keep_slash THEN '/' ELSE '' END
              END
           || CASE WHEN qsorted = '' THEN '' ELSE '?' || qsorted END
             AS canonical_url
    FROM norm
"""


@register("url_canonicalization", oracle=_URL_CANON_ORACLE)
def url_canonicalization_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalize deterministically-messy URLs (mixed-case schemes
    and hosts, default and non-default ports, userinfo, dot-segments,
    empty segments, trailing-slash cases, unsorted queries,
    fragments)."""
    from ..operators.web import url_canonicalize

    k = F.col("c_custkey")
    url = F.concat(
        F.when(k % 3 == 0, "http").when(k % 3 == 1, "HTTP")
        .otherwise("HttpS"),
        F.lit("://"),
        F.when(k % 11 == 0,
               F.concat(F.lit("u"), (k % 3).cast("string"), F.lit("@")))
        .otherwise(""),
        F.lit("Host"), (k % 7).cast("string"), F.lit(".Example.COM"),
        F.when(k % 5 == 0, ":80").when(k % 5 == 1, ":443")
        .when(k % 5 == 2, ":8080").when(k % 5 == 3, "")
        .otherwise(":80"),
        F.when(k % 13 == 0, "").otherwise(
            F.when(k % 6 == 0, "/a/./b/../c")
            .when(k % 6 == 1, "/x/y/z/../../w")
            .when(k % 6 == 2, "/../up")
            .when(k % 6 == 3, "/a//b/.")
            .when(k % 6 == 4, "/dots/..")
            .otherwise("/keep/me/")),
        F.when(k % 4 == 0, "?b=2&a=1").when(k % 4 == 1, "")
        .when(k % 4 == 2, "?z=9&a=1&m=3").otherwise("?single=1"),
        F.when(k % 2 == 0, "#sec2").otherwise(""),
    )
    urls = _t(spark, sf_dir, "customer").select(
        k.alias("url_id"), url.alias("url"))
    out = url_canonicalize(urls, "url")
    return out.select("url_id", "scheme", "host", "port", "path",
                      "query", "canonical_url")


# ---------------------------------------------------------------------------
# Incremental PageRank (operators/graph.host_pagerank warm start): the
# change-feed maintenance story — after an edge delta, seed the power
# iteration from the previous ranks and run a SHORT refresh instead of
# a cold full count. Integer arithmetic keeps the warm trajectory
# bit-replayable; the oracle chains a 5-iteration base run and a
# 2-iteration warm run over the delta graph (new nodes seed PR_UNIT).
# ---------------------------------------------------------------------------

def _incr_pagerank_oracle() -> str:
    return f"""
    WITH e AS (
      SELECT DISTINCT o_custkey % 50 AS src, o_orderkey % 60 AS dst
      FROM orders
    ), {_pr_cte_chain(5)},
    e2 AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM e
        UNION ALL
        SELECT o_custkey % 45 + 5, o_orderkey % 71 FROM orders)
    ), {_pr_cte_chain(2, e="e2", pfx="w", init_join="pr5")}
    SELECT node, CAST(pr AS BIGINT) AS rank_units,
           CAST(pr AS BIGINT) / 1000000000.0 AS rank
    FROM prw2
"""


@register("incremental_pagerank", oracle=_incr_pagerank_oracle())
def incremental_pagerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warm-start PageRank refresh: 5 cold iterations on the base
    graph, then an edge delta (new links + 11 new nodes) absorbed
    with only 2 warm iterations."""
    from ..operators.graph import host_pagerank

    o = _t(spark, sf_dir, "orders")
    e0 = o.select(
        (F.col("o_custkey") % 50).alias("src"),
        (F.col("o_orderkey") % 60).alias("dst"),
    ).distinct()
    delta = o.select(
        (F.col("o_custkey") % 45 + 5).alias("src"),
        (F.col("o_orderkey") % 71).alias("dst"),
    )
    e1 = e0.unionByName(delta).distinct()
    base = host_pagerank(e0, iterations=5)
    return host_pagerank(
        e1, iterations=2,
        initial_ranks=base.select("node", "rank_units"))


# ---------------------------------------------------------------------------
# Canonical-URL dedup: the reason canonicalization exists — URL
# aliases (case, default ports, dot-segments, query order, fragments)
# collapse to one canonical form; keep the lowest doc_id per form.
# Composes url_canonicalize with the exact-dedup keep rule.
# ---------------------------------------------------------------------------


_CANON_DEDUP_ORACLE = r"""
    WITH raw AS (
      SELECT o_orderkey AS doc_id,
             (CASE o_orderkey % 2 WHEN 0 THEN 'http' ELSE 'HTTP' END)
             || '://' ||
             (CASE o_orderkey % 3 WHEN 0 THEN 'site' ELSE 'SITE' END)
             || CAST(o_orderkey % 40 AS VARCHAR) || '.example.com'
             || (CASE o_orderkey % 4 WHEN 0 THEN ':80' ELSE '' END)
             || '/p/' || CAST(o_orderkey % 25 AS VARCHAR)
             || (CASE o_orderkey % 5 WHEN 0 THEN '/x/../' ELSE '/' END)
             || (CASE o_orderkey % 6 WHEN 0 THEN '?b=1&a=2'
                      WHEN 1 THEN '?a=2&b=1' ELSE '' END)
             || (CASE o_orderkey % 7 WHEN 0 THEN '#frag' ELSE '' END)
               AS url
      FROM orders
    ), parsed AS (
      SELECT doc_id,
             lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
               AS scheme,
             lower(regexp_extract(
               regexp_replace(
                 regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1),
                 '^[^@]*@', ''), '^([^:]*)', 1)) AS host,
             regexp_extract(
               regexp_replace(
                 regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1),
                 '^[^@]*@', ''), ':([0-9]+)$', 1) AS port,
             regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1)
               AS rawpath,
             regexp_extract(url, '\?([^#]*)', 1) AS query
      FROM raw
    ), norm AS (
      SELECT doc_id, scheme, host,
             CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                       OR (scheme = 'https' AND port = '443')
                  THEN '' ELSE ':' || port END AS port_keep,
             list_reduce(
               string_split('/' || regexp_replace(rawpath, '^/', ''), '/'),
               (acc, x) -> CASE WHEN x = '' OR x = '.' THEN acc
                                WHEN x = '..'
                                  THEN regexp_replace(acc, '/[^/]*$', '')
                                ELSE acc || '/' || x END) AS folded,
             (regexp_matches(rawpath, '(/|/\.|/\.\.)$') OR rawpath = '')
               AS keep_slash,
             array_to_string(list_sort(string_split(query, '&')), '&')
               AS qsorted
      FROM parsed
    ), canon AS (
      SELECT doc_id,
             scheme || '://' || host || port_keep
             || CASE WHEN folded = '' THEN '/'
                     ELSE folded
                          || CASE WHEN keep_slash THEN '/' ELSE '' END
                END
             || CASE WHEN qsorted = '' THEN '' ELSE '?' || qsorted END
               AS canonical_url
      FROM norm
    )
    SELECT doc_id, canonical_url,
           (doc_id = min(doc_id) OVER (PARTITION BY canonical_url))
             AS is_canonical,
           count(*) OVER (PARTITION BY canonical_url) AS n_aliases
    FROM canon
"""


@register("canonical_url_dedup", oracle=_CANON_DEDUP_ORACLE)
def canonical_url_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alias-heavy URL corpus deduplicated on the canonical form
    (lowest doc_id kept per form)."""
    from ..operators.web import url_canonicalize

    k = F.col("o_orderkey")
    url = F.concat(
        F.when(k % 2 == 0, "http").otherwise("HTTP"), F.lit("://"),
        F.when(k % 3 == 0, "site").otherwise("SITE"),
        (k % 40).cast("string"), F.lit(".example.com"),
        F.when(k % 4 == 0, ":80").otherwise(""),
        F.lit("/p/"), (k % 25).cast("string"),
        F.when(k % 5 == 0, "/x/../").otherwise("/"),
        F.when(k % 6 == 0, "?b=1&a=2").when(k % 6 == 1, "?a=2&b=1")
        .otherwise(""),
        F.when(k % 7 == 0, "#frag").otherwise(""),
    )
    urls = _t(spark, sf_dir, "orders").select(
        k.alias("doc_id"), url.alias("url"))
    canon = url_canonicalize(urls, "url")
    w = Window.partitionBy("canonical_url")
    return canon.select(
        "doc_id", "canonical_url",
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_canonical"),
        F.count(F.lit(1)).over(w).alias("n_aliases"),
    )


# ---------------------------------------------------------------------------
# HTML main-content extraction (functions/html.py): scripts/styles/
# comments dropped with payloads, <p>-block selection, tag strip,
# entity decode, whitespace collapse — the pre-pipeline text
# extraction stage, all map-only codegen.
# ---------------------------------------------------------------------------

_HTML_CLEAN_SQL = (
    "trim(regexp_replace("
    "replace(replace(replace(replace(replace("
    "regexp_replace({src}, '<[^>]*>', ' ', 'g'),"
    " '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'),"
    " '&#39;', ''''), '&amp;', '&'),"
    " '\\s+', ' ', 'g'))"
)


_HTML_ORACLE = f"""
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
                 src="regexp_extract(s, '(?s)<title[^>]*>(.*?)</title>', 1)")}
               AS title,
             array_to_string(list_transform(
               regexp_extract_all(s, '(?s)<p[^>]*>(.*?)</p>', 1),
               b -> {_HTML_CLEAN_SQL.format(src='b')}), ' ')
               AS main_text,
             CAST(len(regexp_extract_all(s, '(?s)<p[^>]*>(.*?)</p>', 1))
                  AS INT) AS n_blocks,
             CAST(length({_HTML_CLEAN_SQL.format(src='s')}) AS BIGINT)
               AS chars_total
      FROM noiseless
    )
    SELECT doc_id, title, main_text, n_blocks, chars_total,
           CAST(length(main_text) AS BIGINT) AS chars_kept,
           {R("CASE WHEN chars_total > 0 THEN"
              " CAST(chars_total - length(main_text) AS DOUBLE)"
              " / chars_total ELSE CAST(0 AS DOUBLE) END", 6)}
             AS boilerplate_ratio
    FROM parts
"""


def _doc_html(text_col) -> Column:
    """The boilerplate-wrapped document HTML fixture (title + nav +
    script/style/comment noise + 1-2 <p> blocks + ad + footer) —
    shared by html_main_text_extract and the WARC crawl capstone, and
    mirrored verbatim by their oracles' raw CTEs."""
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


@register("html_main_text_extract", oracle=_HTML_ORACLE)
def html_main_text_extract_q(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Boilerplate-wrapped documents (nav/script/style/comments/ads/
    footer + entities) reduced to title + paragraph text."""
    from ..functions.html import with_main_text

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _doc_html(F.col("text")).alias("html"))
    out = with_main_text(docs, "html")
    return _round(
        out.select("doc_id", "title", "main_text", "n_blocks",
                   "chars_total", "chars_kept", "boilerplate_ratio"),
        {"boilerplate_ratio": 6})


# ---------------------------------------------------------------------------
# WARC web-archive ingest (functions/warc.py + sources/warc.py): the
# web tier's real on-ramp. Fixtures are synthesized through the REAL
# writer (one gzip member per record, ISO 28500 framing) and parsed by
# the REAL reader; oracles recompute expected features closed-form
# from doc_id/text without touching bytes (the GIF policy). The
# capstone chains ingest -> HTML main-content extraction -> URL
# canonicalization: crawl archive to training corpus in one plan.
# ---------------------------------------------------------------------------

def _warc_fixture(spark: SparkSession, sf_dir: str,
                  html_payload: bool) -> DataFrame:
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
    if html_payload:
        payload = _doc_html(F.col("text"))
        uri = F.concat(F.lit("HTTPS://Example.org/a/./docs/../doc/"),
                       d.cast("string"), F.lit("?z=1&a=2"))
        ctype = F.lit("text/html; charset=UTF-8")
    else:
        payload = F.col("text")
        uri = F.concat(
            F.lit("https://example.org/doc/"), d.cast("string"),
            F.when(d % 4 == 0, F.lit("?utm=1&b=2&a=1")).otherwise(""))
        ctype = F.when(d % 5 == 0, F.lit("text/plain")) \
            .otherwise(F.lit("text/html"))
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


_WARC_INGEST_ORACLE = """
    SELECT doc_id,
           doc_id % 40 AS file_id,
           'https://example.org/doc/' || CAST(doc_id AS VARCHAR)
             || CASE WHEN doc_id % 4 = 0 THEN '?utm=1&b=2&a=1'
                     ELSE '' END AS target_uri,
           strftime(TIMESTAMP '2024-01-01 00:00:00'
                    + (doc_id % 86400) * INTERVAL 1 SECOND,
                    '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
           CAST(CASE WHEN doc_id % 9 = 0 THEN 404 ELSE 200 END AS INT)
             AS http_status,
           CASE WHEN doc_id % 5 = 0 THEN 'text/plain'
                ELSE 'text/html' END AS http_content_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS payload_len,
           md5(text) AS payload_md5
    FROM documents
"""


@register("warc_record_ingest", oracle=_WARC_INGEST_ORACLE)
def warc_record_ingest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round trip through genuine .warc.gz bytes: synthesized archive
    files (response + request + metadata records, one gzip member
    each) -> distributed record parse -> response-record projection.
    Every WARC header and the HTTP payload slice must survive."""
    from ..sources.warc import warc_records

    files = _warc_fixture(spark, sf_dir, html_payload=False)
    recs = warc_records(files)
    out = recs.where(F.col("ok") & (F.col("warc_type") == "response"))
    return out.select(
        F.regexp_extract("record_id", r"^urn:example:(\d+)$", 1)
        .cast("long").alias("doc_id"),
        "file_id", "target_uri", "warc_date", "http_status",
        "http_content_type",
        F.length("payload").cast("long").alias("payload_len"),
        F.md5("payload").alias("payload_md5"))


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

    files = _warc_fixture(spark, sf_dir, html_payload=True)
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


# ---------------------------------------------------------------------------
# Sitemap ingestion (operators/web.parse_sitemaps): sitemaps.org
# urlset XML -> per-URL rows with lastmod/changefreq/priority, ranked
# into a per-host fetch order (priority desc, loc asc). Map-only +
# one explode; the crawl-frontier feeder next to robots.txt.
# ---------------------------------------------------------------------------


_SITEMAP_ORACLE = """
    WITH hosts AS (
      SELECT 'h' || CAST(s_suppkey AS VARCHAR) AS host, s_suppkey AS hk
      FROM supplier
    ), xml AS (
      SELECT host,
             '<?xml version="1.0"?><urlset>'
             || array_to_string(list_transform(
                  generate_series(0, 9), k ->
                  '<url><loc>https://' || host || '.example.com/p/'
                  || CAST(k AS VARCHAR) || '</loc>'
                  || (CASE WHEN (hk + k) % 3 != 0
                           THEN '<lastmod>2024-01-'
                                || lpad(CAST((hk + k) % 28 + 1
                                             AS VARCHAR), 2, '0')
                                || '</lastmod>' ELSE '' END)
                  || (CASE WHEN (hk + k) % 4 = 0
                           THEN '<changefreq>daily</changefreq>'
                           ELSE '' END)
                  || (CASE WHEN (hk + k) % 5 != 2
                           THEN '<priority>0.'
                                || CAST((hk + k) % 9 + 1 AS VARCHAR)
                                || '</priority>' ELSE '' END)
                  || '</url>'), '')
             || '</urlset>' AS content
      FROM hosts
    ), blocks AS (
      SELECT host, unnest(regexp_extract_all(content,
               '(?s)<url>(.*?)</url>', 1)) AS b
      FROM xml
    ), parsed AS (
      SELECT host,
             regexp_extract(b, '<loc>(.*?)</loc>', 1) AS loc,
             CASE WHEN regexp_extract(b, '<lastmod>(.*?)</lastmod>', 1)
                       != ''
                  THEN CAST(regexp_extract(b,
                         '<lastmod>(.*?)</lastmod>', 1) AS DATE)
             END AS lastmod,
             CASE WHEN regexp_extract(b,
                         '<changefreq>(.*?)</changefreq>', 1) != ''
                  THEN regexp_extract(b,
                         '<changefreq>(.*?)</changefreq>', 1)
             END AS changefreq,
             CASE WHEN regexp_extract(b,
                         '<priority>(.*?)</priority>', 1) != ''
                  THEN CAST(regexp_extract(b,
                         '<priority>(.*?)</priority>', 1) AS DOUBLE)
             END AS priority
      FROM blocks
    )
    SELECT host, loc, lastmod, changefreq, priority,
           CAST(row_number() OVER (
             PARTITION BY host
             ORDER BY coalesce(priority, CAST(0.5 AS DOUBLE)) DESC,
                      loc ASC) AS BIGINT) AS fetch_rank
    FROM parsed WHERE loc != ''
"""


@register("sitemap_url_ingest", oracle=_SITEMAP_ORACLE)
def sitemap_url_ingest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized per-host sitemaps (optional lastmod/changefreq/
    priority fields) parsed and ranked into a fetch order (absent
    priority defaults to the sitemaps.org 0.5)."""
    from ..operators.web import parse_sitemaps

    hk = F.col("s_suppkey")
    host = F.concat(F.lit("h"), hk.cast("string"))
    entry = lambda k: F.concat(  # noqa: E731
        F.lit("<url><loc>https://"), host, F.lit(".example.com/p/"),
        k.cast("string"), F.lit("</loc>"),
        F.when((hk + k) % 3 != 0,
               F.concat(F.lit("<lastmod>2024-01-"),
                        F.lpad(((hk + k) % 28 + 1).cast("string"),
                               2, "0"),
                        F.lit("</lastmod>"))).otherwise(""),
        F.when((hk + k) % 4 == 0,
               F.lit("<changefreq>daily</changefreq>")).otherwise(""),
        F.when((hk + k) % 5 != 2,
               F.concat(F.lit("<priority>0."),
                        ((hk + k) % 9 + 1).cast("string"),
                        F.lit("</priority>"))).otherwise(""),
        F.lit("</url>"),
    )
    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset>'),
        F.array_join(
            F.transform(F.sequence(F.lit(0), F.lit(9)),
                        lambda k: entry(k)), ""),
        F.lit("</urlset>"),
    )
    sm = _t(spark, sf_dir, "supplier").select(
        host.alias("host"), xml.alias("content"))
    parsed = parse_sitemaps(sm)
    w = Window.partitionBy("host").orderBy(
        F.desc(F.coalesce("priority", F.lit(0.5))), F.asc("loc"))
    return parsed.select(
        "host", "loc", "lastmod", "changefreq", "priority",
        F.row_number().over(w).cast("long").alias("fetch_rank"))


# ---------------------------------------------------------------------------
# Robots-gated crawl-to-corpus capstone: the FULL archive pipeline in
# one plan — WARC ingest -> HTML main-content extraction -> RFC 3986
# canonicalization -> RFC 9309 robots verdicts over the shared 50-host
# robots fixture. The oracle reuses the robots chain verbatim with a
# documents-keyed urls CTE plus the HTML parts chain.
# ---------------------------------------------------------------------------


_WARC_GATED_URLS = """
    , urls AS (
      SELECT 'h' || CAST(doc_id % 50 AS VARCHAR) AS host,
             CASE doc_id % 8
               WHEN 0 THEN '/private/doc' || CAST(doc_id % 20 AS VARCHAR)
               WHEN 1 THEN '/private/ok/p' || CAST(doc_id % 20 AS VARCHAR)
               WHEN 2 THEN '/tmp' || CAST(doc_id % 10 AS VARCHAR) || '/x'
               WHEN 3 THEN '/tmp/keep'
               WHEN 4 THEN '/blog/post' || CAST(doc_id % 30 AS VARCHAR)
               WHEN 5 THEN '/search/q' || CAST(doc_id % 9 AS VARCHAR)
               WHEN 6 THEN '/public/a' || CAST(doc_id % 40 AS VARCHAR)
               ELSE '/tmp/keepx' END AS path,
             doc_id
      FROM documents
    )"""


_WARC_GATED_ORACLE = ("WITH " + _ROBOTS_SQL + _WARC_GATED_URLS
                      + _ROBOTS_CHAIN_CTES + f"""
    , raw AS (
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
             CAST(length(array_to_string(list_transform(
               regexp_extract_all(s, '(?s)<p[^>]*>(.*?)</p>', 1),
               b -> {_HTML_CLEAN_SQL.format(src='b')}), ' '))
               AS BIGINT) AS chars_kept
      FROM noiseless
    )
    SELECT v.doc_id, v.host, v.path, v.allowed, v.matched_rule,
           v.matched_path, p.title, p.chars_kept
    FROM verdicts v JOIN parts p USING (doc_id)
""")


@register("warc_robots_gated_corpus", oracle=_WARC_GATED_ORACLE)
def warc_robots_gated_corpus_q(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Archive bytes to crawl-permitted corpus rows: .warc.gz ingest,
    main-text extraction, canonical host/path, RFC 9309 verdicts
    (exact-agent beats '*', longest match, Allow on ties, '$'
    anchors) — every stage the declarative composition of the
    already-oracled parts."""
    from ..functions.html import with_main_text
    from ..operators.web import parse_robots, robots_allowed, \
        url_canonicalize
    from ..sources.warc import synthesize_warc_files, warc_records

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    path = (
        F.when(d % 8 == 0, F.concat(F.lit("/private/doc"),
                                    (d % 20).cast("string")))
        .when(d % 8 == 1, F.concat(F.lit("/private/ok/p"),
                                   (d % 20).cast("string")))
        .when(d % 8 == 2, F.concat(F.lit("/tmp"), (d % 10).cast("string"),
                                   F.lit("/x")))
        .when(d % 8 == 3, F.lit("/tmp/keep"))
        .when(d % 8 == 4, F.concat(F.lit("/blog/post"),
                                   (d % 30).cast("string")))
        .when(d % 8 == 5, F.concat(F.lit("/search/q"),
                                   (d % 9).cast("string")))
        .when(d % 8 == 6, F.concat(F.lit("/public/a"),
                                   (d % 40).cast("string")))
        .otherwise(F.lit("/tmp/keepx")))
    uri = F.concat(F.lit("HTTPS://H"), (d % 50).cast("string"), path)
    date = F.date_format(
        F.to_timestamp(F.lit("2024-01-01 00:00:00"))
        + F.make_dt_interval(secs=(d % 86400).cast("double")),
        "yyyy-MM-dd'T'HH:mm:ss'Z'")
    recs_in = docs.select(
        (d % 25).alias("file_id"), d.alias("seq"),
        F.lit("response").alias("warc_type"),
        F.concat(F.lit("urn:example:"), d.cast("string"))
        .alias("record_id"),
        uri.alias("target_uri"), date.alias("warc_date"),
        F.lit(200).alias("http_status"),
        F.lit("text/html").alias("http_content_type"),
        _doc_html(F.col("text")).alias("payload"))
    files = synthesize_warc_files(recs_in, order_col="seq")
    pages = warc_records(files).where(
        F.col("ok") & (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
    ).select(
        F.regexp_extract("record_id", r"^urn:example:(\d+)$", 1)
        .cast("long").alias("doc_id"),
        F.col("target_uri").alias("url"),
        F.col("payload").cast("string").alias("html"))
    text = with_main_text(pages, "html")
    canon = url_canonicalize(
        text.select("doc_id", "url", "title", "chars_kept"), "url")
    rules = _robots_rules(spark)
    verdicts = robots_allowed(
        canon.select("host", "path", "doc_id", "title", "chars_kept"),
        rules, agent="aquabot")
    return verdicts.select(
        "doc_id", "host", "path", "allowed", "matched_rule",
        "matched_path", "title", "chars_kept")
