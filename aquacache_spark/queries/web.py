"""Text quality gates, sessionization and link-graph queries.

The module holds one web-crawl-tier query, ``warc_crawl_corpus``:
perfbench's batch probe, named in ``perfbench/batch_analytics.py``. It
stays until a benchmark change retargets the probe;
tests/test_import_boundary.py pins it.
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
