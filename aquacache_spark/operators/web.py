"""URL canonicalization, registered-domain resolution, robots.txt and
sitemap parsing.

Codegen'd string expressions — split/regexp/array ops, no UDFs — with
every rule mirrored 1:1 in the DuckDB oracles of the web queries;
registered domains come from the small embedded multi-label suffix set
or, via ``registered_domain_psl``/``load_psl``, from the full
publicsuffix.org algorithm against the broadcast snapshot fixture.

Not part of the AquaCache surface: reached only from
``queries/web.py`` — perfbench's ``warc_crawl_corpus`` probe and the
web-tier queries a later change still has to cut.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

MULTI_SUFFIXES = (
    "co.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "com.br", "gc.ca", "on.ca", "qc.ca",
)
TRACKING_PREFIXES = ("utm_",)
TRACKING_NAMES = ("fbclid", "gclid", "ref")

PSL_SNAPSHOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))),
    "fixtures", "public_suffix_snapshot.csv",
)


def parse_url(url: Column) -> dict[str, Column]:
    """-> dict of host, registered_domain, path, query_norm, url_norm,
    is_https column expressions."""
    u = F.lower(F.trim(url))
    is_https = u.startswith("https://")
    rest = F.regexp_replace(u, r"^[a-z][a-z0-9+.-]*://", "")
    rest = F.regexp_replace(rest, r"^www\.", "")
    hostport = F.split(rest, "[/?]", 2).getItem(0)
    # split host/port explicitly: ANY :<digits> leaves the host (so it
    # never leaks into label splitting / registered_domain); only
    # non-default ports survive into the canonical URL
    host = F.regexp_replace(hostport, r":\d+$", "")
    port = F.regexp_extract(hostport, r":(\d+)$", 1)
    port_norm = F.when(
        port.isin("", "80", "443"), F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))
    after_host = F.substring(rest, F.length(hostport) + 1, 1 << 20)
    path = F.split(after_host, r"\?", 2).getItem(0)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    raw_query = F.when(
        after_host.contains("?"),
        F.substring_index(after_host, "?", -1),
    ).otherwise(F.lit(""))
    params = F.filter(
        F.split(raw_query, "&"),
        lambda p: (p != "")
        & ~F.exists(
            F.array(*[F.lit(t) for t in TRACKING_PREFIXES]),
            lambda t: p.startswith(t),
        )
        # exact-name matches only: 'refresh=1' is not 'ref'
        & ~F.substring_index(p, "=", 1).isin(*TRACKING_NAMES),
    )
    query_norm = F.array_join(F.array_sort(params), "&")
    labels = F.split(host, r"\.")
    n = F.size(labels)
    # try_element_at: single-label hosts (localhost) have no -2 index
    tail2 = F.concat_ws(
        ".", F.try_element_at(labels, F.lit(-2)),
        F.try_element_at(labels, F.lit(-1)))
    is_multi = tail2.isin(*MULTI_SUFFIXES) & (n >= 3)
    registered = F.when(
        is_multi,
        F.concat_ws(".", F.try_element_at(labels, F.lit(-3)), tail2),
    ).when(n >= 2, tail2).otherwise(host)
    url_norm = F.concat(
        host, port_norm, path,
        F.when(query_norm == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), query_norm)),
    )
    return {
        "host": host,
        "registered_domain": registered,
        "path": path,
        "query_norm": query_norm,
        "url_norm": url_norm,
        "is_https": is_https,
    }


def with_parsed_url(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Append the parse_url columns — pure map-side."""
    parts = parse_url(F.col(url_col))
    return df.withColumns(parts)


def load_psl(spark, path: str | None = None) -> DataFrame:
    """The public-suffix snapshot as a dim table: one ``suffix``
    column holding RAW publicsuffix.org rules — literal (``co.uk``,
    up to ~5 labels), wildcard (``*.ck``), and exception (``!www.ck``)
    forms all supported. Genuinely tiny and static (~10k rows even for
    the full publicsuffix.org list) — a legitimate broadcast, unlike
    data-cardinality frames."""
    return spark.read.option("header", "true").csv(path or PSL_SNAPSHOT)


# A rule's precedence / public-suffix length packed into one int so a
# single greatest() resolves "exception beats all, else most labels":
# ord = prio * 16 + pub_len, prio = 10000 for exceptions else the
# rule's label count (wildcard '*' counts as a label, per the PSL
# algorithm step 'the prevailing rule is the one with most labels').
_PSL_ORD_BASE = 16


def psl_rules(psl: DataFrame) -> dict[int, list[tuple]]:
    """Driver-side parse + pivot of the raw rule table into per-length
    match dims: {match_len: [(match_key, lit_ord, wild_ord), ...]}.

    ``match_key`` is the literal label tail to equality-join against
    (wildcards contribute their base — ``*.ck`` -> ``ck``; exceptions
    their body — ``!www.ck`` -> ``www.ck``); ``lit_ord``/``wild_ord``
    pack the best (priority, public-suffix-length) of the literal-or-
    exception / wildcard rules on that key. Wildcards stay a separate
    slot because they additionally require the host to have one MORE
    label than the key (the ``*`` must consume a real label).

    The collect is catalog-class, not data-cardinality: the rule table
    is broadcast-sized by construction (~10k rows for the full PSL),
    and every downstream broadcast join ships it through the driver
    anyway — pivoting here keeps the executor plan exchange-free."""
    by_key: dict[tuple[str, int], list] = {}
    for r in psl.collect():
        rule = r["suffix"]
        if rule.startswith("!"):
            key = rule[1:]
            k = key.count(".") + 1
            prio, pub, wild = 10000, k - 1, False
        elif rule.startswith("*."):
            key = rule[2:]
            k = key.count(".") + 1
            prio, pub, wild = k + 1, k + 1, True
        else:
            key = rule
            k = key.count(".") + 1
            prio, pub, wild = k, k, False
        if pub >= _PSL_ORD_BASE:
            # a >=16-label public suffix would corrupt both the packed
            # priority and the `best % 16` pub-length extraction; real
            # PSL rules max ~5 labels, so a violation means a malformed
            # snapshot — fail loudly instead of resolving wrong domains
            raise ValueError(
                f"PSL rule {rule!r} has public-suffix length {pub} >= "
                f"{_PSL_ORD_BASE}; raise _PSL_ORD_BASE to pack it")
        ordv = prio * _PSL_ORD_BASE + pub
        slot = by_key.setdefault((key, k), [None, None])
        i = 1 if wild else 0
        if slot[i] is None or ordv > slot[i]:
            slot[i] = ordv
    out: dict[int, list[tuple]] = {}
    for (key, k), (lit, wildv) in by_key.items():
        out.setdefault(k, []).append((key, lit, wildv))
    return out


def registered_domain_psl(
    df: DataFrame,
    psl: DataFrame,
    host_col: str = "host",
    out_col: str = "registered_domain",
) -> DataFrame:
    """Re-resolve the registered domain with the FULL publicsuffix.org
    algorithm against the broadcast rule table: literal rules of any
    label count, ``*.``-wildcards (match one extra host label), and
    ``!``-exceptions (beat everything; public suffix is the rule minus
    its leftmost label). Longest matching rule wins; no match falls
    back to the implicit ``*`` rule (public suffix = last label).

    Plan shape: one hash probe per distinct rule length, all against a
    SINGLE shared broadcast dim keyed on (key, rule-length) — the
    per-length joins reference the same build subtree, so Spark
    materializes ONE BroadcastExchange and the rest are
    ReusedExchange (one-local-relation-broadcast fixed cost instead of
    one per length; each costs a driver round trip, which dominated
    the bench at small SF). Probes stay O(1) per row per length —
    map-side only, no shuffle, no UDF, whole-stage codegen'd. The TLD
    pre-prune gates each multi-label probe on an InSet test of the
    host's last label, so common TLDs (com/org/...) never build the
    4- and 5-label tail strings (CASE WHEN short-circuits in codegen)
    and null-key probes fast-path. Hosts that ARE a public suffix
    resolve to themselves (the pipeline-friendly stand-in for the
    PSL's 'no registered domain')."""
    # stage the label split ONCE: tail(k) appears in every per-length
    # join condition, and re-splitting the host in each would repeat
    # the regex k times per row (the HOF/staged-column lesson)
    df = df.withColumn("__psl_labels", F.split(F.col(host_col), r"\."))
    labels = F.col("__psl_labels")
    n = F.size(labels)

    def tail(k: int) -> Column:
        return F.when(
            n >= k,
            F.concat_ws(".", *[
                F.try_element_at(labels, F.lit(-i))
                for i in range(k, 0, -1)
            ]),
        )

    rules = psl_rules(psl)
    lens = sorted(rules)
    if not lens:  # empty rule table: only the implicit '*' rule
        reg0 = F.when(
            n >= 2, F.concat_ws(".", F.slice(labels, n - 1, 2))
        ).otherwise(F.col(host_col))
        return df.withColumn(out_col, reg0).drop("__psl_labels")
    spark = df.sparkSession
    # one dim for ALL rule lengths, keyed on the rule key alone: a
    # k-label tail string can only equal a k-label key (labels cannot
    # contain dots), so the per-length probes need no length column —
    # and because every probe's build subtree is then IDENTICAL, Spark
    # materializes the broadcast once and reuses the exchange
    all_rules = sorted(
        (key, lit, wild)
        for k in lens for key, lit, wild in rules[k]
    )
    d = spark.createDataFrame(
        all_rules,
        schema="__psl_key string, __psl_lit int, __psl_wild int",
    )
    bd = F.broadcast(d)
    tagged = df.withColumn(
        "__psl_tld", F.try_element_at(labels, F.lit(-1)))
    tld = F.col("__psl_tld")
    cands: list[Column] = []
    for k in lens:
        key = tail(k)
        if k >= 2:
            tlds_k = sorted({r[0].rsplit(".", 1)[-1] for r in rules[k]})
            key = F.when(tld.isin(tlds_k), key)
        tagged = (
            tagged.join(bd, key == F.col("__psl_key"), "left")
            .withColumnsRenamed({"__psl_lit": f"__lit{k}",
                                 "__psl_wild": f"__wild{k}"})
            .drop("__psl_key")
        )
        cands.append(F.col(f"__lit{k}"))
        # the '*' must consume a real host label
        cands.append(F.when(n >= k + 1, F.col(f"__wild{k}")))
    best = F.greatest(*cands) if len(cands) > 1 else cands[0]
    pub = F.when(best.isNotNull(), best % _PSL_ORD_BASE).otherwise(F.lit(1))
    reg = F.when(
        n > pub, F.concat_ws(".", F.slice(labels, n - pub, pub + 1))
    ).otherwise(F.col(host_col))
    drop = [c for k in lens for c in (f"__lit{k}", f"__wild{k}")]
    return tagged.withColumn(out_col, reg).drop(
        "__psl_labels", "__psl_tld", *drop)


def domain_rollup(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    id_col: str = "doc_id",
    psl: DataFrame | None = None,
) -> DataFrame:
    """Per-registered-domain curation statistics: doc count, distinct
    hosts, canonical-URL duplicate count (same url_norm appearing
    more than once), token mass, https share. One shuffle keyed on the
    domain (plus one distinct on url_norm — both partial-aggregable).
    With ``psl``, the registered domain resolves against the broadcast
    public-suffix table instead of the embedded set."""
    from ..functions.text import tokens

    p = with_parsed_url(df, url_col)
    if psl is not None:
        p = registered_domain_psl(p.drop("registered_domain"), psl)
    base = p.select(
        id_col, "registered_domain", "host", "url_norm", "is_https",
        F.size(tokens(F.lower(F.col(text_col)))).cast("long")
        .alias("__ntok"),
    )
    per_url = base.groupBy("registered_domain", "url_norm").agg(
        F.count(F.lit(1)).alias("__n")
    )
    url_dups = per_url.groupBy("registered_domain").agg(
        F.sum(F.col("__n") - 1).alias("dup_url_docs"),
        F.count(F.lit(1)).alias("n_urls"),
    )
    stats = base.groupBy("registered_domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("host").alias("n_hosts"),
        F.sum("__ntok").alias("total_tokens"),
        F.sum(F.when(F.col("is_https"), 1).otherwise(0)).alias("n_https"),
    )
    return stats.join(url_dups, "registered_domain").select(
        "registered_domain", "n_docs", "n_hosts", "n_urls",
        "dup_url_docs", "total_tokens",
        (F.col("n_https") / F.col("n_docs")).alias("https_frac"),
    )


# ---------------------------------------------------------------------------
# robots.txt tier (RFC 9309): parse a robots corpus into a rules table
# and evaluate crawl permission per URL — the provenance-compliance
# gate a responsible web-scale training pipeline runs next to the
# quality/dedup gates. Public spec only; no reference analog (the
# reference is a hydrometric store).
# ---------------------------------------------------------------------------

def parse_robots(
    robots: DataFrame,
    host_col: str = "host",
    text_col: str = "content",
    max_bytes: int | None = 512_000,
) -> DataFrame:
    """(host, robots.txt text) -> one row per (host, agent, rule,
    path) — the RFC 9309 group structure flattened.

    ``max_bytes`` is the spec's parse limit (RFC 9309 §2.5: crawlers
    MUST process at least 500 KiB and MAY ignore content beyond it):
    the file TAIL past the limit is dropped before line splitting —
    the faithful truncation, and the guard that bounds per-host rule
    mass against adversarial multi-megabyte robots files (the rules
    table joins against every URL of its host, so rule count is the
    per-URL work multiplier). Measured in CHARACTERS (exact for the
    ASCII files robots.txt overwhelmingly are; a character
    approximation of the octet limit otherwise). ``None`` disables
    the cap.

    Grouping is the spec's: consecutive ``User-agent`` lines open a
    group; the group's Allow/Disallow lines bind to EVERY agent named
    in its header run. Re-expressed set-wise: lines get positions
    (posexplode), a group id is the running count of header runs (an
    agent line whose predecessor is not an agent line), and agents
    join rules within (host, group). Comments (#) strip; empty-valued
    Disallow lines drop (an empty Disallow is 'no restriction').

    Shuffle shape: one window + one self-join keyed on (host, group) —
    robots files are small but NUMEROUS, so everything stays
    partitioned by host; nothing collects or broadcasts the corpus.
    """
    text = F.col(text_col)
    if max_bytes is not None:
        text = F.substring(text, 1, max_bytes)
    lines = robots.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(text, "\n"))
        .alias("pos", "__raw"),
    ).withColumn(
        "__line", F.trim(F.substring_index(F.col("__raw"), "#", 1))
    ).where(F.col("__line") != "")
    directive = F.lower(F.trim(F.substring_index(F.col("__line"), ":", 1)))
    value = F.trim(F.expr("substring(__line, instr(__line, ':') + 1)"))
    # a line without ':' carries no directive (RFC: invalid lines are
    # ignored) — without this filter a bare 'Disallow' word would
    # parse as both directive AND value
    parsed = lines.where(F.expr("instr(__line, ':')") > 0).select(
        "host", "pos", directive.alias("__d"), value.alias("__v"),
    )
    is_agent = F.col("__d") == "user-agent"
    w = Window.partitionBy("host").orderBy("pos")
    parsed = parsed.withColumn("__is_agent", is_agent).withColumn(
        "__new_block",
        (F.col("__is_agent")
         & ~F.coalesce(F.lag("__is_agent").over(w), F.lit(False)))
        .cast("int"),
    ).withColumn(
        "__grp",
        F.sum("__new_block").over(
            w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    agents = parsed.where(F.col("__is_agent")).select(
        "host", F.col("__grp").alias("grp"),
        F.lower(F.col("__v")).alias("agent"),
    )
    rules = parsed.where(
        F.col("__d").isin("allow", "disallow") & (F.col("__v") != "")
    ).select(
        "host", F.col("__grp").alias("grp"),
        F.col("__d").alias("rule"), F.col("__v").alias("path"),
    )
    # LEFT join: a named group with no effective rules ('User-agent:
    # aquabot' + empty 'Disallow:') still registers agent PRESENCE as
    # (host, agent, NULL, NULL) — RFC 9309 says the matched named
    # group (allow-everything here) is used and '*' ignored, so
    # robots_allowed must see the group even when it binds no rules.
    return rules.join(agents, ["host", "grp"], "right").select(
        "host", "agent", "rule", "path")


def robots_allowed(
    urls: DataFrame,
    rules: DataFrame,
    agent: str = "aquabot",
    host_col: str = "host",
    path_col: str = "path",
) -> DataFrame:
    """Crawl-permission verdict per URL against a parsed rules table
    (RFC 9309 matching): the applicable group is the named agent's if
    the host has one, else ``*``; among matching rules the LONGEST
    path pattern wins, Allow beating Disallow on ties; no matching
    rule (or no rules at all) = allowed.

    Patterns support the spec's ``*`` wildcard and ``$`` end anchor,
    compiled to LIKE (``%`` wildcard; a trailing ``$`` drops the
    implicit suffix wildcard) with ``%``/``_`` escaped — identical
    string surgery on both engines, no regex dialects to reconcile.

    Shuffle shape: equi-joins on (host[, first-path-char]) — robots
    rules are data-cardinality at web scale, never broadcast — and one
    window per URL for the longest-match pick. The FIRST-CHAR bucket
    is the hot-host guard: a pattern whose first character after '/'
    is literal can only prefix-match URLs sharing that character
    (lossless — a matching URL starts with the rule's first two
    chars), so a pathological host carrying the RFC-capped maximum of
    rules costs each of its URLs only the same-first-char slice plus
    the wildcard-leading catch-alls, not the full rule list. (Full
    first-SEGMENT equality would NOT be lossless: '/bomb1'
    prefix-matches '/bomb10/x'.)
    """
    exact = rules.where(F.col("agent") == agent.lower())
    star = rules.where(F.col("agent") == "*").join(
        exact.select("host").distinct(), "host", "left_anti")
    eff = exact.unionByName(star).withColumn(
        "__esc",
        F.replace(
            F.replace(
                F.replace(F.col("path"), F.lit("\\"), F.lit("\\\\")),
                F.lit("%"), F.lit("\\%")),
            F.lit("_"), F.lit("\\_")),
    )
    like_pat = F.when(
        F.col("__esc").endswith("$"),
        F.expr("replace(left(__esc, length(__esc) - 1), '*', '%')"),
    ).otherwise(
        F.concat(F.replace(F.col("__esc"), F.lit("*"), F.lit("%")),
                 F.lit("%")))
    first = F.substring(F.col("path"), 2, 1)
    eff = (eff.withColumn("__like", like_pat)
           .withColumn("__len", F.length("path"))
           .withColumn(
               "__pb",
               F.when(
                   F.col("path").startswith("/")
                   & (F.length("path") >= 2)
                   & ~first.isin("*", "$"),
                   first,
               ))
           .drop("__esc"))
    bucketed = eff.where(F.col("__pb").isNotNull())
    catchall = eff.where(F.col("__pb").isNull()).drop("__pb")
    passthru = [c for c in urls.columns if c not in (host_col, path_col)]
    # synthetic per-row id: the verdict restore join and the
    # longest-match window key on __rid alone, so NULL passthru values
    # can never orphan a row (a name-based equi-join back would
    # silently fail-open on them) and exact-duplicate URL rows each
    # keep their own verdict. localCheckpoint materializes the ids
    # ONCE — monotonically_increasing_id is only stable across the
    # three references below if the frame is computed a single time —
    # and, unlike persist(), a lost block fails loudly instead of
    # silently recomputing fresh ids, and the blocks are released by
    # the ContextCleaner when callers drop the returned frame (a
    # persist here could never be unpersisted safely: the function
    # returns lazily, so the cache would accumulate across calls).
    u = urls.select(
        F.col(host_col).alias("host"), F.col(path_col).alias("__upath"),
        *passthru,
    ).withColumn("__rid", F.monotonically_increasing_id()) \
        .localCheckpoint(eager=True)
    ub = F.substring(F.col("__upath"), 2, 1)
    u1 = u.withColumn("__ub", ub)
    cand = (
        u1.join(bucketed.withColumnRenamed("host", "__rh"),
                (F.col("host") == F.col("__rh"))
                & (F.col("__ub") == F.col("__pb")), "inner")
        .drop("__rh", "__pb", "__ub")
        .unionByName(u.join(catchall, "host", "inner"))
    )
    j = cand.withColumn(
        "__hit", F.expr("__upath LIKE __like ESCAPE '\\\\'"))
    w = Window.partitionBy("__rid").orderBy(
        F.desc("__hit"), F.desc("__len"),
        F.desc(F.col("rule") == "allow"), F.asc("path"))
    win = (
        j.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
    )
    # restore rule-less URLs (no candidate rows at all): allowed, no
    # matched rule
    win = u.join(win.select("__rid", "rule", "path", "__hit"),
                 "__rid", "left")
    allowed = (~F.coalesce(F.col("__hit"), F.lit(False))
               | (F.col("rule") == "allow"))
    return win.select(
        "host", F.col("__upath").alias(path_col),
        *[c for c in urls.columns if c not in (host_col, path_col)],
        allowed.alias("allowed"),
        F.when(F.col("__hit"), F.col("rule")).alias("matched_rule"),
        F.when(F.col("__hit"), F.col("path")).alias("matched_path"),
    )


def url_canonicalize(df: DataFrame, url_col: str = "url") -> DataFrame:
    """RFC 3986-style URL canonicalization (the crawl-frontier /
    dedup-key normalizer, §6.2 syntax-based normalization):

    - scheme and host lowercased; fragment stripped;
    - default ports dropped (http:80, https:443), others kept;
    - path dot-segments resolved (``/a/./b/../c`` -> ``/a/c``) with a
      string-accumulator FOLD over the split segments — one
      ``F.aggregate`` higher-order expression, no UDF, mirrored by
      DuckDB ``list_reduce``; empty segments collapse (``//`` -> ``/``,
      the usual crawler strictness trade-off, documented divergence
      from pure RFC); trailing-slash distinction preserved (paths
      ending ``/``, ``/.`` or ``/..`` keep a trailing ``/``);
      empty path -> ``/``;
    - query parameters sorted lexicographically (stable canonical
      order for dedup keys); empty query dropped.

    Map-only codegen — linear over a 100 TB URL column, no shuffle
    (the spread below is a no-op at real split counts).
    Output: input columns + scheme/host/port/path/query/canonical_url.
    """
    from ._scan import spread_scan

    # ~10 regex extractions + an interpreted dot-segment fold per row
    # run in the SCAN stage; a single-row-group parquet reads as one
    # task and serializes them on one core (r12, guide §2.5) — spread
    # when under-split, exactly the hashing tier's spread_scan
    df = spread_scan(df, url_col)
    u = F.col(url_col)
    # r12 staging (guide §7.2, same discipline as the GEV fit): the
    # previous single-projection form re-inlined the authority /
    # rawpath extractions up to 8x each inside the assembled
    # canonical expression, and the higher-order dot-segment fold
    # excludes the projection from whole-stage codegen, so every
    # inlined copy of every regex ran interpreted per row. Naming the
    # parse steps evaluates each regex once per row (CollapseProject
    # leaves the stages alone: each alias is non-cheap and
    # multiply-referenced); identical string semantics, so the output
    # — and the mirrored oracle — are bit-identical.
    keep = list(df.columns)
    d = df.withColumns({
        "__u_scheme": F.lower(
            F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1)),
        "__u_auth": F.regexp_extract(u, r"^[^:/?#]+://([^/?#]*)", 1),
        "__u_rawpath": F.regexp_extract(
            u, r"^[^:/?#]+://[^/?#]*([^?#]*)", 1),
        "__u_query": F.regexp_extract(u, r"\?([^#]*)", 1),
    })
    auth = F.col("__u_auth")
    d = d.withColumns({
        "__u_userinfo": F.regexp_extract(auth, r"^([^@]*)@", 1),
        "__u_hostport": F.regexp_replace(auth, r"^[^@]*@", ""),
    })
    hostport = F.col("__u_hostport")
    d = d.withColumns({
        "__u_host": F.lower(F.regexp_extract(hostport, r"^([^:]*)", 1)),
        "__u_port": F.regexp_extract(hostport, r":([0-9]+)$", 1),
    })
    scheme, rawpath = F.col("__u_scheme"), F.col("__u_rawpath")
    # dot-segment fold: acc starts '' (the split of a '/'-led path
    # yields a leading '' element, which the CASE ignores — DuckDB's
    # list_reduce seeds from that same element, keeping parity)
    segs = F.split(F.concat(F.lit("/"), F.regexp_replace(rawpath, r"^/", "")),
                   "/")
    d = d.withColumns({
        "__u_folded": F.aggregate(
            segs, F.lit(""),
            lambda acc, x: F.when((x == "") | (x == "."), acc)
            .when(x == "..", F.regexp_replace(acc, r"/[^/]*$", ""))
            .otherwise(F.concat(acc, F.lit("/"), x))),
        "__u_qsorted": F.array_join(
            F.sort_array(F.split(F.col("__u_query"), "&")), "&"),
    })
    port, folded = F.col("__u_port"), F.col("__u_folded")
    trailing = rawpath.rlike(r"(/|/\.|/\.\.)$") | (rawpath == "")
    d = d.withColumns({
        "__u_portkeep": F.when(
            (port == "") | ((scheme == "http") & (port == "80"))
            | ((scheme == "https") & (port == "443")), F.lit("")
        ).otherwise(F.concat(F.lit(":"), port)),
        "__u_path": F.when(folded == "", F.lit("/")).otherwise(
            F.concat(folded,
                     F.when(trailing, F.lit("/")).otherwise(F.lit("")))),
    })
    qsorted, userinfo = F.col("__u_qsorted"), F.col("__u_userinfo")
    qpart = F.when(qsorted == "", F.lit("")).otherwise(
        F.concat(F.lit("?"), qsorted))
    upart = F.when(userinfo == "", F.lit("")).otherwise(
        F.concat(userinfo, F.lit("@")))
    canon = F.concat(scheme, F.lit("://"), upart, F.col("__u_host"),
                     F.col("__u_portkeep"), F.col("__u_path"), qpart)
    return d.select(
        *keep,
        scheme.alias("scheme"), F.col("__u_host").alias("host"),
        F.col("__u_portkeep").alias("port"),
        F.col("__u_path").alias("path"),
        qsorted.alias("query"), canon.alias("canonical_url"))


def parse_sitemaps(
    df: DataFrame, host_col: str = "host", xml_col: str = "content",
) -> DataFrame:
    """Sitemap XML (sitemaps.org urlset) -> one row per <url> entry:
    (host, loc, lastmod date|NULL, changefreq|NULL, priority double|
    NULL). Regex block extraction (the SWOB-ML approach: the format is
    machine-generated and rigidly shaped; no XML lib in the hot path),
    map-only + one explode — linear over any number of sitemap files.
    Entries missing <loc> are dropped; missing optional fields are
    NULL."""
    blocks = F.regexp_extract_all(
        F.col(xml_col), F.lit(r"(?s)<url>(.*?)</url>"), F.lit(1))
    b = F.col("__b")
    loc = F.regexp_extract(b, r"<loc>(.*?)</loc>", 1)
    lastmod = F.regexp_extract(b, r"<lastmod>(.*?)</lastmod>", 1)
    changefreq = F.regexp_extract(b, r"<changefreq>(.*?)</changefreq>", 1)
    priority = F.regexp_extract(b, r"<priority>(.*?)</priority>", 1)
    return (
        df.select(F.col(host_col).alias("host"),
                  F.explode(blocks).alias("__b"))
        .select(
            "host",
            loc.alias("loc"),
            F.when(lastmod != "", lastmod.cast("date")).alias("lastmod"),
            F.when(changefreq != "", changefreq).alias("changefreq"),
            F.when(priority != "", priority.cast("double"))
            .alias("priority"),
        )
        .where(F.col("loc") != "")
    )
