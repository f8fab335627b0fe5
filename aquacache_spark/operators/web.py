"""RFC 3986 URL canonicalization.

Codegen'd string expressions — split/regexp/array ops and one
higher-order fold, no UDFs — with every rule mirrored 1:1 in the
DuckDB oracle of the web query.

Not part of the AquaCache surface: the module holds only the operator
of perfbench's ``warc_crawl_corpus`` probe (``queries/web.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
