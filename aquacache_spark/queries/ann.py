"""Ranking, trend and nearest-neighbour queries: as-of joins,
Mann-Kendall family, nearest-station search.

The module holds one embedding-search-tier query,
``embedding_cosine_topk``: perfbench's batch probe, named in
``perfbench/batch_analytics.py``. It stays until a benchmark change
retargets the probe; tests/test_import_boundary.py pins it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._common import R, _round, _t, register


# ---------------------------------------------------------------------------
# §2.4 as-of join with tolerance, 1:1 mutual-nearest
# (inst/patches/patch_53.R:1216-1256)
# ---------------------------------------------------------------------------

_ASOF_ORACLE = """
    WITH l AS (
      SELECT event_id AS lid, user_id, CAST(ts AS TIMESTAMP) AS lts, value AS lv
      FROM events WHERE event_type = 'click'
    ), r AS (
      SELECT event_id AS rid, user_id, CAST(ts AS TIMESTAMP) AS rts, value AS rv
      FROM events WHERE event_type = 'view'
    ), cand AS (
      SELECT l.user_id, l.lid, l.lts, l.lv, r.rid, r.rv,
             abs(epoch_us(l.lts) - epoch_us(r.rts)) AS d
      FROM l JOIN r ON l.user_id = r.user_id
       AND abs(epoch_us(l.lts) - epoch_us(r.rts)) <= 600 * 1000000
    ), ranked AS (
      SELECT *,
        row_number() OVER (PARTITION BY user_id, lid ORDER BY d, rid) AS ar,
        row_number() OVER (PARTITION BY user_id, rid ORDER BY d, lid) AS mr
      FROM cand
    ), pairs AS (
      SELECT user_id, lid, rid, rv FROM ranked WHERE ar = 1 AND mr = 1
    )
    SELECT l.lid AS event_id, l.user_id, l.lts AS ts, l.lv AS value,
           p.rid AS match_event_id, p.rv AS right_value
    FROM l LEFT JOIN pairs p ON l.user_id = p.user_id AND l.lid = p.lid
"""


@register("asof_join_1to1", oracle=_ASOF_ORACLE)
def asof_join_1to1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(
        clicks, views, keys=["user_id"], left_ts="ts", right_ts="ts",
        left_id="event_id", right_id="event_id", tolerance_seconds=600,
        one_to_one=True, right_cols=["value"],
    )
    return out.select("event_id", "user_id", "ts", "value",
                      "match_event_id", "right_value")


# ---------------------------------------------------------------------------
# §2.7 top-k per group (ORDER BY … LIMIT patterns, R/adjust_functions.R:551-560)
# ---------------------------------------------------------------------------

_TOPK_ORACLE = """
    SELECT o_orderpriority, o_orderkey, o_totalprice, rk
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders
    ) WHERE rk <= 3
"""


@register("topk_per_group", oracle=_TOPK_ORACLE)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rk")
    )


# ---------------------------------------------------------------------------
# Similarity search: exact brute-force cosine top-k over embeddings
# ---------------------------------------------------------------------------

_COSINE_TOPK_ORACLE = f"""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings
    ), s AS (
      SELECT query_id, neighbor_id,
             list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
               AS cosine
      FROM q, c WHERE query_id <> neighbor_id
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY floor(cosine * 1000000000.0 + 0.5) DESC,
                                            neighbor_id) AS rank
      FROM s
    )
    SELECT query_id, neighbor_id, {R('cosine', 6)} AS cosine, rank
    FROM r WHERE rank <= 5
"""


@register("embedding_cosine_topk", oracle=_COSINE_TOPK_ORACLE)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    out = cosine_topk(emb, emb.where(F.col("vec_id") < 10), k=5)
    return _round(out, {"cosine": 6})


# ---------------------------------------------------------------------------
# §2.4 nearest-station spatial search (R/imputeMissing.R:546-548,896):
# ST_DWithin radius filter + ST_Distance ordering, re-expressed as a
# haversine expression over broadcast target stations. Locations are
# synthesized deterministically from keys (the driver tables carry no
# lat/lon); the same arithmetic runs on both engines.
# ---------------------------------------------------------------------------

def _latlon_sql(key: str) -> tuple[str, str]:
    lat = f"(({key}) * 7919 % 18000) / 100.0 - 90.0"
    lon = f"(({key}) * 104729 % 36000) / 100.0 - 180.0"
    return lat, lon


_SLAT, _SLON = _latlon_sql("s_suppkey")
_CLAT, _CLON = _latlon_sql("c_custkey")

_HAVERSINE_SQL = """
    2 * 6371.0088 * asin(sqrt(
      sin(radians(({lat2}) - ({lat1})) / 2) * sin(radians(({lat2}) - ({lat1})) / 2)
      + cos(radians({lat1})) * cos(radians({lat2}))
        * sin(radians(({lon2}) - ({lon1})) / 2) * sin(radians(({lon2}) - ({lon1})) / 2)
    ))
"""

_NEAREST_ORACLE = f"""
    WITH stations AS (
      SELECT s_suppkey AS station_id, {_SLAT} AS lat, {_SLON} AS lon
      FROM supplier
    ), targets AS (
      SELECT c_custkey AS target_id, {_CLAT} AS lat, {_CLON} AS lon
      FROM customer WHERE c_custkey <= 20
    ), scored AS (
      -- dist quantized to 1e-6 km at computation: sin/cos/asin differ
      -- in last ulps between JVM Math and libm, so every downstream
      -- comparison (radius, rank, 1e-3 rounding) uses the quantum
      SELECT t.target_id, s.station_id,
             floor(({_HAVERSINE_SQL.format(lat1='t.lat', lon1='t.lon',
                                           lat2='s.lat', lon2='s.lon')})
                   * 1000000 + 0.5) / 1000000 AS dist_km
      FROM targets t, stations s
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY target_id
                                   ORDER BY dist_km, station_id) AS rank
      FROM scored WHERE dist_km <= 3000.0
    )
    SELECT target_id, station_id, {R('dist_km', 3)} AS dist_km, rank
    FROM ranked WHERE rank <= 3
"""


@register("nearest_station_search", oracle=_NEAREST_ORACLE)
def nearest_station_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 stations within 3000 km of each target, by haversine.

    The target set is catalog-sized → broadcast; the station scan is
    map-only (no shuffle of the big side), so the plan is a single pass
    over stations + a per-target top-k — the 100 TB shape."""
    from pyspark.sql import Window

    def latlon(key):
        return (
            (key * 7919 % 18000) / 100.0 - 90.0,
            (key * 104729 % 36000) / 100.0 - 180.0,
        )

    sup = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    slat, slon = latlon(F.col("s_suppkey"))
    clat, clon = latlon(F.col("c_custkey"))
    stations = sup.select(
        F.col("s_suppkey").alias("station_id"),
        slat.alias("s_lat"), slon.alias("s_lon"),
    )
    targets = cust.where(F.col("c_custkey") <= 20).select(
        F.col("c_custkey").alias("target_id"),
        clat.alias("t_lat"), clon.alias("t_lon"),
    )

    def hav2(x):
        s = F.sin(F.radians(x) / 2)
        return s * s

    dist = (
        2 * 6371.0088 * F.asin(F.sqrt(
            hav2(F.col("s_lat") - F.col("t_lat"))
            + F.cos(F.radians("t_lat")) * F.cos(F.radians("s_lat"))
            * hav2(F.col("s_lon") - F.col("t_lon"))
        ))
    )
    w = Window.partitionBy("target_id").orderBy("dist_km", "station_id")
    out = (
        stations.crossJoin(F.broadcast(targets))
        # 1e-6 km quantization — see the oracle note
        .withColumn("dist_km", F.floor(dist * 1e6 + F.lit(0.5)) / 1e6)
        .where(F.col("dist_km") <= 3000.0)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
        .select("target_id", "station_id", "dist_km", "rank")
    )
    return _round(out, {"dist_km": 3})


# ---------------------------------------------------------------------------
# Tolerant-alignment expression compound (§2.4 'compound member
# alignment, tolerant' composed with §2.10): clicks anchor a spine,
# views align 1:1 mutually-nearest within 10 min, and the compound
# expression projects over the aligned aliases (NULL where unmatched).
# ---------------------------------------------------------------------------

_COMPOUND_ASOF_ORACLE = f"""
    WITH l AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS datetime, value AS a,
             epoch_us(CAST(ts AS TIMESTAMP)) AS lus
      FROM events WHERE event_type = 'click'
    ), r AS (
      SELECT CAST(ts AS TIMESTAMP) AS rts, value AS b,
             epoch_us(CAST(ts AS TIMESTAMP)) AS rus
      FROM events WHERE event_type = 'view'
    ), cand AS (
      SELECT l.datetime, l.lus, r.rus, r.b, abs(l.lus - r.rus) AS d
      FROM l JOIN r ON abs(l.lus - r.rus) <= 600 * 1000000
    ), ranked AS (
      SELECT *,
        row_number() OVER (PARTITION BY lus ORDER BY d, rus) AS ar,
        row_number() OVER (PARTITION BY rus ORDER BY d, lus) AS mr
      FROM cand
    ), pairs AS (
      SELECT lus, b FROM ranked WHERE ar = 1 AND mr = 1
    )
    SELECT l.datetime, {R('l.a + 0.1 * p.b', 6)} AS value,
           {R('l.a', 6)} AS a, {R('p.b', 6)} AS b
    FROM l LEFT JOIN pairs p USING (lus)
"""


@register("compound_asof_expression", oracle=_COMPOUND_ASOF_ORACLE)
def compound_asof_expression(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.compound import Member, expression_compound_asof

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("ts").alias("datetime"), "value"
    )
    views = ev.where(F.col("event_type") == "view").select(
        F.col("ts").alias("datetime"), "value"
    )
    out = expression_compound_asof(
        [Member("a", clicks, 1), Member("b", views, 2)],
        "a + 0.1 * b", tolerance_seconds=600,
    )
    return _round(out, {"value": 6, "a": 6, "b": 6})


# ---------------------------------------------------------------------------
# Mann-Kendall trend + Sen's slope (operators/trend.mann_kendall): the
# standard hydrologic trend test over per-(priority, year) daily
# maxima. Pairwise self-join keyed per series-year — pair mass bounded
# at (days/year choose 2) per group by construction. Integer sign/tie
# arithmetic; Var/Z closed form and the interpolated slope median are
# the only float math.
# ---------------------------------------------------------------------------

_MK_ORACLE = """
    WITH daily AS (
      SELECT o_orderpriority AS series,
             CAST(year(o_orderdate) AS INT) AS yr,
             o_orderdate AS d,
             max(o_totalprice) AS v
      FROM orders GROUP BY 1, 2, 3
    ), q AS (
      SELECT series, yr,
             datediff('day', DATE '1970-01-01', d) AS t,
             CAST(floor(CAST(v AS DOUBLE) * 1000000
                        + CAST(0.5 AS DOUBLE)) AS BIGINT) AS vq
      FROM daily
    ), pairs AS (
      SELECT a.series, a.yr,
             CASE WHEN b.vq > a.vq THEN 1
                  WHEN b.vq < a.vq THEN -1 ELSE 0 END AS sgn,
             CAST(b.vq - a.vq AS DOUBLE) / CAST(1e6 AS DOUBLE)
               / (b.t - a.t) AS slope
      FROM q a JOIN q b ON b.series = a.series AND b.yr = a.yr
                        AND b.t > a.t
    ), st AS (
      SELECT series, yr, CAST(sum(sgn) AS BIGINT) AS s_stat,
             quantile_cont(slope, 0.5) AS sen_slope
      FROM pairs GROUP BY 1, 2
    ), nd AS (
      SELECT series, yr, count(*) AS n FROM q GROUP BY 1, 2
    ), ties AS (
      SELECT series, yr,
             sum(c * (c - 1) * (2 * c + 5)) AS tiesum
      FROM (SELECT series, yr, vq, count(*) AS c
            FROM q GROUP BY 1, 2, 3)
      GROUP BY 1, 2
    ), fin AS (
      SELECT st.series, st.yr, nd.n, st.s_stat, st.sen_slope,
             CAST(nd.n * (nd.n - 1) * (2 * nd.n + 5) - ties.tiesum
                  AS DOUBLE) / CAST(18 AS DOUBLE) AS var_s
      FROM st JOIN nd USING (series, yr) JOIN ties USING (series, yr)
      WHERE nd.n >= 2
    )
    SELECT series, yr, CAST(n AS BIGINT) AS n_days, s_stat,
           {vr} AS var_s,
           {zz} AS z,
           {sen} AS sen_slope
    FROM fin
""".format(
    vr=R("var_s", 6),
    zz=R("""CASE WHEN var_s > 0 THEN
              CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                   WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                   ELSE CAST(0 AS DOUBLE) END
            END""", 6),
    sen=R("sen_slope", 6),
)


@register("mann_kendall_trend", oracle=_MK_ORACLE)
def mann_kendall_trend_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(order priority, year) Mann-Kendall S/Var/Z + Sen slope
    over daily maximum order totals.

    r12 optimization: routed through the kernel twin
    (operators/trend.mann_kendall_blas) — the JVM path self-joins the
    daily frame into the full (days choose 2) pair mass and ships it
    through 22 exchanges (3.5s at sf0.1; plans/r12/
    mann_kendall_trend_before.txt), the twin shuffles n rows per group
    and builds the triangle in-kernel (0.93s, same oracle; bit-parity
    pinned by tests/test_blas_kernels.py::
    test_mann_kendall_twin_bit_parity). Guide §2.3/§4.2: shuffle
    keys-and-values once, do the quadratic work vectorized per task."""
    from ..operators.trend import mann_kendall_blas as mann_kendall

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("series"),
        F.year("o_orderdate").cast("int").alias("yr"),
        F.col("o_orderdate").alias("date"),
    ).agg(F.max("o_totalprice").alias("value"))
    out = mann_kendall(daily, ["series", "yr"], "date", "value") \
        .select("series", "yr", "n_days", "s_stat", "var_s", "z",
                "sen_slope")
    return _round(out, {"var_s": 6, "z": 6, "sen_slope": 6})


# ---------------------------------------------------------------------------
# Seasonal Mann-Kendall (Hirsch 1982): per-(priority, month) MK over
# monthly means across years, combined S' = sum S_m and Var' = sum
# Var_m — both summed as EXACT integers (S, 18*Var) so the combination
# is aggregation-order independent.
# ---------------------------------------------------------------------------

_SMK_ORACLE = """
    WITH monthly AS (
      SELECT o_orderpriority AS series,
             CAST(month(o_orderdate) AS INT) AS mon,
             CAST(year(o_orderdate) AS INT) AS yr,
             max(o_totalprice) AS v
      FROM orders GROUP BY 1, 2, 3
    ), q AS (
      SELECT series, mon, yr,
             CAST(floor(CAST(v AS DOUBLE) * 1000000
                        + CAST(0.5 AS DOUBLE)) AS BIGINT) AS vq
      FROM monthly
    ), pairs AS (
      SELECT a.series, a.mon,
             CASE WHEN b.vq > a.vq THEN 1
                  WHEN b.vq < a.vq THEN -1 ELSE 0 END AS sgn
      FROM q a JOIN q b ON b.series = a.series AND b.mon = a.mon
                        AND b.yr > a.yr
    ), st AS (
      SELECT series, mon, CAST(sum(sgn) AS BIGINT) AS s FROM pairs
      GROUP BY 1, 2
    ), nd AS (
      SELECT series, mon, count(*) AS n FROM q GROUP BY 1, 2
    ), ties AS (
      SELECT series, mon, sum(c * (c - 1) * (2 * c + 5)) AS tiesum
      FROM (SELECT series, mon, vq, count(*) AS c FROM q
            GROUP BY 1, 2, 3)
      GROUP BY 1, 2
    ), per AS (
      SELECT st.series, st.mon, st.s,
             nd.n * (nd.n - 1) * (2 * nd.n + 5) - ties.tiesum AS v18
      FROM st JOIN nd USING (series, mon) JOIN ties USING (series, mon)
      WHERE nd.n >= 2
    ), tot AS (
      SELECT series, CAST(count(*) AS BIGINT) AS n_seasons,
             CAST(sum(s) AS BIGINT) AS s_total,
             CAST(sum(v18) AS BIGINT) AS v18
      FROM per GROUP BY 1
    )
    SELECT series, n_seasons, s_total,
           {vt} AS var_total,
           {zz} AS z
    FROM tot
""".format(
    vt=R("CAST(v18 AS DOUBLE) / CAST(18 AS DOUBLE)", 6),
    zz=R("""CASE WHEN v18 > 0 THEN
              CASE WHEN s_total > 0 THEN (s_total - 1)
                     / sqrt(CAST(v18 AS DOUBLE) / CAST(18 AS DOUBLE))
                   WHEN s_total < 0 THEN (s_total + 1)
                     / sqrt(CAST(v18 AS DOUBLE) / CAST(18 AS DOUBLE))
                   ELSE CAST(0 AS DOUBLE) END
            END""", 6),
)


@register("seasonal_mann_kendall", oracle=_SMK_ORACLE)
def seasonal_mann_kendall_q(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Hirsch seasonal MK per order priority: monthly maxima compared
    within the same month across years."""
    from ..operators.trend import seasonal_mann_kendall

    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.col("o_orderpriority").alias("series"),
        F.month("o_orderdate").cast("int").alias("mon"),
        F.year("o_orderdate").cast("int").alias("yr"),
    ).agg(F.max("o_totalprice").alias("value"))
    monthly = monthly.withColumn(
        "date", F.make_date(F.col("yr"), F.lit(1), F.lit(1)))
    out = seasonal_mann_kendall(
        monthly, ["series"], "mon", "date", "value")
    return _round(out, {"var_total": 6, "z": 6})


# ---------------------------------------------------------------------------
# TFPW Mann-Kendall (Yue & Pilon 2002 trend-free prewhitening): serial
# correlation inflates MK's variance, so (1) estimate Sen's slope,
# (2) detrend, (3) estimate lag-1 autocorrelation r1 of the detrended
# series EXACTLY (centi-quantized values; the n^2-scaled covariance
# identity keeps every term an integer — Spark sums them as
# DECIMAL(38,0), DuckDB as HUGEINT), (4) prewhiten y_t = x'_t -
# r1*x'_{t-1}, (5) re-add the trend and run MK on the blend. The r1
# float appears only once per series-year, so the downstream 1e-6
# quantization inside MK keeps the whole chain hash-exact.
# ---------------------------------------------------------------------------

_TFPW_ORACLE = """
    WITH daily AS (
      SELECT o_orderpriority AS series,
             CAST(year(o_orderdate) AS INT) AS yr,
             o_orderdate AS d, max(o_totalprice) AS v
      FROM orders WHERE year(o_orderdate) IN (1993, 1994)
      GROUP BY 1, 2, 3
    ), q AS (
      SELECT series, yr,
             datediff('day', DATE '1970-01-01', CAST(d AS DATE)) AS t,
             CAST(floor(CAST(v AS DOUBLE) * 1000000
                        + CAST(0.5 AS DOUBLE)) AS BIGINT) AS vq
      FROM daily
    ), beta AS (
      SELECT a.series AS series, a.yr AS yr,
             quantile_cont(CAST(b.vq - a.vq AS DOUBLE)
                           / CAST(1e6 AS DOUBLE) / (b.t - a.t), 0.5)
               AS beta
      FROM q a JOIN q b ON b.series = a.series AND b.yr = a.yr
                        AND b.t > a.t
      GROUP BY 1, 2
    ), detr AS (
      SELECT q.series, q.yr, q.t,
             CAST(floor((q.vq / CAST(1e6 AS DOUBLE)
                         - bb.beta * q.t) * 100
                        + CAST(0.5 AS DOUBLE)) AS BIGINT) AS xq,
             bb.beta
      FROM q JOIN beta bb USING (series, yr)
    ), stats AS (
      SELECT series, yr, count(*) AS n, sum(xq) AS s
      FROM detr GROUP BY 1, 2
    ), lagged AS (
      SELECT d.series, d.yr, d.t, d.xq, d.beta,
             lag(d.xq) OVER (PARTITION BY d.series, d.yr
                             ORDER BY d.t) AS pxq
      FROM detr d
    ), r1 AS (
      SELECT l.series, l.yr,
             sum(CASE WHEN l.pxq IS NOT NULL THEN
                   CAST(st.n * l.pxq - st.s AS HUGEINT)
                   * CAST(st.n * l.xq - st.s AS HUGEINT) END) AS num,
             sum(CAST(st.n * l.xq - st.s AS HUGEINT)
                 * CAST(st.n * l.xq - st.s AS HUGEINT)) AS den
      FROM lagged l JOIN stats st USING (series, yr)
      GROUP BY 1, 2
    ), blended AS (
      SELECT l.series, l.yr, l.t,
             CAST(floor((CASE WHEN l.pxq IS NULL
                              THEN l.xq / CAST(100 AS DOUBLE)
                              ELSE l.xq / CAST(100 AS DOUBLE)
                                   - (CAST(r.num AS DOUBLE) / r.den)
                                     * (l.pxq / CAST(100 AS DOUBLE))
                         END + l.beta * l.t) * 1000000
                        + CAST(0.5 AS DOUBLE)) AS BIGINT) AS zq,
             CAST(r.num AS DOUBLE) / r.den AS r1,
             l.beta
      FROM lagged l JOIN r1 r USING (series, yr)
    ), pairs AS (
      SELECT a.series AS series, a.yr AS yr,
             CASE WHEN b.zq > a.zq THEN 1
                  WHEN b.zq < a.zq THEN -1 ELSE 0 END AS sgn
      FROM blended a JOIN blended b
        ON b.series = a.series AND b.yr = a.yr AND b.t > a.t
    ), st2 AS (
      SELECT series, yr, CAST(sum(sgn) AS BIGINT) AS s_stat
      FROM pairs GROUP BY 1, 2
    ), nd AS (
      SELECT series, yr, count(*) AS n FROM blended GROUP BY 1, 2
    ), ties AS (
      SELECT series, yr, sum(c * (c - 1) * (2 * c + 5)) AS tiesum
      FROM (SELECT series, yr, zq, count(*) AS c FROM blended
            GROUP BY 1, 2, 3)
      GROUP BY 1, 2
    ), fin AS (
      SELECT s2.series, s2.yr, nd.n, s2.s_stat,
             CAST(nd.n * (nd.n - 1) * (2 * nd.n + 5) - ties.tiesum
                  AS DOUBLE) / CAST(18 AS DOUBLE) AS var_s,
             (SELECT max(r1) FROM blended b
              WHERE b.series = s2.series AND b.yr = s2.yr) AS r1,
             (SELECT max(beta) FROM blended b
              WHERE b.series = s2.series AND b.yr = s2.yr) AS beta
      FROM st2 s2 JOIN nd USING (series, yr) JOIN ties USING (series, yr)
      WHERE nd.n >= 2
    )
    SELECT series, yr, CAST(n AS BIGINT) AS n_days, s_stat,
           {bt} AS beta, {rr} AS r1, {vr} AS var_s, {zz} AS z
    FROM fin
""".format(
    bt=R("beta", 6), rr=R("r1", 6), vr=R("var_s", 6),
    zz=R("""CASE WHEN var_s > 0 THEN
              CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                   WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                   ELSE CAST(0 AS DOUBLE) END
            END""", 6),
)


@register("tfpw_mann_kendall", oracle=_TFPW_ORACLE)
def tfpw_mann_kendall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend-free prewhitened MK per (priority, 1993/1994): Sen
    detrend, exact integer lag-1 autocorrelation, prewhiten, re-trend,
    MK on the blend."""
    o = _t(spark, sf_dir, "orders").where(
        F.year("o_orderdate").isin(1993, 1994))
    daily = o.groupBy(
        F.col("o_orderpriority").alias("series"),
        F.year("o_orderdate").cast("int").alias("yr"),
        F.col("o_orderdate").alias("d"),
    ).agg(F.max("o_totalprice").alias("v"))
    t = F.datediff(F.col("d").cast("date"),
                   F.lit("1970-01-01").cast("date"))
    vq = F.floor(F.col("v").cast("double") * 1e6 + F.lit(0.5)) \
        .cast("long")
    q = daily.select("series", "yr", t.alias("t"), vq.alias("vq"))
    a = q.select("series", "yr", F.col("t").alias("ta"),
                 F.col("vq").alias("va"))
    b = q.select("series", "yr", F.col("t").alias("tb"),
                 F.col("vq").alias("vb"))
    slope = ((F.col("vb") - F.col("va")).cast("double") / F.lit(1e6)
             / (F.col("tb") - F.col("ta")))
    beta = (a.join(b, ["series", "yr"])
            .where(F.col("tb") > F.col("ta"))
            .withColumn("__sl", slope)
            .groupBy("series", "yr")
            .agg(F.expr("percentile(__sl, 0.5)").alias("beta")))
    detr = q.join(beta, ["series", "yr"]).select(
        "series", "yr", "t", "beta",
        F.floor((F.col("vq") / F.lit(1e6) - F.col("beta") * F.col("t"))
                * 100 + F.lit(0.5)).cast("long").alias("xq"))
    stats = detr.groupBy("series", "yr").agg(
        F.count(F.lit(1)).alias("n"), F.sum("xq").alias("s"))
    wlag = Window.partitionBy("series", "yr").orderBy("t")
    lagged = detr.withColumn("pxq", F.lag("xq").over(wlag)) \
        .join(stats, ["series", "yr"])
    dec = "decimal(38,0)"
    cur = (F.col("n") * F.col("xq") - F.col("s")).cast(dec)
    prv = (F.col("n") * F.col("pxq") - F.col("s")).cast(dec)
    r1f = lagged.groupBy("series", "yr").agg(
        F.sum(F.when(F.col("pxq").isNotNull(), prv * cur)).alias("num"),
        F.sum(cur * cur).alias("den"))
    r1v = (F.col("num").cast("double") / F.col("den").cast("double"))
    blended = lagged.join(r1f, ["series", "yr"]).select(
        "series", "yr", "t", "beta",
        r1v.alias("r1"),
        F.floor((
            F.when(F.col("pxq").isNull(),
                   F.col("xq") / F.lit(100.0))
            .otherwise(F.col("xq") / F.lit(100.0)
                       - r1v * (F.col("pxq") / F.lit(100.0)))
            + F.col("beta") * F.col("t")) * 1e6 + F.lit(0.5))
        .cast("long").alias("zq"))
    za = blended.select("series", "yr", F.col("t").alias("ta"),
                        F.col("zq").alias("va"))
    zb = blended.select("series", "yr", F.col("t").alias("tb"),
                        F.col("zq").alias("vb"))
    sgn = (F.when(F.col("vb") > F.col("va"), 1)
           .when(F.col("vb") < F.col("va"), -1).otherwise(0))
    st2 = (za.join(zb, ["series", "yr"])
           .where(F.col("tb") > F.col("ta"))
           .withColumn("__sgn", sgn)
           .groupBy("series", "yr")
           .agg(F.sum("__sgn").cast("long").alias("s_stat")))
    nd = blended.groupBy("series", "yr").agg(
        F.count(F.lit(1)).alias("n"))
    ties = (blended.groupBy("series", "yr", "zq")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("series", "yr")
            .agg(F.sum(F.col("c") * (F.col("c") - 1)
                       * (2 * F.col("c") + 5)).alias("tiesum")))
    meta = blended.groupBy("series", "yr").agg(
        F.max("r1").alias("r1"), F.max("beta").alias("beta"))
    n = F.col("n")
    var_s = ((n * (n - 1) * (2 * n + 5) - F.col("tiesum"))
             .cast("double") / F.lit(18.0))
    s = F.col("s_stat")
    out = (st2.join(nd, ["series", "yr"]).join(ties, ["series", "yr"])
           .join(meta, ["series", "yr"])
           .withColumn("var_s", var_s)
           .where(n >= 2)
           .withColumn(
               "z",
               F.when(F.col("var_s") > 0,
                      F.when(s > 0, (s - 1) / F.sqrt(F.col("var_s")))
                      .when(s < 0, (s + 1) / F.sqrt(F.col("var_s")))
                      .otherwise(F.lit(0.0))))
           .select("series", "yr", n.cast("long").alias("n_days"),
                   "s_stat", "beta", "r1", "var_s", "z"))
    return _round(out, {"beta": 6, "r1": 6, "var_s": 6, "z": 6})


@register("mann_kendall_blas", oracle=_MK_ORACLE)
def mann_kendall_blas_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel twin of mann_kendall_trend (functions/kernel_twin
    contract): identical statistics, but the (days choose 2) pair
    mass never shuffles — per-group triangles build in-kernel, so
    the exchange carries n rows per group instead of n^2."""
    from ..operators.trend import mann_kendall_blas

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("series"),
        F.year("o_orderdate").cast("int").alias("yr"),
        F.col("o_orderdate").alias("date"),
    ).agg(F.max("o_totalprice").alias("value"))
    out = mann_kendall_blas(daily, ["series", "yr"], "date", "value") \
        .select("series", "yr", "n_days", "s_stat", "var_s", "z",
                "sen_slope")
    return _round(out, {"var_s": 6, "z": 6, "sen_slope": 6})
