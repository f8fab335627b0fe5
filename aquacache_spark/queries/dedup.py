"""Text-corpus queries over ``documents`` (text metrics, language id,
Unicode folding), plus cross-section and vector queries.

Of the deduplication tier only ``minhash_lsh_pairs`` is left: it is
perfbench's batch probe (named in ``perfbench/batch_analytics.py``),
and it is the one query here that reaches ``operators/dedup.py``.
tests/test_import_boundary.py pins that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._common import R, _FIXDIR, _lang_filter_sql, _round, _t, register


# ---------------------------------------------------------------------------
# Text metrics, language id and MinHash-LSH candidate pairs over
# `documents`
# ---------------------------------------------------------------------------


_TEXT_METRICS_ORACLE = f"""
    WITH m AS (
      SELECT doc_id,
             string_split(text, ' ') AS toks,
             string_split(lower(text), ' ') AS ltoks,
             length(text) AS n_chars_calc,
             length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
                 AS n_punct
      FROM documents
    ), r AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                 / greatest(len(toks), 1) AS mean_token_len,
             CAST(n_punct AS DOUBLE) / greatest(n_chars_calc, 1) AS punct_ratio,
             CAST(len(list_filter(ltoks, t -> t IN
               ('the','a','an','and','or','of','to','in','is','it',
                'that','for','on','with','as','are','was','at','by','be')))
               AS DOUBLE) / greatest(len(ltoks), 1) AS stopword_ratio,
             n_chars_calc
      FROM m
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           {R('mean_token_len', 6)} AS mean_token_len,
           {R('punct_ratio', 6)} AS punct_ratio,
           {R('stopword_ratio', 6)} AS stopword_ratio,
           {R('(least(n_chars_calc / 200.0, 1.0)'
              ' + least(stopword_ratio * 5.0, 1.0)'
              ' + (1.0 - least(punct_ratio * 4.0, 1.0))) / 3.0', 6)} AS quality,
           CASE WHEN stopword_ratio >= 0.05 THEN 'en' ELSE 'und' END AS lang_guess
    FROM r
"""


@register("text_metrics", oracle=_TEXT_METRICS_ORACLE)
def text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as X

    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    out = docs.select(
        "doc_id",
        X.token_count(t).cast("long").alias("n_tokens"),
        X.mean_token_length(t).alias("mean_token_len"),
        X.punct_ratio(t).alias("punct_ratio"),
        X.stopword_ratio(t).alias("stopword_ratio"),
        X.quality_score(t).alias("quality"),
        X.lang_id(t).alias("lang_guess"),
    )
    return _round(out, {"mean_token_len": 6, "punct_ratio": 6,
                        "stopword_ratio": 6, "quality": 6})


# ---------------------------------------------------------------------------
# Training-data tier: multi-language ID — per-language stopword-hit
# scores in ONE pass (filter against literal arrays, pure codegen),
# argmax with alphabetical tie-break, 'und' floor. The oracle's CASE
# chain (de wins ties over en over es over fr) is the same ordering as
# the engine's min over (-score, lang).
# ---------------------------------------------------------------------------


_LANG_ID_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ), s AS (
      SELECT doc_id,
             {_lang_filter_sql('de')} AS de,
             {_lang_filter_sql('en')} AS en,
             {_lang_filter_sql('es')} AS es,
             {_lang_filter_sql('fr')} AS fr
      FROM t
    )
    SELECT doc_id,
           {R('de', 6)} AS de, {R('en', 6)} AS en,
           {R('es', 6)} AS es, {R('fr', 6)} AS fr,
           CASE
             WHEN greatest(de, en, es, fr) < 0.05 THEN 'und'
             WHEN de >= en AND de >= es AND de >= fr THEN 'de'
             WHEN en >= es AND en >= fr THEN 'en'
             WHEN es >= fr THEN 'es'
             ELSE 'fr'
           END AS lang
    FROM s
"""


@register("language_id", oracle=_LANG_ID_ORACLE)
def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-language ID over the documents table: all language scores
    from one bound token array per row (no re-tokenization per
    language), map-only, no shuffle — linear over a 100 TB corpus."""
    from ..functions import text as X

    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    sc = X.lang_scores(t)
    out = docs.select(
        "doc_id",
        sc["de"].alias("de"), sc["en"].alias("en"),
        sc["es"].alias("es"), sc["fr"].alias("fr"),
        X.lang_id_multi(t).alias("lang"),
    )
    return _round(out, {"de": 6, "en": 6, "es": 6, "fr": 6})


# shared shingle/minhash SQL fragments (k=3 word shingles, 8 hashes)
_SHINGLES_SQL = """
    shingled AS (
      SELECT doc_id, toks, n,
             unnest(generate_series(0, greatest(n - 3, 0))) AS i
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks,
                   len(string_split(lower(text), ' ')) AS n
            FROM documents)
    ), shingles AS (
      SELECT DISTINCT doc_id,
             array_to_string(toks[i + 1 : i + 3], ' ') AS sh
      FROM shingled
    )
"""


_MINHASH_P31 = 2147483647  # matches operators/dedup.MINHASH_P31 (asserted below)


def _assert_p31():
    from ..operators.dedup import MINHASH_P31
    assert MINHASH_P31 == _MINHASH_P31, "minhash field constant drift"


_assert_p31()


def _minhash_hash_sql(i: int) -> str:
    """The Mersenne-31 affine minhash term for hash i — generated from
    the SAME constants as operators/dedup.MINHASH_A/B so the oracle and
    the Spark plan share literals (r11: the old 2^61-field family never
    wrapped; see operators/dedup.py MINHASH_A note)."""
    from ..operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P31

    return (f"min(({MINHASH_A[i]} * base + {MINHASH_B[i]})"
            f" % {MINHASH_P31})")

_MINHASH_SQL = _SHINGLES_SQL + """
    , hashed AS (
      SELECT doc_id, CAST('0x' || substr(md5(sh), 1, 8) AS BIGINT)
             % 2147483647 AS base
      FROM shingles
    ), sig AS (
      SELECT doc_id,
    """ + ",\n".join(
    f"{_minhash_hash_sql(i)} AS h{i}"
    for i in range(8)
) + """
      FROM hashed GROUP BY doc_id
    )
"""


_LSH_PAIRS_ORACLE = "WITH " + _MINHASH_SQL + """
    , banded AS (
      SELECT doc_id, band, key FROM (
        SELECT doc_id,
               unnest([0, 1, 2, 3]) AS band,
               unnest([CAST(h0 AS VARCHAR) || ',' || CAST(h1 AS VARCHAR),
                       CAST(h2 AS VARCHAR) || ',' || CAST(h3 AS VARCHAR),
                       CAST(h4 AS VARCHAR) || ',' || CAST(h5 AS VARCHAR),
                       CAST(h6 AS VARCHAR) || ',' || CAST(h7 AS VARCHAR)]) AS key
        FROM sig
      )
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
    WHERE a.doc_id < b.doc_id
"""


@register("minhash_lsh_pairs", oracle=_LSH_PAIRS_ORACLE)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import lsh_candidate_pairs, minhash_signatures

    docs = _t(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, num_hashes=8, shingle_k=3)
    return lsh_candidate_pairs(sig, num_hashes=8, bands=4)


# ---------------------------------------------------------------------------
# Vector subsystem (insertACVector.R:5-23 feature store, load_nhn.R).
# Geometry rings are array<struct<x,y>> so containment runs in JVM
# higher-order functions; polygons broadcast; the big point side
# streams map-only through a bbox pre-filter + exact ray-cast refine.
# ---------------------------------------------------------------------------

@register(
    "vector_point_in_polygon",
    oracle="""
    WITH tri AS (
      SELECT n_nationkey AS poly_id,
             CAST((n_nationkey * 37) % 180 AS DOUBLE) AS ax,
             CAST((n_nationkey * 53) % 180 AS DOUBLE) AS ay,
             CAST((n_nationkey * 37) % 180 + 15 + n_nationkey % 7 AS DOUBLE) AS bx,
             CAST((n_nationkey * 53) % 180 + 3 + n_nationkey % 5 AS DOUBLE) AS by,
             CAST((n_nationkey * 37) % 180 + 5 + n_nationkey % 4 AS DOUBLE) AS cx,
             CAST((n_nationkey * 53) % 180 + 17 + n_nationkey % 6 AS DOUBLE) AS cy
      FROM nation
    ),
    pts AS (
      SELECT c_custkey AS point_id,
             ((c_custkey * 7919) % 1800) / 10.0 + 0.137 AS px,
             ((c_custkey * 104729) % 1800) / 10.0 + 0.269 AS py
      FROM customer
    )
    -- triangles are CCW by construction: strict half-plane sign tests
    SELECT poly_id, count(*) AS n_points,
           CAST(sum(point_id) AS BIGINT) AS sum_point_ids
    FROM tri JOIN pts
      ON (bx - ax) * (py - ay) - (by - ay) * (px - ax) > 0
     AND (cx - bx) * (py - by) - (cy - by) * (px - bx) > 0
     AND (ax - cx) * (py - cy) - (ay - cy) * (px - cx) > 0
    GROUP BY poly_id
    """,
)
def vector_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial containment join (the read path insertACVector enables:
    which points fall in which basins/waterbodies).

    Spark: broadcast catalog-sized polygons, bbox pre-filter, exact
    ray-casting in codegen'd array lambdas (operators/vector.py) — the
    point table never shuffles. The oracle proves the same containment
    set through independent math (half-plane sign tests on the CCW
    triangles), so the ray-cast kernel is cross-checked, not mirrored."""
    from ..operators.vector import point_in_polygon_join

    nation = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    ax, ay = (k * 37) % 180, (k * 53) % 180
    verts = [
        (ax, ay),
        (ax + 15 + k % 7, ay + 3 + k % 5),
        (ax + 5 + k % 4, ay + 17 + k % 6),
    ]
    polys = nation.select(
        k.cast("int").alias("poly_id"),
        F.array(*[
            F.struct(x.cast("double").alias("x"), y.cast("double").alias("y"))
            for x, y in verts
        ]).alias("ring"),
    )
    cust = _t(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey").alias("point_id"),
        (((F.col("c_custkey") * 7919) % 1800) / 10.0 + 0.137).alias("px"),
        (((F.col("c_custkey") * 104729) % 1800) / 10.0 + 0.269).alias("py"),
    )
    hits = point_in_polygon_join(pts, polys)
    return hits.groupBy("poly_id").agg(
        F.count("*").alias("n_points"),
        F.sum("point_id").alias("sum_point_ids"),
    )


_NHN_FIX = _FIXDIR / "nhn_basins.csv"

@register(
    "nhn_layer_upsert",
    oracle=f"""
    WITH raw AS (
      SELECT dataset_name, description, area_km2, province
      FROM read_csv('{_NHN_FIX}', header=true)
    ),
    feats AS (
      SELECT 'National Hydro Network - Basins' AS layer_name,
             'NHN basin ' || dataset_name AS feature_name,
             'polygon' AS geom_type,
             description,
             '{{"area_km2":' || CAST(area_km2 AS VARCHAR)
               || ',"province":"' || province || '"}}' AS attributes
      FROM raw
    ),
    existing AS (
      SELECT 'National Hydro Network - Basins' AS layer_name,
             'NHN basin basin_0' || CAST(i AS VARCHAR) AS feature_name,
             'polygon' AS geom_type,
             9001 + i AS geom_id
      FROM range(3) t(i)
    )
    SELECT f.feature_name, f.geom_type, f.description, f.attributes,
           CASE WHEN e.geom_id IS NULL THEN 'insert' ELSE 'update' END AS action,
           COALESCE(e.geom_id,
             CAST('0x' || substr(md5(f.layer_name || '|' || f.feature_name
                                 || '|' || f.geom_type), 1, 15) AS BIGINT)
           ) AS geom_id
    FROM feats f
    LEFT JOIN existing e
      ON e.layer_name = f.layer_name AND e.feature_name = f.feature_name
     AND e.geom_type = f.geom_type
    """,
)
def nhn_layer_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """load_nhn basins layer end-to-end (load_nhn.R:158-196): decoded-
    GPKG payload -> WKT decode kernel -> feature_name construction ->
    attribute JSON routing -> overwrite upsert with geom_id recycling
    (insertACVector.R:263-293). The WKB/ring columns are exercised (the
    kernel runs) but the compared output is the relational contract."""
    from ..sources.vector import load_nhn_layer

    existing = spark.range(3).select(
        F.lit("National Hydro Network - Basins").alias("layer_name"),
        F.concat(F.lit("NHN basin basin_0"), F.col("id").cast("string"))
        .alias("feature_name"),
        F.lit("polygon").alias("geom_type"),
        (F.col("id") + 9001).alias("geom_id"),
    )
    out = load_nhn_layer(
        spark, "basins", existing,
        payload_path=str(_NHN_FIX), overwrite=True,
    )
    return out.select("feature_name", "geom_type", "description",
                      "attributes", "action", "geom_id")


_NHN_GPKG = _FIXDIR / "nhn_sample.gpkg"

@register(
    "nhn_gpkg_layer_upsert",
    oracle=f"""
    WITH raw AS (
      SELECT dataset_name, description, geometry, area_km2, province
      FROM read_csv('{_NHN_FIX}', header=true)
    ),
    feats AS (
      SELECT 'National Hydro Network - Basins' AS layer_name,
             'NHN basin ' || dataset_name AS feature_name,
             'polygon' AS geom_type,
             -- WKT ring vertices minus the closing point == decoded
             -- ring length (proves the GPB/WKB decode, not just the
             -- attribute passthrough)
             len(string_split(geometry, ',')) - 1 AS n_vertices,
             description,
             '{{"area_km2":' || CAST(area_km2 AS VARCHAR)
               || ',"province":"' || province || '"}}' AS attributes
      FROM raw
    ),
    existing AS (
      SELECT 'National Hydro Network - Basins' AS layer_name,
             'NHN basin basin_0' || CAST(i AS VARCHAR) AS feature_name,
             'polygon' AS geom_type,
             9001 + i AS geom_id
      FROM range(3) t(i)
    )
    SELECT f.feature_name, f.geom_type, f.n_vertices, f.description,
           f.attributes,
           CASE WHEN e.geom_id IS NULL THEN 'insert' ELSE 'update' END AS action,
           COALESCE(e.geom_id,
             CAST('0x' || substr(md5(f.layer_name || '|' || f.feature_name
                                 || '|' || f.geom_type), 1, 15) AS BIGINT)
           ) AS geom_id
    FROM feats f
    LEFT JOIN existing e
      ON e.layer_name = f.layer_name AND e.feature_name = f.feature_name
     AND e.geom_type = f.geom_type
    """,
)
def nhn_gpkg_layer_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """load_nhn from the NATIVE GeoPackage container
    (R/load_nhn.R:96-115,228-243): executors read disjoint rowid
    ranges of the SQLite feature table, strip the GPB header, decode
    WKB to rings, then run the same feature_name / attribute-JSON /
    upsert pipeline. The oracle reads the CSV twin of the same
    features — the container read must reproduce it exactly,
    including the decoded ring length."""
    from ..sources.vector import load_nhn_layer

    existing = spark.range(3).select(
        F.lit("National Hydro Network - Basins").alias("layer_name"),
        F.concat(F.lit("NHN basin basin_0"), F.col("id").cast("string"))
        .alias("feature_name"),
        F.lit("polygon").alias("geom_type"),
        (F.col("id") + 9001).alias("geom_id"),
    )
    out = load_nhn_layer(
        spark, "basins", existing,
        gpkg_path=str(_NHN_GPKG), gpkg_table="basins", overwrite=True,
    )
    return out.select(
        "feature_name", "geom_type",
        F.size("ring").cast("bigint").alias("n_vertices"),
        "description", "attributes", "action", "geom_id",
    )


# Stream cross-section hydraulics (inst/patches/patch_54.R views 1-4,
# operators/cross_section.py): points -> panel calculated hydraulics
# -> manual/calculated preference -> section rollup (wetted width, net
# /total area incl. ice+slush, discharge) -> preference again.
# Synthesized hierarchy: orders rows are panels (orderkey % 37 -> 37
# sections x ~400 panels at sf0.01), lineitems are point velocity
# readings. All synthetic magnitudes are dyadic (k/16 multiples) so
# products are exact; DERIVED sums/means go through the repo exact-sum
# idiom on both sides.
_XS_V_SQL = """
      SELECT o_orderkey AS vertical_id,
             o_orderkey % 37 AS xsection_id,
             (o_orderkey % 13 + 1) * CAST(0.25 AS DOUBLE) AS panel_width_m,
             CASE WHEN o_orderkey % 11 <> 0
                  THEN (o_custkey % 17 + 1) * CAST(0.125 AS DOUBLE)
             END AS panel_flowing_water_depth_m,
             CASE WHEN o_orderkey % 5 = 0
                  THEN (o_orderkey % 8) * CAST(0.25 AS DOUBLE)
             END AS ice_thickness_m,
             CASE WHEN o_orderkey % 10 = 1
                  THEN (o_orderkey % 4 + 1) * CAST(0.125 AS DOUBLE)
             END AS slush_ice_thickness_m,
             CASE WHEN o_orderkey % 7 = 0
                  THEN (o_orderkey % 9 + 2) * CAST(0.5 AS DOUBLE)
             END AS panel_area_m2,
             CASE WHEN o_orderkey % 6 = 0
                  THEN (o_orderkey % 5 + 1) * CAST(0.0625 AS DOUBLE)
             END AS panel_mean_velocity_m_s,
             CASE WHEN o_orderkey % 9 = 0
                  THEN (o_orderkey % 11 + 1) * CAST(0.25 AS DOUBLE)
             END AS panel_discharge_m3_s,
             o_orderkey % 2 = 0 AS use_calculated_values
      FROM orders
"""

_XS_P_SQL = """
      SELECT l_orderkey AS vertical_id,
             (CAST(l_quantity AS BIGINT) % 30) * CAST(0.0625 AS DOUBLE)
               + CAST(0.25 AS DOUBLE) AS velocity_m_s
      FROM lineitem
"""

_XS_VV_SQL = f"""
    v AS ({_XS_V_SQL}),
    p AS ({_XS_P_SQL}),
    pv AS (
      SELECT vertical_id,
             sum(CAST(floor(velocity_m_s * 1000000.0 + 0.5) AS BIGINT))
               / 1000000.0 / count(velocity_m_s) AS pt_vel
      FROM p GROUP BY 1
    ), vc AS (
      SELECT v.vertical_id,
             CASE WHEN panel_width_m IS NOT NULL
                   AND panel_flowing_water_depth_m IS NOT NULL
                  THEN panel_width_m * panel_flowing_water_depth_m
             END AS area_c,
             pv.pt_vel AS vel_c,
             CASE WHEN panel_width_m IS NOT NULL
                   AND panel_flowing_water_depth_m IS NOT NULL
                   AND pv.pt_vel IS NOT NULL
                  THEN panel_width_m * panel_flowing_water_depth_m
                       * pv.pt_vel
             END AS dis_c
      FROM v LEFT JOIN pv USING (vertical_id)
    ), vv AS (
      SELECT v.vertical_id, v.xsection_id, v.panel_width_m,
             v.panel_flowing_water_depth_m, v.ice_thickness_m,
             v.slush_ice_thickness_m, v.use_calculated_values,
             CASE WHEN v.use_calculated_values
                  THEN coalesce(vc.area_c, v.panel_area_m2)
                  ELSE coalesce(v.panel_area_m2, vc.area_c)
             END AS panel_area_m2,
             CASE WHEN v.use_calculated_values
                  THEN coalesce(vc.vel_c, v.panel_mean_velocity_m_s)
                  ELSE coalesce(v.panel_mean_velocity_m_s, vc.vel_c)
             END AS panel_mean_velocity_m_s,
             CASE WHEN v.use_calculated_values
                  THEN coalesce(vc.dis_c, v.panel_discharge_m3_s)
                  ELSE coalesce(v.panel_discharge_m3_s, vc.dis_c)
             END AS panel_discharge_m3_s
      FROM v LEFT JOIN vc USING (vertical_id)
    )
"""

_XS_PANEL_ORACLE = f"""
    WITH {_XS_VV_SQL}
    SELECT vertical_id, xsection_id,
           {R('panel_area_m2', 6)} AS panel_area_m2,
           {R('panel_mean_velocity_m_s', 6)} AS panel_mean_velocity_m_s,
           {R('panel_discharge_m3_s', 6)} AS panel_discharge_m3_s
    FROM vv
"""


def _xs_inputs(spark: SparkSession, sf_dir: str):
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    verticals = o.select(
        k.alias("vertical_id"),
        (k % 37).alias("xsection_id"),
        ((k % 13 + 1) * 0.25).alias("panel_width_m"),
        F.when(k % 11 != 0, (F.col("o_custkey") % 17 + 1) * 0.125)
        .alias("panel_flowing_water_depth_m"),
        F.when(k % 5 == 0, (k % 8) * 0.25).alias("ice_thickness_m"),
        F.when(k % 10 == 1, (k % 4 + 1) * 0.125)
        .alias("slush_ice_thickness_m"),
        F.when(k % 7 == 0, (k % 9 + 2) * 0.5).alias("panel_area_m2"),
        F.when(k % 6 == 0, (k % 5 + 1) * 0.0625)
        .alias("panel_mean_velocity_m_s"),
        F.when(k % 9 == 0, (k % 11 + 1) * 0.25)
        .alias("panel_discharge_m3_s"),
        (k % 2 == 0).alias("use_calculated_values"),
    )
    li = _t(spark, sf_dir, "lineitem")
    points = li.select(
        F.col("l_orderkey").alias("vertical_id"),
        ((F.col("l_quantity").cast("long") % 30) * 0.0625 + 0.25)
        .alias("velocity_m_s"),
    )
    return verticals, points


@register("cross_section_panel_hydraulics", oracle=_XS_PANEL_ORACLE)
def cross_section_panel_hydraulics(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """patch_54 views 1+2: per-panel calculated hydraulics from point
    velocities, resolved through the manual/calculated preference."""
    from ..operators.cross_section import verticals_view

    verticals, points = _xs_inputs(spark, sf_dir)
    out = verticals_view(verticals, points).select(
        "vertical_id", "xsection_id", "panel_area_m2",
        "panel_mean_velocity_m_s", "panel_discharge_m3_s")
    return _round(out, {"panel_area_m2": 6, "panel_mean_velocity_m_s": 6,
                        "panel_discharge_m3_s": 6})


_XS_CS_SQL = """
      SELECT DISTINCT o_orderkey % 37 AS xsection_id,
             CASE WHEN (o_orderkey % 37) % 3 = 0
                  THEN ((o_orderkey % 37) % 6 + 3) * CAST(0.5 AS DOUBLE)
             END AS wetted_width_m,
             CASE WHEN (o_orderkey % 37) % 4 = 1
                  THEN ((o_orderkey % 37) % 7 + 5) * CAST(0.25 AS DOUBLE)
             END AS total_area_m2,
             CASE WHEN (o_orderkey % 37) % 4 = 2
                  THEN ((o_orderkey % 37) % 5 + 4) * CAST(0.25 AS DOUBLE)
             END AS net_area_m2,
             CASE WHEN (o_orderkey % 37) % 5 = 0
                  THEN ((o_orderkey % 37) % 9 + 1) * CAST(0.125 AS DOUBLE)
             END AS avg_total_depth_m,
             CASE WHEN (o_orderkey % 37) % 5 = 1
                  THEN ((o_orderkey % 37) % 3 + 1) * CAST(0.125 AS DOUBLE)
             END AS avg_velocity_m_s,
             CASE WHEN (o_orderkey % 37) % 6 = 3
                  THEN ((o_orderkey % 37) % 13 + 2) * CAST(0.5 AS DOUBLE)
             END AS discharge_m3_s,
             CASE WHEN (o_orderkey % 37) % 7 = 2
                  THEN ((o_orderkey % 37) % 4 + 1) * CAST(0.125 AS DOUBLE)
             END AS ice_avg_thickness_m,
             CASE WHEN (o_orderkey % 37) % 7 = 4
                  THEN ((o_orderkey % 37) % 6 + 1) * CAST(0.25 AS DOUBLE)
             END AS ice_area_m2,
             CASE WHEN (o_orderkey % 37) % 8 = 5
                  THEN ((o_orderkey % 37) % 3 + 1) * CAST(0.0625 AS DOUBLE)
             END AS slush_avg_thickness_m,
             CASE WHEN (o_orderkey % 37) % 8 = 6
                  THEN ((o_orderkey % 37) % 5 + 1) * CAST(0.125 AS DOUBLE)
             END AS slush_area_m2,
             (o_orderkey % 37) % 2 = 0 AS use_calculated_values
      FROM orders
"""

_XS_ESUM = "sum(CAST(floor({x} * 1000000.0 + 0.5) AS BIGINT)) / 1000000.0"
_XS_EMEAN = _XS_ESUM + " / count({x})"

_XS_SECTION_ORACLE = f"""
    WITH {_XS_VV_SQL},
    cs AS ({_XS_CS_SQL}),
    agg AS (
      SELECT xsection_id,
             {_XS_ESUM.format(x='panel_width_m')} AS ww_c,
             {_XS_ESUM.format(x='panel_area_m2')} AS na_c,
             {_XS_EMEAN.format(x='panel_flowing_water_depth_m')} AS ad_c,
             {_XS_EMEAN.format(x='panel_mean_velocity_m_s')} AS av_c,
             {_XS_ESUM.format(x='panel_discharge_m3_s')} AS q_c,
             {_XS_EMEAN.format(x='ice_thickness_m')} AS it_c,
             {_XS_ESUM.format(x='panel_width_m * ice_thickness_m')} AS ia_c,
             {_XS_EMEAN.format(x='slush_ice_thickness_m')} AS st_c,
             {_XS_ESUM.format(x='panel_width_m * slush_ice_thickness_m')}
               AS sa_c
      FROM vv GROUP BY 1
    ), calc AS (
      SELECT cs.xsection_id, a.ww_c, a.na_c, a.ad_c, a.av_c, a.q_c,
             a.it_c, a.ia_c, a.st_c, a.sa_c,
             CASE WHEN a.na_c IS NOT NULL OR a.ia_c IS NOT NULL
                   OR a.sa_c IS NOT NULL
                  THEN coalesce(a.na_c, 0) + coalesce(a.ia_c, 0)
                       + coalesce(a.sa_c, 0)
             END AS ta_c
      FROM cs LEFT JOIN agg a USING (xsection_id)
    )
    SELECT cs.xsection_id, cs.use_calculated_values,
           {R("CASE WHEN cs.use_calculated_values THEN coalesce(c.ww_c, cs.wetted_width_m) ELSE coalesce(cs.wetted_width_m, c.ww_c) END", 6)} AS wetted_width_m,
           {R("CASE WHEN cs.use_calculated_values THEN coalesce(c.ta_c, cs.total_area_m2) ELSE coalesce(cs.total_area_m2, c.ta_c) END", 6)} AS total_area_m2,
           {R("CASE WHEN cs.use_calculated_values THEN coalesce(c.na_c, cs.net_area_m2) ELSE coalesce(cs.net_area_m2, c.na_c) END", 6)} AS net_area_m2,
           {R("CASE WHEN cs.use_calculated_values THEN coalesce(c.ad_c, cs.avg_total_depth_m) ELSE coalesce(cs.avg_total_depth_m, c.ad_c) END", 6)} AS avg_total_depth_m,
           {R("CASE WHEN cs.use_calculated_values THEN coalesce(c.av_c, cs.avg_velocity_m_s) ELSE coalesce(cs.avg_velocity_m_s, c.av_c) END", 6)} AS avg_velocity_m_s,
           {R("CASE WHEN cs.use_calculated_values THEN coalesce(c.q_c, cs.discharge_m3_s) ELSE coalesce(cs.discharge_m3_s, c.q_c) END", 6)} AS discharge_m3_s,
           {R("CASE WHEN cs.use_calculated_values THEN coalesce(c.it_c, cs.ice_avg_thickness_m) ELSE coalesce(cs.ice_avg_thickness_m, c.it_c) END", 6)} AS ice_avg_thickness_m,
           {R("CASE WHEN cs.use_calculated_values THEN coalesce(c.ia_c, cs.ice_area_m2) ELSE coalesce(cs.ice_area_m2, c.ia_c) END", 6)} AS ice_area_m2,
           {R("CASE WHEN cs.use_calculated_values THEN coalesce(c.st_c, cs.slush_avg_thickness_m) ELSE coalesce(cs.slush_avg_thickness_m, c.st_c) END", 6)} AS slush_avg_thickness_m,
           {R("CASE WHEN cs.use_calculated_values THEN coalesce(c.sa_c, cs.slush_area_m2) ELSE coalesce(cs.slush_area_m2, c.sa_c) END", 6)} AS slush_area_m2
    FROM cs JOIN calc c USING (xsection_id)
"""


@register("cross_section_discharge", oracle=_XS_SECTION_ORACLE)
def cross_section_discharge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """patch_54 views 3+4 end-to-end: section hydraulics rolled up
    from preferred panel values, then resolved through the section
    preference ladder (operators/cross_section.cross_sections_view)."""
    from ..operators.cross_section import cross_sections_view

    verticals, points = _xs_inputs(spark, sf_dir)
    x = F.col("xsection_id")
    cs = verticals.select("xsection_id").distinct().select(
        "xsection_id",
        F.when(x % 3 == 0, (x % 6 + 3) * 0.5).alias("wetted_width_m"),
        F.when(x % 4 == 1, (x % 7 + 5) * 0.25).alias("total_area_m2"),
        F.when(x % 4 == 2, (x % 5 + 4) * 0.25).alias("net_area_m2"),
        F.when(x % 5 == 0, (x % 9 + 1) * 0.125).alias("avg_total_depth_m"),
        F.when(x % 5 == 1, (x % 3 + 1) * 0.125).alias("avg_velocity_m_s"),
        F.when(x % 6 == 3, (x % 13 + 2) * 0.5).alias("discharge_m3_s"),
        F.when(x % 7 == 2, (x % 4 + 1) * 0.125)
        .alias("ice_avg_thickness_m"),
        F.when(x % 7 == 4, (x % 6 + 1) * 0.25).alias("ice_area_m2"),
        F.when(x % 8 == 5, (x % 3 + 1) * 0.0625)
        .alias("slush_avg_thickness_m"),
        F.when(x % 8 == 6, (x % 5 + 1) * 0.125).alias("slush_area_m2"),
        (x % 2 == 0).alias("use_calculated_values"),
    )
    out = cross_sections_view(cs, verticals, points).select(
        "xsection_id", "use_calculated_values", "wetted_width_m",
        "total_area_m2", "net_area_m2", "avg_total_depth_m",
        "avg_velocity_m_s", "discharge_m3_s", "ice_avg_thickness_m",
        "ice_area_m2", "slush_avg_thickness_m", "slush_area_m2")
    return _round(out, {c: 6 for c in out.columns
                        if c not in ("xsection_id",
                                     "use_calculated_values")})


# ---------------------------------------------------------------------------
# Unicode punctuation folding (functions/text.fold_text): curly
# quotes / dashes / ellipsis / NBSP / zero-width folding + whitespace
# collapse, with the exact-dedup consequence measured (smart-quote
# re-renderings collapse to one fingerprint).
# ---------------------------------------------------------------------------

def _fold_sql(expr: str) -> str:
    from ..functions.text import FOLD_MAP

    out = expr
    for src_ch, dst in FOLD_MAP:
        d = dst.replace("'", "''")
        out = f"replace({out}, chr({ord(src_ch)}), '{d}')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


_FOLD_ORACLE = f"""
    WITH noisy AS (
      SELECT doc_id,
             CASE doc_id % 4
               WHEN 0 THEN chr(8220) || text || chr(8221) || chr(8230)
               WHEN 1 THEN replace(text, ' ', chr(160))
               WHEN 2 THEN chr(8203) || replace(text, ' ',
                           ' ' || chr(8212) || ' ')
               ELSE text END AS t
      FROM documents
    )
    SELECT doc_id, {_fold_sql('t')} AS folded,
           md5(regexp_replace(lower({_fold_sql('t')}), '\\s+', ' ', 'g'))
             AS fingerprint
    FROM noisy
"""


@register("unicode_fold_normalize", oracle=_FOLD_ORACLE)
def unicode_fold_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typographic-Unicode folding over a noisy re-rendering of the
    corpus (curly quotes + ellipsis, NBSP spacing, zero-width + em-dash
    injection), with the post-fold fingerprint."""
    from ..functions.text import fingerprint, fold_text

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    t = (
        F.when(d % 4 == 0, F.concat(F.lit("“"), F.col("text"),
                                    F.lit("”"), F.lit("…")))
        .when(d % 4 == 1, F.replace(F.col("text"), F.lit(" "),
                                    F.lit(" ")))
        .when(d % 4 == 2, F.concat(F.lit("​"),
                                   F.replace(F.col("text"), F.lit(" "),
                                             F.lit(" — "))))
        .otherwise(F.col("text"))
    )
    folded = fold_text(t)
    return docs.select(
        "doc_id", folded.alias("folded"),
        fingerprint(folded).alias("fingerprint"),
    )
