"""Text-corpus queries over ``documents`` (text metrics, language id,
collocations, Bloom decontamination), plus cross-section, vector and
video-shot queries.

The deduplication-tier queries here remain only for perfbench's batch
probe (``minhash_lsh_pairs``, named in ``perfbench/batch_analytics.py``)
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
# Training-data pipeline: deduplication (exact, MinHash-LSH, SimHash,
# n-gram Jaccard) over `documents`
# ---------------------------------------------------------------------------


_DEDUP_EXACT_ORACLE = """
    SELECT md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fingerprint,
           count(*) AS n_docs, min(doc_id) AS representative
    FROM documents
    GROUP BY 1
"""


@register("dedup_exact", oracle=_DEDUP_EXACT_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import exact_duplicates

    docs = _t(spark, sf_dir, "documents")
    return exact_duplicates(docs).select("fingerprint", "n_docs", "representative")


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
def _shingles_sql(where: str = "") -> str:
    return f"""
    shingled AS (
      SELECT doc_id, toks, n,
             unnest(generate_series(0, greatest(n - 3, 0))) AS i
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks,
                   len(string_split(lower(text), ' ')) AS n
            FROM documents {where})
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

_MINHASH_SQL = _shingles_sql() + """
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


_MINHASH_ORACLE = "WITH " + _MINHASH_SQL + """
    SELECT doc_id, h0, h1, h2, h3, h4, h5, h6, h7 FROM sig
"""


@register("minhash_signatures", oracle=_MINHASH_ORACLE)
def minhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_signatures

    docs = _t(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, num_hashes=8, shingle_k=3)
    return sig.select(
        "doc_id", *[F.col("sig")[i].alias(f"h{i}") for i in range(8)]
    )


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


# Hot-bucket cap differential: max_bucket=2 makes buckets of >=3 docs
# (which exist at both test SFs) take the star short-circuit — anchor
# (min doc id) to every member, m-1 edges instead of m(m-1)/2 — so the
# cap semantics themselves are DuckDB-verified, not just the uncapped
# path. At 100 TB this is what bounds a boilerplate bucket of 10^6
# docs to linear pair mass (operators/dedup.py:lsh_candidate_pairs).
_LSH_CAPPED_ORACLE = "WITH " + _MINHASH_SQL + """
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
    ), stats AS (
      SELECT band, key, count(*) AS n, min(doc_id) AS anchor
      FROM banded GROUP BY 1, 2
    )
    SELECT DISTINCT id_a, id_b FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a
      JOIN banded b ON a.band = b.band AND a.key = b.key
      JOIN stats s ON s.band = a.band AND s.key = a.key
      WHERE s.n <= 2 AND a.doc_id < b.doc_id
      UNION ALL
      SELECT s.anchor AS id_a, a.doc_id AS id_b
      FROM banded a
      JOIN stats s ON s.band = a.band AND s.key = a.key
      WHERE s.n > 2 AND a.doc_id <> s.anchor
    )
"""


@register("lsh_capped_pairs", oracle=_LSH_CAPPED_ORACLE)
def lsh_capped_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import lsh_candidate_pairs, minhash_signatures

    docs = _t(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, num_hashes=8, shingle_k=3)
    return lsh_candidate_pairs(sig, num_hashes=8, bands=4, max_bucket=2)


@register("incremental_lsh_parity", oracle=_LSH_PAIRS_ORACLE)
def incremental_lsh_parity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB daily-drop dedup story, two-batch vs one-shot: batch
    1 (doc_id % 3 != 0) seeds a persisted band-key store
    (ParquetMergeStore, bucketed on the band key), batch 2 probes ONLY
    the store buckets its own keys hash into, and the union of the two
    incremental outputs must equal the one-shot LSH of the full corpus
    — the same parity contract the streaming mirrors pin."""
    import tempfile

    from ..operators.dedup import incremental_lsh_pairs, minhash_signatures
    from ..sources.store import ParquetMergeStore

    docs = _t(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, num_hashes=8, shingle_k=3)
    b1 = sig.where(F.col("doc_id") % 3 != 0)
    b2 = sig.where(F.col("doc_id") % 3 == 0)
    store = ParquetMergeStore(
        spark, tempfile.mkdtemp(prefix="aquacache_inclsh_"),
        key_cols=["band", "key", "doc_id"], series_col="key",
        n_buckets=64)
    p1 = incremental_lsh_pairs(store, b1, num_hashes=8, bands=4)
    p2 = incremental_lsh_pairs(store, b2, num_hashes=8, bands=4)
    return p1.unionByName(p2).distinct()


_SIMHASH_ORACLE = """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ), hashed AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
      FROM tok
    ), bits AS (
      SELECT doc_id, j,
             sum(CASE WHEN (h // CAST(pow(2, j) AS BIGINT)) % 2 = 1
                      THEN 1 ELSE -1 END) AS s
      FROM hashed, (SELECT unnest(generate_series(0, 31)) AS j)
      GROUP BY doc_id, j
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
"""


@register("simhash_signatures", oracle=_SIMHASH_ORACLE)
def simhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash

    docs = _t(spark, sf_dir, "documents")
    return simhash(docs, bits=32)


_JACCARD_ORACLE = "WITH " + _MINHASH_SQL + f"""
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
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
      WHERE a.doc_id < b.doc_id
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id
    ), inter AS (
      SELECT c.id_a, c.id_b, count(*) AS inter
      FROM cand c
      JOIN shingles a ON a.doc_id = c.id_a
      JOIN shingles b ON b.doc_id = c.id_b AND b.sh = a.sh
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
           {R('CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter)', 6)} AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.05
"""


@register("ngram_jaccard_pairs", oracle=_JACCARD_ORACLE)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard verification composed with LSH candidate
    generation — the 100 TB dedup pipeline as ONE declared query:
    minhash signatures -> banded LSH candidate pairs -> exact Jaccard
    restricted to those pairs. Cost is proportional to candidate mass,
    never n² in hot-shingle collisions (the round-1 sampled variant's
    weakness). Reference parity: near-dup verification tier of the
    training-data pipeline; dedup.py:jaccard_on_candidates."""
    from ..operators.dedup import (jaccard_on_candidates,
                                  lsh_candidate_pairs, minhash_signatures)

    docs = _t(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, num_hashes=8, shingle_k=3)
    cand = lsh_candidate_pairs(sig, num_hashes=8, bands=4)
    out = jaccard_on_candidates(docs, cand, shingle_k=3, threshold=0.05)
    return _round(out, {"jaccard": 6})


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


# ---------------------------------------------------------------------------
# Training-data tier: winnowing rolling-hash fingerprints (MOSS scheme).
# Local-overlap dedup complement to exact/MinHash — guarantees any shared
# substring of length >= k + window - 1 produces a shared fingerprint.
# ---------------------------------------------------------------------------


_WINNOW_ORACLE = """
    WITH s AS (
      SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
      FROM documents
    ), g AS (
      SELECT doc_id, i,
             CAST('0x' || substr(md5(substr(s, CAST(i AS INT), 8)), 1, 15)
                  AS BIGINT) AS h,
             length(s) - 7 AS m
      FROM s, LATERAL (
        SELECT unnest(generate_series(1, greatest(length(s) - 7, 0))) AS i
      ) t
    ), w AS (
      SELECT doc_id, i, m,
             min(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM g
    )
    SELECT DISTINCT doc_id, fp FROM w WHERE i <= m - 3
"""


@register("winnow_fingerprints", oracle=_WINNOW_ORACLE)
def winnow_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, k=8, window=4)


# ---------------------------------------------------------------------------
# Training-data tier: duplicate-cluster formation — connected components
# over the MinHash-LSH candidate pairs (the step that turns pairwise
# near-dup hits into transitive "keep one per group" clusters). Oracle:
# a recursive CTE computes each node's min reachable id over the same
# symmetrized edge list.
# ---------------------------------------------------------------------------


_COMP_SQL = "WITH RECURSIVE " + _MINHASH_SQL + """
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
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
      WHERE a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(node, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node, min(lab) AS cluster_rep FROM reach GROUP BY node)
"""


_CLUSTERS_ORACLE = _COMP_SQL + """
    SELECT c.node AS doc_id, c.cluster_rep,
           count(*) OVER (PARTITION BY c.cluster_rep) AS cluster_size
    FROM comp c
"""


@register("dedup_clusters", oracle=_CLUSTERS_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import (
        duplicate_clusters,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, num_hashes=8, shingle_k=3)
    pairs = lsh_candidate_pairs(sig, num_hashes=8, bands=4)
    return duplicate_clusters(pairs, docs.select("doc_id"))


# ---------------------------------------------------------------------------
# Training-data tier: CLUSTER-SAFE corpus split. A naive per-doc split
# leaks training data: two near-duplicate documents can land in train
# and test. Keying the deterministic split assignment by cluster_rep
# (instead of doc_id) puts every member of a near-dup cluster in the
# same partition — the leakage-prevention step a 100 TB pretraining
# pipeline runs between dedup and sharding.
# ---------------------------------------------------------------------------


_CLUSTER_SPLIT_ORACLE = _COMP_SQL + """
    , cb AS (
      SELECT node AS doc_id, cluster_rep,
             count(*) OVER (PARTITION BY cluster_rep) AS cluster_size,
             CAST('0x' || substr(md5(CAST(cluster_rep AS VARCHAR)
                                     || '|split-v1'), 1, 8) AS BIGINT)
               % 100 AS bucket
      FROM comp
    )
    SELECT doc_id, cluster_rep, cluster_size, bucket,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
    FROM cb
"""


# ---------------------------------------------------------------------------
# Training-data tier CAPSTONE: the corpus-curation pipeline END TO END —
# quality gate -> near-dup clustering -> keep one representative per
# cluster (min surviving id) -> cluster-safe split -> per-split doc /
# cluster / token budget. Every stage is individually ⊕ elsewhere; this
# row pins their composition (filter-before-dedup ordering, rep chosen
# among survivors, budget on the BPE-ish count).
# ---------------------------------------------------------------------------


def _split_bucket(idc) -> F.Column:
    """The deterministic split bucket (same idiom as
    operators/dedup.stratified_split): md5 of "<id>|split-v1", first 8
    hex chars as int, mod 100."""
    from ..functions.text import md5_int

    return md5_int(F.concat(idc.cast("string"), F.lit("|split-v1")), 8) % 100


_CURATION_QUALITY_SQL = """
      SELECT doc_id,
             floor(((least(length(text) / 200.0, 1.0)
               + least(CAST(len(list_filter(string_split(lower(text), ' '),
                   t -> t IN ('the','a','an','and','or','of','to','in','is',
                              'it','that','for','on','with','as','are','was',
                              'at','by','be'))) AS DOUBLE)
                 / greatest(len(string_split(lower(text), ' ')), 1) * 5.0, 1.0)
               + (1.0 - least((length(text) - length(regexp_replace(
                   text, '[^a-zA-Z0-9 ]', '', 'g')))
                 / greatest(length(text), 1) * 4.0, 1.0))) / 3.0)
               * 1000000 + 0.5) / 1000000 AS q,
             len(regexp_extract_all(text,
                 ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS bpe_tokens
      FROM documents
"""


_CURATION_ORACLE = _COMP_SQL + f"""
    , qual AS ({_CURATION_QUALITY_SQL})
    , kept AS (
      SELECT q2.doc_id, q2.bpe_tokens, c.cluster_rep
      FROM qual q2 JOIN comp c ON c.node = q2.doc_id
      WHERE q2.q >= 0.7
    ), reps AS (
      SELECT *, min(doc_id) OVER (PARTITION BY cluster_rep) AS surv_rep
      FROM kept
    ), uniq AS (
      SELECT doc_id, bpe_tokens, cluster_rep,
             CAST('0x' || substr(md5(CAST(cluster_rep AS VARCHAR)
                                     || '|split-v1'), 1, 8) AS BIGINT)
               % 100 AS bucket
      FROM reps WHERE doc_id = surv_rep
    )
    SELECT CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(count(DISTINCT cluster_rep) AS BIGINT) AS n_clusters,
           CAST(sum(bpe_tokens) AS BIGINT) AS total_tokens
    FROM uniq GROUP BY 1
"""


@register("corpus_curation", oracle=_CURATION_ORACLE)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus curation end to end: quality-gate (composite heuristic,
    1e-6-rounded threshold compare so both engines cut identically) ->
    LSH near-dup clusters -> keep the minimum surviving id per cluster
    -> split keyed by cluster_rep -> per-split document count, cluster
    count, and BPE-ish token budget.

    Scale: quality/token metrics are map-only; clustering is the
    audited label-propagation pass; the rep selection is one window
    over (cluster_rep); the final agg is 3 groups. Nothing here adds a
    shuffle beyond the already-audited stages."""
    from ..functions.text import bpe_token_count, quality_score
    from ..operators.dedup import (
        duplicate_clusters,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, num_hashes=8, shingle_k=3)
    pairs = lsh_candidate_pairs(sig, num_hashes=8, bands=4)
    clusters = duplicate_clusters(pairs, docs.select("doc_id"))

    q = F.floor(quality_score(F.col("text")) * 1000000.0 + F.lit(0.5)) / 1000000.0
    qual = docs.select(
        "doc_id", q.alias("q"), bpe_token_count(F.col("text")).alias("bpe_tokens")
    )
    kept = qual.where(F.col("q") >= 0.7).join(
        clusters.select("doc_id", "cluster_rep"), "doc_id"
    )
    surv = F.min("doc_id").over(Window.partitionBy("cluster_rep"))
    uniq = (
        kept.withColumn("__surv", surv)
        .where(F.col("doc_id") == F.col("__surv"))
        .withColumn(
            "bucket",
            _split_bucket(F.col("cluster_rep")),
        )
    )
    return uniq.groupBy(
        F.when(F.col("bucket") < 90, "train")
        .when(F.col("bucket") < 95, "val")
        .otherwise("test")
        .alias("split")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cluster_rep").cast("long").alias("n_clusters"),
        F.sum("bpe_tokens").cast("long").alias("total_tokens"),
    )


@register("cluster_safe_split", oracle=_CLUSTER_SPLIT_ORACLE)
def cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware train/val/test split: LSH candidate pairs -> connected
    components -> deterministic split keyed by the cluster representative,
    so near-duplicates never straddle splits. Scale: clusters are one
    label-propagation pass over the (pruned) LSH edge list; the split is
    a pure projection of cluster_rep — no extra shuffle beyond the
    cluster join itself."""
    from ..operators.dedup import (
        duplicate_clusters,
        lsh_candidate_pairs,
        minhash_signatures,
        stratified_split,
    )

    docs = _t(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, num_hashes=8, shingle_k=3)
    pairs = lsh_candidate_pairs(sig, num_hashes=8, bands=4)
    clusters = duplicate_clusters(pairs, docs.select("doc_id"))
    out = stratified_split(clusters, id_col="cluster_rep")
    return out.select(
        "doc_id", "cluster_rep", "cluster_size",
        F.col("__bucket").alias("bucket"), "split",
    )


# ---------------------------------------------------------------------------
# Training-data tier: deterministic stratified train/val/test split —
# assignment is a pure function of (doc_id, salt), reproducible across
# engines/partitionings; per-source fraction overrides.
# ---------------------------------------------------------------------------


_SPLIT_ORACLE = """
    WITH b AS (
      SELECT doc_id, source,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|split-v1'),
                                 1, 8) AS BIGINT) % 100 AS bucket
      FROM documents
    )
    SELECT doc_id, source, bucket,
           CASE
             WHEN source = 'src0' THEN
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val' ELSE 'test' END
             WHEN source = 'src1' THEN
               CASE WHEN bucket < 95 THEN 'train'
                    WHEN bucket < 98 THEN 'val' ELSE 'test' END
             ELSE
               CASE WHEN bucket < 90 THEN 'train'
                    WHEN bucket < 95 THEN 'val' ELSE 'test' END
           END AS split
    FROM b
"""


@register("stratified_split", oracle=_SPLIT_ORACLE)
def stratified_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import stratified_split

    docs = _t(spark, sf_dir, "documents")
    out = stratified_split(
        docs, fractions={"src0": (80, 10), "src1": (95, 3)}
    )
    return out.select("doc_id", "source", F.col("__bucket").alias("bucket"),
                      "split")


# ---------------------------------------------------------------------------
# Deterministic exact-k-per-stratum sampling: rank by salted id hash,
# keep the k smallest — the reproducible reservoir-sampling
# replacement (inspection panels, per-domain pilots).
# ---------------------------------------------------------------------------


_HASH_SAMPLE_ORACLE = """
    WITH h AS (
      SELECT doc_id, source,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                     || '|sample-v1'), 1, 15) AS BIGINT)
               AS hh
      FROM documents
    ), r AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY hh ASC, doc_id ASC)
               AS sample_rank
      FROM h
    )
    SELECT doc_id, source, CAST(sample_rank AS BIGINT) AS sample_rank
    FROM r WHERE sample_rank <= 7
"""


@register("hash_stratified_sample", oracle=_HASH_SAMPLE_ORACLE)
def hash_stratified_sample_q(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Exact 7 docs per source, drawn by salted-hash rank (no RNG:
    same salt -> same sample on any engine/partitioning)."""
    from ..operators.dedup import hash_stratified_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return hash_stratified_sample(docs, k=7)


# ---------------------------------------------------------------------------
# Weighted A-ES sampling: inclusion probability proportional to a
# per-doc weight, without replacement, no RNG — key = ln(u)/w from the
# salted id hash, nano-quantized before the per-stratum rank.
# ---------------------------------------------------------------------------


_WSAMPLE_ORACLE = """
    WITH h AS (
      SELECT doc_id, source, (doc_id % 10) + 1 AS weight,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                     || '|wsample-v1'), 1, 15) AS BIGINT)
               AS hh
      FROM documents
    ), keyed AS (
      SELECT doc_id, source, weight,
             CAST(floor(
               ln((hh + 1) / CAST(1152921504606846976 AS DOUBLE))
               / CAST(weight AS DOUBLE) * 1000000000.0) AS BIGINT) AS k
      FROM h WHERE weight > 0
    ), r AS (
      SELECT doc_id, source, weight,
             row_number() OVER (PARTITION BY source
                                ORDER BY k DESC, doc_id ASC)
               AS sample_rank
      FROM keyed
    )
    SELECT doc_id, source, CAST(weight AS BIGINT) AS weight,
           CAST(sample_rank AS BIGINT) AS sample_rank
    FROM r WHERE sample_rank <= 7
"""


@register("weighted_stratified_sample", oracle=_WSAMPLE_ORACLE)
def weighted_stratified_sample_q(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """7 docs per source, weight-proportional (A-ES) with weight =
    doc_id % 10 + 1."""
    from ..operators.dedup import weighted_stratified_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source",
        (F.col("doc_id") % 10 + 1).alias("weight"))
    return weighted_stratified_sample(docs, k=7, weight_col="weight")


# ---------------------------------------------------------------------------
# Training-data tier: SimHash near-dup pairs — pigeonhole banding over
# contiguous bit-chunks (a pair within Hamming distance < bands agrees
# exactly on >= 1 chunk), exact bit_count(xor) verify. Completes the
# SimHash family (signatures -> candidate pairs).
# ---------------------------------------------------------------------------


_SIMHASH_PAIRS_ORACLE = """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ), hashed AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
      FROM tok
    ), bits AS (
      SELECT doc_id, j,
             sum(CASE WHEN (h // CAST(pow(2, j) AS BIGINT)) % 2 = 1
                      THEN 1 ELSE -1 END) AS s
      FROM hashed, (SELECT unnest(generate_series(0, 31)) AS j)
      GROUP BY doc_id, j
    ), sig AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    ), banded AS (
      SELECT doc_id, simhash, b.band,
             (simhash // CAST(pow(2, b.band * 8) AS BIGINT)) % 256 AS chunk
      FROM sig, (SELECT unnest(generate_series(0, 3)) AS band) b
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM banded a JOIN banded b ON a.band = b.band AND a.chunk = b.chunk
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@register("simhash_near_pairs", oracle=_SIMHASH_PAIRS_ORACLE)
def simhash_near_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash, simhash_near_pairs

    docs = _t(spark, sf_dir, "documents")
    sig = simhash(docs, bits=32)
    return simhash_near_pairs(sig, bits=32, bands=4, max_hamming=3)


# Capped-mode variant: the hot-bucket star cap ACTIVE at test SF
# (max_bucket=2 — with 8-bit chunks most (band, chunk) buckets exceed
# 2 members, so the oracle genuinely replays the star semantics:
# min-id anchor, m-1 anchor-verified edges, Hamming filter after).
_SIMHASH_CAPPED_ORACLE = """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ), hashed AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
      FROM tok
    ), bits AS (
      SELECT doc_id, j,
             sum(CASE WHEN (h // CAST(pow(2, j) AS BIGINT)) % 2 = 1
                      THEN 1 ELSE -1 END) AS s
      FROM hashed, (SELECT unnest(generate_series(0, 31)) AS j)
      GROUP BY doc_id, j
    ), sig AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    ), banded AS (
      SELECT doc_id, simhash, b.band,
             (simhash // CAST(pow(2, b.band * 8) AS BIGINT)) % 256 AS chunk
      FROM sig, (SELECT unnest(generate_series(0, 3)) AS band) b
    ), stats AS (
      SELECT band, chunk, count(*) AS n, min(doc_id) AS anchor,
             arg_min(simhash, doc_id) AS asig
      FROM banded GROUP BY 1, 2
    )
    SELECT DISTINCT id_a, id_b, hamming FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             bit_count(xor(a.simhash, b.simhash)) AS hamming
      FROM banded a
      JOIN banded b ON a.band = b.band AND a.chunk = b.chunk
      JOIN stats s ON s.band = a.band AND s.chunk = a.chunk
      WHERE s.n <= 2 AND a.doc_id < b.doc_id
      UNION ALL
      SELECT s.anchor AS id_a, a.doc_id AS id_b,
             bit_count(xor(s.asig, a.simhash)) AS hamming
      FROM banded a
      JOIN stats s ON s.band = a.band AND s.chunk = a.chunk
      WHERE s.n > 2 AND a.doc_id <> s.anchor
    )
    WHERE hamming <= 3
"""


@register("simhash_capped_pairs", oracle=_SIMHASH_CAPPED_ORACLE)
def simhash_capped_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash, simhash_near_pairs

    docs = _t(spark, sf_dir, "documents")
    sig = simhash(docs, bits=32)
    return simhash_near_pairs(sig, bits=32, bands=4, max_hamming=3,
                              max_bucket=2)


# ---------------------------------------------------------------------------
# Training-data tier: benchmark decontamination — n-gram overlap of the
# training corpus against a held-out eval set (the GPT-3/PaLM
# "13-gram dedup" sweep shape, k=5 here because the synthetic docs are
# 10-100 tokens). Eval shingles broadcast; the corpus side is map-only
# + partial-aggregable count — no shuffle of corpus text at 100 TB.
# ---------------------------------------------------------------------------


_DECONTAM_ORACLE = """
    WITH docs AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ), g AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(0, len(toks) - 4),
               i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3],
                              toks[i+4], toks[i+5])))) AS sh
      FROM docs
    ), ev AS (
      SELECT DISTINCT sh FROM g WHERE doc_id % 19 = 3
    ), hits AS (
      SELECT g.doc_id, count(*) AS overlap_ngrams
      FROM g JOIN ev USING (sh)
      WHERE g.doc_id % 19 != 3
      GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(h.overlap_ngrams, 0) AS overlap_ngrams,
           COALESCE(h.overlap_ngrams, 0) >= 8 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 19 != 3) d
    LEFT JOIN hits h USING (doc_id)
"""


@register("eval_decontamination", oracle=_DECONTAM_ORACLE)
def eval_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import contamination_overlap

    docs = _t(spark, sf_dir, "documents")
    evalset = docs.where(F.col("doc_id") % 19 == 3)
    train = docs.where(F.col("doc_id") % 19 != 3)
    return contamination_overlap(train, evalset, ngram_k=5, threshold=8)


# ---------------------------------------------------------------------------
# Training-data tier: unigram-LM surprisal (the CCNet-style quality
# axis) — corpus-trained token frequencies, per-doc mean -ln p(token)
# in order-independent micro-nat accumulation.
# ---------------------------------------------------------------------------


_SURPRISAL_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ), freq AS (
      SELECT tok, count(*) AS cnt FROM tok GROUP BY tok
    ), tot AS (
      SELECT sum(cnt) AS total FROM freq
    ), surp AS (
      SELECT tok, CAST(floor(-ln(cnt / total) * 1000000 + 0.5) AS BIGINT) AS q
      FROM freq, tot
    ), d AS (
      SELECT t.doc_id, sum(q) AS sq, count(*) AS n
      FROM tok t JOIN surp USING (tok) GROUP BY 1
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           {R('sq / 1000000.0 / n', 6)} AS mean_surprisal
    FROM d
"""


@register("unigram_surprisal", oracle=_SURPRISAL_ORACLE)
def unigram_surprisal_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import unigram_surprisal

    docs = _t(spark, sf_dir, "documents")
    return _round(unigram_surprisal(docs), {"mean_surprisal": 6})


# ---------------------------------------------------------------------------
# Training-data CAPSTONE v2 — the full modern curation gate: heuristic
# quality AND Gopher repetition rules AND benchmark decontamination
# (eval docs excluded, contaminated train docs dropped), then near-dup
# clusters -> one representative -> cluster-safe split -> per-split
# budgets. Every constituent is individually ⊕; this pins the composed
# ordering with 1e-6-rounded threshold compares on both engines.
# ---------------------------------------------------------------------------


_FULL_GATE_ORACLE = _COMP_SQL + f"""
    , qual AS ({_CURATION_QUALITY_SQL})
    , rtoks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ), rb AS (
      SELECT doc_id, toks,
             list_transform(range(0, len(toks) - 1),
               i -> concat_ws(' ', toks[i+1], toks[i+2])) AS bigrams,
             list_transform(range(0, len(toks) - 2),
               i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))
               AS trigrams
      FROM rtoks
    ), rtb AS (
      SELECT doc_id, max(c) AS top_big FROM (
        SELECT doc_id, count(*) AS c
        FROM (SELECT doc_id, unnest(bigrams) AS x FROM rb)
        GROUP BY doc_id, x
      ) GROUP BY doc_id
    ), rep AS (
      SELECT rb.doc_id,
        floor(CAST(len(list_distinct(toks)) AS DOUBLE)
              / greatest(len(toks), 1) * 1000000 + 0.5) / 1000000 AS utr,
        floor(CAST(rtb.top_big AS DOUBLE)
              / greatest(len(bigrams), 1) * 1000000 + 0.5) / 1000000 AS tbf,
        floor((1.0 - CAST(len(list_distinct(trigrams)) AS DOUBLE)
               / greatest(len(trigrams), 1)) * 1000000 + 0.5) / 1000000
          AS dtf
      FROM rb JOIN rtb USING (doc_id)
    ), dsh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
        range(0, len(toks) - 4),
        i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3], toks[i+4],
                       toks[i+5])))) AS sh5
      FROM rtoks
    ), evsh AS (
      SELECT DISTINCT sh5 FROM dsh WHERE doc_id % 19 = 3
    ), dhits AS (
      SELECT d.doc_id, count(*) AS n
      FROM dsh d JOIN evsh USING (sh5)
      WHERE d.doc_id % 19 != 3 GROUP BY 1
    ), gate AS (
      SELECT q.doc_id, q.bpe_tokens, c.cluster_rep
      FROM qual q
      JOIN comp c ON c.node = q.doc_id
      JOIN rep r ON r.doc_id = q.doc_id
      LEFT JOIN dhits h ON h.doc_id = q.doc_id
      WHERE q.doc_id % 19 != 3
        AND q.q >= 0.7
        AND r.utr >= 0.2 AND r.tbf <= 0.2 AND r.dtf <= 0.6
        AND COALESCE(h.n, 0) < 8
    ), reps2 AS (
      SELECT *, min(doc_id) OVER (PARTITION BY cluster_rep) AS surv
      FROM gate
    ), uniq2 AS (
      SELECT doc_id, bpe_tokens, cluster_rep,
             CAST('0x' || substr(md5(CAST(cluster_rep AS VARCHAR)
                                     || '|split-v1'), 1, 8) AS BIGINT)
               % 100 AS bucket
      FROM reps2 WHERE doc_id = surv
    )
    SELECT CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(count(DISTINCT cluster_rep) AS BIGINT) AS n_clusters,
           CAST(sum(bpe_tokens) AS BIGINT) AS total_tokens
    FROM uniq2 GROUP BY 1
"""


@register("curation_full_gate", oracle=_FULL_GATE_ORACLE)
def curation_full_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import (
        bpe_token_count, quality_score, tokens, top_count, word_ngrams,
    )
    from ..operators.dedup import (
        contamination_overlap, duplicate_clusters, lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, num_hashes=8, shingle_k=3)
    pairs = lsh_candidate_pairs(sig, num_hashes=8, bands=4)
    clusters = duplicate_clusters(pairs, docs.select("doc_id"))

    def r6(c):
        return F.floor(c * 1000000.0 + F.lit(0.5)) / 1000000.0

    from ..operators._scan import spread_scan

    t = F.col("text")
    toks = tokens(F.lower(t))
    n = F.greatest(F.size(toks), F.lit(1))
    big = word_ngrams(t, 2)
    tri = word_ngrams(t, 3)
    # the quality/BPE/ngram metric expressions are the per-doc CPU
    # mass and run in the scan stage — spread the under-split scan
    # (r12, guide §2.5)
    metrics = spread_scan(docs, "doc_id").select(
        "doc_id",
        r6(quality_score(t)).alias("q"),
        bpe_token_count(t).alias("bpe_tokens"),
        r6(F.size(F.array_distinct(toks)) / n).alias("utr"),
        r6(top_count(big) / F.greatest(F.size(big), F.lit(1))).alias("tbf"),
        r6(1.0 - F.size(F.array_distinct(tri))
           / F.greatest(F.size(tri), F.lit(1))).alias("dtf"),
    )
    # r13 aggregate fence (guide §4.4, expression form): the quality
    # gate below is a filter on these computed columns, and predicate
    # pushdown inlines the full metric expressions into a filter BELOW
    # the spread repartition — the whole metric mass then runs (twice:
    # pushed filter + re-projection) in the single scan task,
    # silently defeating spread_scan (measured: 1.3s single-task
    # stage). A one-row-per-doc first() aggregate is a pushdown
    # barrier for predicates on aggregated columns while key
    # predicates (doc_id % 19) still reach the parquet scan; doc_id is
    # unique, so first() is value-deterministic and every output is
    # bit-identical (verified). The aggregate itself is exchange-free:
    # the stream is already doc-partitioned by the spread.
    metrics = metrics.groupBy("doc_id").agg(
        *[F.first(c).alias(c)
          for c in ("q", "bpe_tokens", "utr", "tbf", "dtf")])
    evalset = docs.where(F.col("doc_id") % 19 == 3)
    train = docs.where(F.col("doc_id") % 19 != 3)
    clean = contamination_overlap(train, evalset, ngram_k=5, threshold=8) \
        .where(~F.col("contaminated")).select("doc_id")
    kept = (
        metrics.where(F.col("doc_id") % 19 != 3)  # eval docs never train
        .where((F.col("q") >= 0.7) & (F.col("utr") >= 0.2)
               & (F.col("tbf") <= 0.2) & (F.col("dtf") <= 0.6))
        .join(clean, "doc_id", "left_semi")
        .join(clusters.select("doc_id", "cluster_rep"), "doc_id")
    )
    surv = F.min("doc_id").over(Window.partitionBy("cluster_rep"))
    uniq = (
        kept.withColumn("__surv", surv)
        .where(F.col("doc_id") == F.col("__surv"))
        .withColumn("bucket", _split_bucket(F.col("cluster_rep")))
    )
    return uniq.groupBy(
        F.when(F.col("bucket") < 90, "train")
        .when(F.col("bucket") < 95, "val")
        .otherwise("test").alias("split")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cluster_rep").cast("long").alias("n_clusters"),
        F.sum("bpe_tokens").cast("long").alias("total_tokens"),
    )


# Image near-duplicate detection via perceptual hashing
# (operators/multimodal.phash64 + extract_image_phash + dedup.
# simhash_near_pairs): lossless cosine-pattern BMPs -> real BMP decode
# -> 32x32 DCT -> 63-bit signature (fixed-threshold oracle regime;
# every bit decided by a wide margin) -> pigeonhole-banded pairs.
# Items sharing a pattern key are near-duplicates (hamming 0 despite
# per-item amplitude jitter moving pixels). The oracle replays pixels
# -> DCT -> hash -> pairs numerically; hamming <= 2 < 4 bands makes
# the pigeonhole banding lossless, so the oracle's all-pairs filter is
# the same set.
_PHASH_ORACLE = """
    WITH ids AS (
      SELECT doc_id AS media_id, doc_id % 16 AS p
      FROM documents WHERE doc_id % 4 = 2
    ), grid AS (
      SELECT unnest(range(0, 32)) AS t
    ), px AS (
      SELECT i.media_id, yy.t AS y, xx.t AS x,
             least(CAST(255 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
               floor(128.0
                 + (40 + i.media_id % 3)
                   * cos((2*xx.t+1) * (i.p % 7 + 1) * pi() / 64.0)
                   * cos((2*yy.t+1) * (i.p % 5 + 1) * pi() / 64.0)
                 + 25 * cos((2*xx.t+1) * (i.p % 6 + 1) * pi() / 64.0)
                      * cos((2*yy.t+1) * (i.p % 4 + 2) * pi() / 64.0)
                 + 15 * cos((2*xx.t+1) * (i.p % 5 + 2) * pi() / 64.0)
                      * cos((2*yy.t+1) * (i.p % 3 + 3) * pi() / 64.0)
                 + 0.5))) AS v
      FROM ids i, grid xx, grid yy
    ), uv AS (
      SELECT uu.t AS u, vv.t AS v
      FROM (SELECT unnest(range(0, 8)) AS t) uu,
           (SELECT unnest(range(0, 8)) AS t) vv
      WHERE NOT (uu.t = 0 AND vv.t = 0)
    ), coef AS (
      SELECT p.media_id, uv.u, uv.v,
             CAST(floor(sum(p.v
               * (CASE WHEN uv.u = 0 THEN sqrt(1.0/32.0)
                       ELSE sqrt(2.0/32.0) END)
               * cos((2*p.x+1) * uv.u * pi() / 64.0)
               * (CASE WHEN uv.v = 0 THEN sqrt(1.0/32.0)
                       ELSE sqrt(2.0/32.0) END)
               * cos((2*p.y+1) * uv.v * pi() / 64.0)
             ) * 1000000.0 + 0.5) AS BIGINT) AS q
      FROM px p, uv GROUP BY 1, 2, 3
    ), hashes AS (
      SELECT media_id,
             CAST(sum(CASE WHEN q > 100000000
                      THEN (CAST(1 AS BIGINT) << (u * 8 + v - 1))
                      ELSE 0 END) AS BIGINT) AS phash
      FROM coef GROUP BY 1
    )
    SELECT a.media_id AS id_a, b.media_id AS id_b,
           bit_count(xor(a.phash, b.phash)) AS hamming
    FROM hashes a JOIN hashes b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 2
"""


@register("image_phash_near_dup", oracle=_PHASH_ORACLE)
def image_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pHash near-duplicate pairs over decoded images: BMP decode ->
    32x32 DCT signature -> pigeonhole-banded pair join."""
    from ..operators.dedup import simhash_near_pairs
    from ..operators.multimodal import (extract_image_phash,
                                       synthesize_pattern_bmps)

    docs = _t(spark, sf_dir, "documents")
    ids = docs.where(F.col("doc_id") % 4 == 2).select(
        F.col("doc_id").alias("media_id"))
    hashes = extract_image_phash(
        synthesize_pattern_bmps(ids), method="fixed", tau=100.0)
    return simhash_near_pairs(
        hashes, id_col="media_id", sig_col="phash",
        bits=64, bands=4, max_hamming=2)


# Audio near-duplicate detection (operators/multimodal.
# audio_fingerprint64): real WAV decode -> per-frame per-band EXACT
# integer energies -> sign-of-delta bits -> pigeonhole-banded pairs.
# Group twins are re-levelled copies (1-3x gain) that must fingerprint
# identically (energies scale uniformly, comparisons unchanged). The
# oracle replays samples -> energies -> bits -> pairs in exact integer
# arithmetic; hamming <= 3 < 4 bands keeps the banding lossless.
_AUDIO_FP_ORACLE = """
    WITH ids AS (
      SELECT doc_id AS media_id, doc_id % 8 AS g, 1 + doc_id % 3 AS fac
      FROM documents WHERE doc_id % 4 = 3
    ), t AS (
      SELECT unnest(range(0, 4096)) AS k
    ), s AS (
      SELECT media_id, k // 256 AS f, (k % 256) // 64 AS b,
             fac * (((g * 37 + k * 101) % 4001) - 2000) AS v
      FROM ids, t
    ), e AS (
      SELECT media_id, f, b, sum(v * v) AS e FROM s GROUP BY 1, 2, 3
    ), bits AS (
      SELECT a.media_id, a.b * 15 + a.f AS idx, (n.e > a.e) AS bit
      FROM e a JOIN e n ON a.media_id = n.media_id AND a.b = n.b
                        AND n.f = a.f + 1
      WHERE a.f < 15
    ), fp AS (
      SELECT media_id,
             CAST(sum(CASE WHEN bit
                      THEN (CAST(1 AS BIGINT) << idx) ELSE 0 END)
                  AS BIGINT) AS fingerprint
      FROM bits GROUP BY 1
    )
    SELECT a.media_id AS id_a, b.media_id AS id_b,
           bit_count(xor(a.fingerprint, b.fingerprint)) AS hamming
    FROM fp a JOIN fp b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.fingerprint, b.fingerprint)) <= 3
"""


@register("audio_fingerprint_near_dup", oracle=_AUDIO_FP_ORACLE)
def audio_fingerprint_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs: WAV decode -> integer band-energy
    fingerprint -> pigeonhole-banded pair join."""
    from ..operators.dedup import simhash_near_pairs
    from ..operators.multimodal import (extract_audio_fingerprint,
                                       synthesize_tone_wavs)

    docs = _t(spark, sf_dir, "documents")
    ids = docs.where(F.col("doc_id") % 4 == 3).select(
        F.col("doc_id").alias("media_id"))
    fps = extract_audio_fingerprint(synthesize_tone_wavs(ids))
    return simhash_near_pairs(
        fps, id_col="media_id", sig_col="fingerprint",
        bits=60, bands=4, max_hamming=3)


# Video temporal fingerprint (operators/multimodal.
# extract_video_fingerprint): every frame entropy-decoded through the
# real MJPEG/JPEG path, exact integer luma sums, rise/fall bits across
# adjacent frames. Group twins are uniformly re-graded copies (offset
# cancels in deltas). 15-bit code, 3 pigeonhole bands, hamming <= 2
# keeps the banding lossless; all-integer oracle.
_VIDEO_FP_ORACLE = """
    WITH ids AS (
      SELECT doc_id AS media_id, doc_id % 8 AS g,
             (doc_id % 3) * 4 AS off
      FROM documents WHERE doc_id % 3 = 0
    ), fr AS (
      SELECT unnest(range(0, 16)) AS f
    ), bl AS (
      SELECT unnest(range(0, 4)) AS b
    ), luma AS (
      SELECT media_id, f,
             sum(CAST(64 AS BIGINT)
                 * ((g * 7 + f * 11 + b * 37) % 200 + 28 + off)) AS s
      FROM ids, fr, bl GROUP BY 1, 2
    ), bits AS (
      SELECT a.media_id, a.f AS idx, (n.s > a.s) AS bit
      FROM luma a JOIN luma n
        ON a.media_id = n.media_id AND n.f = a.f + 1
      WHERE a.f < 15
    ), fp AS (
      SELECT media_id,
             CAST(sum(CASE WHEN bit
                      THEN (CAST(1 AS BIGINT) << idx) ELSE 0 END)
                  AS BIGINT) AS fingerprint
      FROM bits GROUP BY 1
    )
    SELECT a.media_id AS id_a, b.media_id AS id_b,
           bit_count(xor(a.fingerprint, b.fingerprint)) AS hamming
    FROM fp a JOIN fp b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.fingerprint, b.fingerprint)) <= 2
"""


@register("video_fingerprint_near_dup", oracle=_VIDEO_FP_ORACLE)
def video_fingerprint_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup pairs: full-frame MJPEG decode -> integer
    luma-rhythm fingerprint -> pigeonhole-banded pair join."""
    from ..operators.dedup import simhash_near_pairs
    from ..operators.multimodal import (extract_video_fingerprint,
                                       synthesize_group_avis)

    docs = _t(spark, sf_dir, "documents")
    ids = docs.where(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("media_id"))
    fps = extract_video_fingerprint(synthesize_group_avis(ids))
    return simhash_near_pairs(
        fps, id_col="media_id", sig_col="fingerprint",
        bits=15, bands=3, max_hamming=2)


# Corpus health monitoring: EXACT per-source token/char quantiles
# (p50/p90/p99, linear interpolation over sorted values — Spark
# percentile == DuckDB quantile_cont definition; integer inputs keep
# the interpolation arithmetic deterministic) plus doc counts — the
# distribution dashboard a curation pipeline watches between rounds.
_TOKEN_QUANTILES_ORACLE = f"""
    WITH m AS (
      SELECT source, len(string_split(text, ' ')) AS n_tok, n_chars
      FROM documents
    )
    SELECT source, count(*) AS n_docs,
           {R('quantile_cont(n_tok, 0.5)', 6)} AS tok_p50,
           {R('quantile_cont(n_tok, 0.9)', 6)} AS tok_p90,
           {R('quantile_cont(n_tok, 0.99)', 6)} AS tok_p99,
           {R('quantile_cont(n_chars, 0.5)', 6)} AS chars_p50,
           {R('quantile_cont(n_chars, 0.99)', 6)} AS chars_p99
    FROM m GROUP BY source
"""


@register("corpus_token_quantiles", oracle=_TOKEN_QUANTILES_ORACLE)
def corpus_token_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source token/char quantiles (no approx sketch — the
    exact percentile is a single per-group sort, the right tool at
    dashboard cardinality; sketches belong on the full-corpus axis)."""
    from ..functions.text import token_count

    docs = _t(spark, sf_dir, "documents")
    m = docs.select(
        "source", token_count(F.col("text")).alias("n_tok"), "n_chars")
    out = m.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.percentile("n_tok", F.lit(0.5)).alias("tok_p50"),
        F.percentile("n_tok", F.lit(0.9)).alias("tok_p90"),
        F.percentile("n_tok", F.lit(0.99)).alias("tok_p99"),
        F.percentile("n_chars", F.lit(0.5)).alias("chars_p50"),
        F.percentile("n_chars", F.lit(0.99)).alias("chars_p99"),
    )
    return _round(out, {c: 6 for c in ("tok_p50", "tok_p90", "tok_p99",
                                       "chars_p50", "chars_p99")})


# Image resize kernel (operators/multimodal.resize_images): block-mean
# downscale in EXACT integer arithmetic (sum // block-size per output
# pixel), re-encoded through the real BMP writer, then features
# re-extracted through the real decoder — the thumbnail/normalization
# step of an image-corpus pipeline, fully differentially verified
# because every stage is integer-exact.
_RESIZE_ORACLE = f"""
    WITH ids AS (
      SELECT doc_id AS media_id FROM documents WHERE doc_id % 5 = 1
    ), rc AS (
      SELECT rr.t AS r, cc.t AS c
      FROM (SELECT unnest(range(0, 16)) AS t) rr,
           (SELECT unnest(range(0, 16)) AS t) cc
    ), cells AS (
      SELECT media_id, r // 4 AS cr, c // 4 AS cc,
             sum((media_id * 7 + r * 16 + c) % 256) // 16 AS vr,
             sum((media_id * 11 + r * 5 + c * 3) % 256) // 16 AS vg,
             sum((media_id * 13 + r * 2 + c * 7) % 256) // 16 AS vb
      FROM ids, rc GROUP BY 1, 2, 3
    )
    SELECT media_id, TRUE AS decoded,
           CAST(4 AS INT) AS width, CAST(4 AS INT) AS height,
           {R('sum(vr) / 16.0', 6)} AS mean_r,
           {R('sum(vg) / 16.0', 6)} AS mean_g,
           {R('sum(vb) / 16.0', 6)} AS mean_b
    FROM cells GROUP BY media_id
"""


@register("image_resize_features", oracle=_RESIZE_ORACLE)
def image_resize_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16x16 BMPs block-mean-resized to 4x4 (integer-exact), features
    re-extracted through the real decoder."""
    from ..operators.multimodal import (extract_bmp_features, resize_images,
                                       synthesize_bmps)

    docs = _t(spark, sf_dir, "documents")
    ids = docs.where(F.col("doc_id") % 5 == 1).select(
        F.col("doc_id").alias("media_id"))
    small = resize_images(synthesize_bmps(ids, width=16, height=16),
                          out_h=4, out_w=4)
    out = extract_bmp_features(small)
    return _round(out, {"mean_r": 6, "mean_g": 6, "mean_b": 6})


# Cross-modal asset dedup CAPSTONE: one asset = a document with a text
# body, an image rendition, and an audio track; near-duplicate edges
# come from THREE independent modality detectors — text MinHash-LSH
# band collisions, image pHash (hamming <= 2), audio band-energy
# fingerprint (hamming <= 3) — unioned into one edge list and resolved
# to asset-level clusters by distributed min-label propagation. An
# edge in ANY modality merges the assets, so a cluster can be held
# together by a text-only edge on one side and an audio-only edge on
# the other (the cross-modal story a single-modality dedup misses).
# The oracle replays all three pair pipelines + a recursive-CTE
# component closure.
_ASSET_PRED = "doc_id % 6 = 0"


_ASSET_DEDUP_ORACLE = ("WITH RECURSIVE "
    + _shingles_sql(f"WHERE {_ASSET_PRED}") + """
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
    ), t_banded AS (
      SELECT doc_id, band, key FROM (
        SELECT doc_id,
               unnest([0, 1, 2, 3]) AS band,
               unnest([CAST(h0 AS VARCHAR) || ',' || CAST(h1 AS VARCHAR),
                       CAST(h2 AS VARCHAR) || ',' || CAST(h3 AS VARCHAR),
                       CAST(h4 AS VARCHAR) || ',' || CAST(h5 AS VARCHAR),
                       CAST(h6 AS VARCHAR) || ',' || CAST(h7 AS VARCHAR)])
                 AS key
        FROM sig
      )
    ), text_pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM t_banded a JOIN t_banded b
        ON a.band = b.band AND a.key = b.key
      WHERE a.doc_id < b.doc_id
    ), img_ids AS (
      SELECT doc_id AS media_id, doc_id % 16 AS p
      FROM documents WHERE """ + _ASSET_PRED + """
    ), grid AS (
      SELECT unnest(range(0, 32)) AS t
    ), img_px AS (
      SELECT i.media_id, yy.t AS y, xx.t AS x,
             least(CAST(255 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
               floor(128.0
                 + (40 + i.media_id % 3)
                   * cos((2*xx.t+1) * (i.p % 7 + 1) * pi() / 64.0)
                   * cos((2*yy.t+1) * (i.p % 5 + 1) * pi() / 64.0)
                 + 25 * cos((2*xx.t+1) * (i.p % 6 + 1) * pi() / 64.0)
                      * cos((2*yy.t+1) * (i.p % 4 + 2) * pi() / 64.0)
                 + 15 * cos((2*xx.t+1) * (i.p % 5 + 2) * pi() / 64.0)
                      * cos((2*yy.t+1) * (i.p % 3 + 3) * pi() / 64.0)
                 + 0.5))) AS v
      FROM img_ids i, grid xx, grid yy
    ), uv AS (
      SELECT uu.t AS u, vv.t AS v
      FROM (SELECT unnest(range(0, 8)) AS t) uu,
           (SELECT unnest(range(0, 8)) AS t) vv
      WHERE NOT (uu.t = 0 AND vv.t = 0)
    ), img_coef AS (
      SELECT p.media_id, uv.u, uv.v,
             CAST(floor(sum(p.v
               * (CASE WHEN uv.u = 0 THEN sqrt(1.0/32.0)
                       ELSE sqrt(2.0/32.0) END)
               * cos((2*p.x+1) * uv.u * pi() / 64.0)
               * (CASE WHEN uv.v = 0 THEN sqrt(1.0/32.0)
                       ELSE sqrt(2.0/32.0) END)
               * cos((2*p.y+1) * uv.v * pi() / 64.0)
             ) * 1000000.0 + 0.5) AS BIGINT) AS q
      FROM img_px p, uv GROUP BY 1, 2, 3
    ), img_hash AS (
      SELECT media_id,
             CAST(sum(CASE WHEN q > 100000000
                      THEN (CAST(1 AS BIGINT) << (u * 8 + v - 1))
                      ELSE 0 END) AS BIGINT) AS phash
      FROM img_coef GROUP BY 1
    ), img_pairs AS (
      SELECT a.media_id AS id_a, b.media_id AS id_b
      FROM img_hash a JOIN img_hash b ON a.media_id < b.media_id
      WHERE bit_count(xor(a.phash, b.phash)) <= 2
    ), aud_ids AS (
      SELECT doc_id AS media_id, doc_id % 8 AS g, 1 + doc_id % 3 AS fac
      FROM documents WHERE """ + _ASSET_PRED + """
    ), aud_t AS (
      SELECT unnest(range(0, 4096)) AS k
    ), aud_s AS (
      SELECT media_id, k // 256 AS f, (k % 256) // 64 AS b,
             fac * (((g * 37 + k * 101) % 4001) - 2000) AS v
      FROM aud_ids, aud_t
    ), aud_e AS (
      SELECT media_id, f, b, sum(v * v) AS e FROM aud_s GROUP BY 1, 2, 3
    ), aud_bits AS (
      SELECT a.media_id, a.b * 15 + a.f AS idx, (n.e > a.e) AS bit
      FROM aud_e a JOIN aud_e n ON a.media_id = n.media_id
                                AND a.b = n.b AND n.f = a.f + 1
      WHERE a.f < 15
    ), aud_fp AS (
      SELECT media_id,
             CAST(sum(CASE WHEN bit
                      THEN (CAST(1 AS BIGINT) << idx) ELSE 0 END)
                  AS BIGINT) AS fp
      FROM aud_bits GROUP BY 1
    ), aud_pairs AS (
      SELECT a.media_id AS id_a, b.media_id AS id_b
      FROM aud_fp a JOIN aud_fp b ON a.media_id < b.media_id
      WHERE bit_count(xor(a.fp, b.fp)) <= 3
    ), all_pairs AS (
      SELECT id_a, id_b FROM text_pairs
      UNION SELECT id_a, id_b FROM img_pairs
      UNION SELECT id_a, id_b FROM aud_pairs
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM all_pairs
      UNION SELECT id_b, id_a FROM all_pairs
    ), reach(node, lab) AS (
      SELECT doc_id, doc_id FROM documents WHERE """ + _ASSET_PRED + """
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
    ), comp AS (
      SELECT node, min(lab) AS cluster_rep FROM reach GROUP BY node
    )
    SELECT node AS doc_id, cluster_rep,
           count(*) OVER (PARTITION BY cluster_rep) AS cluster_size
    FROM comp
""")


@register("asset_cross_modal_dedup", oracle=_ASSET_DEDUP_ORACLE)
def asset_cross_modal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asset-level near-dup clusters from the UNION of text (MinHash
    LSH), image (pHash), and audio (band-energy fingerprint) edges —
    distributed min-label propagation over the combined edge list."""
    from ..operators.dedup import (duplicate_clusters, lsh_candidate_pairs,
                                  minhash_signatures, simhash_near_pairs)
    from ..operators.multimodal import (extract_audio_fingerprint,
                                       extract_image_phash,
                                       synthesize_pattern_bmps,
                                       synthesize_tone_wavs)

    docs = _t(spark, sf_dir, "documents")
    assets = docs.where(F.col("doc_id") % 6 == 0)
    ids = assets.select(F.col("doc_id").alias("media_id"))

    sig = minhash_signatures(assets, num_hashes=8, shingle_k=3)
    text_pairs = lsh_candidate_pairs(sig, num_hashes=8, bands=4) \
        .select("id_a", "id_b")
    img_pairs = simhash_near_pairs(
        extract_image_phash(synthesize_pattern_bmps(ids),
                            method="fixed", tau=100.0),
        id_col="media_id", sig_col="phash",
        bits=64, bands=4, max_hamming=2,
    ).select("id_a", "id_b")
    aud_pairs = simhash_near_pairs(
        extract_audio_fingerprint(synthesize_tone_wavs(ids)),
        id_col="media_id", sig_col="fingerprint",
        bits=60, bands=4, max_hamming=3,
    ).select("id_a", "id_b")

    pairs = text_pairs.unionByName(img_pairs).unionByName(aud_pairs) \
        .distinct()
    return duplicate_clusters(pairs, assets.select("doc_id"))


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
# Spectral (DFT) audio fingerprint variant (operators/multimodal.
# audio_spectral_fingerprint64): real WAV decode -> 4-sample chunk
# pre-sums -> EXACT fixed-point integer DFT (basis table shared
# verbatim with this oracle, so no cross-engine trig drift) -> 4
# frequency bands x 16 bins -> rise/fall bits across adjacent frames.
# Gain invariance exact (energies quadratic in the samples), so group
# twins fingerprint identically.
# ---------------------------------------------------------------------------


def _audio_spec_oracle() -> str:
    from ..operators.multimodal import _spec_basis

    bc, bs = _spec_basis()
    lc = ",".join(str(v) for row in bc for v in row)
    ls = ",".join(str(v) for row in bs for v in row)
    return f"""
    WITH ids AS (
      SELECT doc_id AS media_id, doc_id % 8 AS g, 1 + doc_id % 3 AS fac
      FROM documents WHERE doc_id % 4 = 1
    ), t AS (
      SELECT unnest(range(0, 4096)) AS k
    ), s AS (
      SELECT media_id, k // 256 AS f, (k % 256) // 4 AS j,
             fac * (((g * 37 + k * 101) % 4001) - 2000) AS v
      FROM ids, t
    ), ch AS (
      SELECT media_id, f, j, sum(v) AS cs FROM s GROUP BY 1, 2, 3
    ), bas AS (
      SELECT [{lc}] AS bc, [{ls}] AS bs
    ), bins AS (
      SELECT unnest(range(1, 17)) AS n
    ), sp AS (
      SELECT media_id, f, (n - 1) // 4 AS b,
             sum(cs * bc[(n - 1) * 64 + j + 1]) AS cr,
             sum(cs * bs[(n - 1) * 64 + j + 1]) AS ci
      FROM ch, bins, bas
      GROUP BY media_id, f, b, n
    ), e AS (
      SELECT media_id, f, b, sum(cr * cr + ci * ci) AS e
      FROM sp GROUP BY 1, 2, 3
    ), bits AS (
      SELECT a.media_id, a.b * 15 + a.f AS idx, (n.e > a.e) AS bit
      FROM e a JOIN e n ON a.media_id = n.media_id AND a.b = n.b
                        AND n.f = a.f + 1
      WHERE a.f < 15
    ), fp AS (
      SELECT media_id,
             CAST(sum(CASE WHEN bit
                      THEN (CAST(1 AS BIGINT) << idx) ELSE 0 END)
                  AS BIGINT) AS fingerprint
      FROM bits GROUP BY 1
    )
    SELECT a.media_id AS id_a, b.media_id AS id_b,
           bit_count(xor(a.fingerprint, b.fingerprint)) AS hamming
    FROM fp a JOIN fp b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.fingerprint, b.fingerprint)) <= 3
"""


_AUDIO_SPEC_ORACLE = _audio_spec_oracle()


@register("audio_spectral_near_dup", oracle=_AUDIO_SPEC_ORACLE)
def audio_spectral_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral audio near-dup pairs: WAV decode -> fixed-point
    integer DFT band energies -> rise/fall fingerprint -> pigeonhole-
    banded pair join."""
    from ..operators.dedup import simhash_near_pairs
    from ..operators.multimodal import (extract_audio_spectral_fingerprint,
                                       synthesize_tone_wavs)

    docs = _t(spark, sf_dir, "documents")
    ids = docs.where(F.col("doc_id") % 4 == 1).select(
        F.col("doc_id").alias("media_id"))
    fps = extract_audio_spectral_fingerprint(synthesize_tone_wavs(ids))
    return simhash_near_pairs(
        fps, id_col="media_id", sig_col="fingerprint",
        bits=60, bands=4, max_hamming=3)


# ---------------------------------------------------------------------------
# Interpolated bigram LM surprisal (operators/dedup.bigram_surprisal):
# the KenLM-lite quality axis — p(w|prev) = 0.75*c(prev,w)/c(prev)
# + 0.25*c(w)/N from the corpus itself, per-bigram micro-nat
# quantization, NULL mean for sub-2-token docs.
# ---------------------------------------------------------------------------


_BIGRAM_SURPRISAL_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks
      FROM documents
    ), tok AS (
      SELECT unnest(toks) AS w FROM base
    ), uni AS (
      SELECT w, count(*) AS cw FROM tok GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(cw) AS DOUBLE) AS total FROM uni
    ), pairs AS (
      SELECT doc_id, toks[i] AS p, toks[i + 1] AS w
      FROM base, unnest(generate_series(1, len(toks) - 1)) AS t(i)
    ), bgc AS (
      SELECT p, w, count(*) AS cb FROM pairs GROUP BY 1, 2
    ), score AS (
      SELECT bgc.p, bgc.w,
             CAST(floor(
               -ln(CAST(0.75 AS DOUBLE) * bgc.cb / up.cw
                   + CAST(0.25 AS DOUBLE) * uw.cw / tot.total)
               * 1000000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS q
      FROM bgc
      JOIN uni up ON up.w = bgc.p
      JOIN uni uw ON uw.w = bgc.w
      CROSS JOIN tot
    ), per_doc AS (
      SELECT pairs.doc_id,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             {R('sum(q) / 1000000.0 / count(*)', 6)} AS mean_surprisal
      FROM pairs JOIN score ON score.p = pairs.p AND score.w = pairs.w
      GROUP BY 1
    )
    SELECT b.doc_id,
           coalesce(d.n_bigrams, 0) AS n_bigrams,
           d.mean_surprisal
    FROM base b LEFT JOIN per_doc d ON d.doc_id = b.doc_id
"""


@register("bigram_surprisal", oracle=_BIGRAM_SURPRISAL_ORACLE)
def bigram_surprisal_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM surprisal over the documents corpus."""
    from ..operators.dedup import bigram_surprisal

    docs = _t(spark, sf_dir, "documents")
    out = bigram_surprisal(docs, lam=0.75)
    return _round(out, {"mean_surprisal": 6})


# PMI collocations: pointwise mutual information over adjacent token
# pairs — the classic corpus collocation extractor ("new york"-class
# multiword expressions). pmi = ln(c(a,b) * T / (c(a) * c(b))) with T
# = total bigram positions; min-count floor keeps the head of the
# distribution; micro-nat quantization makes ranking bit-stable.
_PMI_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks
      FROM documents
    ), tok AS (
      SELECT unnest(toks) AS w FROM base
    ), uni AS (
      SELECT w, count(*) AS cw FROM tok GROUP BY 1
    ), pairs AS (
      SELECT toks[i] AS a, toks[i + 1] AS b
      FROM base, unnest(generate_series(1, len(toks) - 1)) AS t(i)
    ), bgc AS (
      SELECT a, b, count(*) AS cb FROM pairs GROUP BY 1, 2
    ), tot AS (
      SELECT count(*) AS t FROM pairs
    ), scored AS (
      SELECT bgc.a, bgc.b, bgc.cb,
             CAST(floor(
               ln(CAST(bgc.cb AS DOUBLE) * tot.t
                  / (CAST(ua.cw AS DOUBLE) * ub.cw))
               * 1000000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS q
      FROM bgc
      JOIN uni ua ON ua.w = bgc.a
      JOIN uni ub ON ub.w = bgc.b
      CROSS JOIN tot
      WHERE bgc.cb >= 5
    ), ranked AS (
      SELECT a, b, cb, q,
             row_number() OVER (ORDER BY q DESC, a ASC, b ASC) AS rank
      FROM scored
    )
    SELECT a, b, CAST(cb AS BIGINT) AS pair_count,
           q / 1000000.0 AS pmi, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 20
"""


@register("pmi_collocations", oracle=_PMI_ORACLE)
def pmi_collocations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-pair collocations by PMI (min pair count 5).

    Scale: one bigram aggregation (corpus-token shuffle class), uni
    dims joined on the token key (vocab-sized, AQE decides), total via
    agg + 1-row broadcast. The final global top-20 ranks a frame
    already cut to cb >= 5 collocation candidates — bigram-TYPE
    cardinality, not corpus cardinality; at web scale raise the floor
    (or rank per shard then merge) before the single-partition sort."""
    docs = _t(spark, sf_dir, "documents")
    from ..functions.text import tokens
    from pyspark.sql import Window as W

    base = docs.select(tokens(F.lower(F.col("text"))).alias("__toks"))
    base = base.withColumn("__n", F.size("__toks"))
    toks = F.col("__toks")
    uni = (
        base.select(F.explode(toks).alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    )
    pairs = base.select(
        F.explode(
            F.when(
                F.col("__n") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.col("__n") - 1),
                    lambda i: F.struct(
                        F.element_at(toks, i).alias("a"),
                        F.element_at(toks, i + 1).alias("b")),
                ),
            )
        ).alias("bg"),
    ).select(F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))
    bgc = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("cb"))
    tot = pairs.agg(F.count(F.lit(1)).alias("t"))
    scored = (
        bgc.where(F.col("cb") >= 5)
        .join(uni.select(F.col("w").alias("a"),
                         F.col("cw").alias("ca")), "a")
        .join(uni.select(F.col("w").alias("b"),
                         F.col("cw").alias("cb2")), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a", "b", "cb",
            F.floor(
                F.log(F.col("cb").cast("double") * F.col("t")
                      / (F.col("ca").cast("double") * F.col("cb2")))
                * 1e6 + F.lit(0.5)
            ).cast("long").alias("__q"),
        )
    )
    # distributed top-k: orderBy+limit compiles to TakeOrderedAndProject
    # (per-partition heaps, k-row merge) — no single-partition window
    # over the candidate frame; the rank window then runs on 20 rows
    top = scored.orderBy(F.desc("__q"), F.asc("a"), F.asc("b")).limit(20)
    w = W.orderBy(F.desc("__q"), F.asc("a"), F.asc("b"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("a", "b", F.col("cb").alias("pair_count"),
                (F.col("__q") / F.lit(1e6)).alias("pmi"),
                F.col("rank").cast("long").alias("rank"))
    )


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


# ---------------------------------------------------------------------------
# Shot-level video containment: per-shot brightness-offset-invariant
# delta signatures -> fraction of clip A's shots appearing in clip B
# (containment catches re-graded partial copies that clip-level
# fingerprints dilute away).
# ---------------------------------------------------------------------------

_SHOT_CONTAIN_ORACLE = """
    WITH ids AS (
      SELECT doc_id AS media_id, doc_id % 8 AS g,
             (doc_id % 3) * 4 AS off
      FROM documents WHERE doc_id % 24 = 2
    ), fr AS (
      SELECT unnest(range(0, 16)) AS f
    ), bl AS (
      SELECT unnest(range(0, 4)) AS b
    ), luma AS (
      SELECT media_id, f,
             sum(CAST(64 AS BIGINT)
                 * ((g * 7 + f * 11 + b * 37) % 200 + 28 + off)) AS s
      FROM ids, fr, bl GROUP BY 1, 2
    ), marked AS (
      SELECT media_id, f, s,
             s - lag(s) OVER w AS d,
             CASE WHEN f = 0 THEN 0
                  WHEN abs(s - lag(s) OVER w) > 16 * 256 THEN 1
                  ELSE 0 END AS cut_before
      FROM luma WINDOW w AS (PARTITION BY media_id ORDER BY f)
    ), shots AS (
      SELECT media_id, f, d, cut_before,
             sum(cut_before) OVER (PARTITION BY media_id ORDER BY f)
               AS shot_id
      FROM marked
    ), sigs AS (
      -- within-shot deltas exclude each shot's first frame (f=0 or a
      -- cut frame)
      SELECT media_id, shot_id,
             md5(coalesce(string_agg(CAST(d AS VARCHAR), ',' ORDER BY f)
                 FILTER (WHERE f > 0 AND cut_before = 0), '')) AS sig
      FROM shots GROUP BY 1, 2
    ), nshots AS (
      SELECT media_id, count(*) AS total_shots FROM sigs GROUP BY 1
    ), matched AS (
      SELECT a.media_id AS media_a, b.media_id AS media_b,
             count(DISTINCT a.shot_id) AS matched_shots
      FROM sigs a JOIN sigs b
        ON a.sig = b.sig AND a.media_id <> b.media_id
      GROUP BY 1, 2
    )
    SELECT m.media_a, m.media_b,
           CAST(m.matched_shots AS BIGINT) AS matched_shots,
           CAST(n.total_shots AS BIGINT) AS total_shots,
           CAST(floor(CAST(m.matched_shots AS DOUBLE) / n.total_shots
                      * 1000000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT)
             / 1000000.0 AS containment
    FROM matched m JOIN nshots n ON n.media_id = m.media_a
"""


@register("video_shot_containment", oracle=_SHOT_CONTAIN_ORACLE)
def video_shot_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shot-overlap between clips via offset-invariant shot
    delta signatures (uncapped all-pairs regime — the group fixture
    has no boilerplate signature; the web-scale df-capped path is
    video_shot_containment_capped)."""
    from ..operators.multimodal import (extract_video_shot_signatures,
                                       shot_containment_pairs,
                                       synthesize_group_avis)

    docs = _t(spark, sf_dir, "documents")
    ids = docs.where(F.col("doc_id") % 24 == 2).select(
        F.col("doc_id").alias("media_id"))
    sigs = extract_video_shot_signatures(
        synthesize_group_avis(ids), tau=16)
    return shot_containment_pairs(sigs, max_sig_clips=None)


# Capped variant: the intro fixture gives EVERY clip a shared
# boilerplate intro shot (the m² hot-signature class); the df cap
# drops it from the join while group shots (runs of 4 twins) still
# match, and total_shots keeps counting the intro. Closed-form luma
# trace: frames 0-7 block value 40 + f*9 + b*20 + off; frames 8-15
# value 170 + prefix-sum of (3 + 2*bit_{j-1}(g)) + b*2 + off with
# g = ((doc_id-2)/24)//4 — no modular wraps, one cut at f=8.
_SHOT_CONTAIN_CAPPED_ORACLE = """
    WITH ids AS (
      SELECT doc_id AS media_id,
             ((doc_id - 2) // 24) // 4 AS g
      FROM documents
      WHERE doc_id % 24 = 2 AND (doc_id - 2) // 24 < 60
    ), fr AS (
      SELECT unnest(range(0, 16)) AS f
    ), pre AS (
      SELECT media_id, g, f,
             CASE WHEN f < 8 THEN 0 ELSE (
               SELECT coalesce(sum(3 + 2 * ((g // power(2, j - 1)::BIGINT)
                                            % 2)), 0)
               FROM unnest(generate_series(1, f - 8)) AS t(j))
             END AS p
      FROM ids, fr
    ), luma AS (
      -- per-frame luma sum over the four 8x8 blocks; the (i%3)*4
      -- regrade offset cancels in deltas, so it is omitted here and
      -- the absolute sums below are offset-free ONLY in the deltas
      -- the sigs consume
      SELECT media_id, f,
             CASE WHEN f < 8
                  THEN 64 * (4 * (40 + f * 9 + (media_id % 3) * 4)
                             + 20 * 6)
                  ELSE 64 * (4 * (170 + p + (media_id % 3) * 4) + 2 * 6)
             END AS s
      FROM pre
    ), marked AS (
      SELECT media_id, f, s,
             s - lag(s) OVER w AS d,
             CASE WHEN f = 0 THEN 0
                  WHEN abs(s - lag(s) OVER w) > 16 * 256 THEN 1
                  ELSE 0 END AS cut_before
      FROM luma WINDOW w AS (PARTITION BY media_id ORDER BY f)
    ), shots AS (
      SELECT media_id, f, d, cut_before,
             sum(cut_before) OVER (PARTITION BY media_id ORDER BY f)
               AS shot_id
      FROM marked
    ), sigs AS (
      SELECT media_id, shot_id,
             md5(coalesce(string_agg(CAST(d AS VARCHAR), ',' ORDER BY f)
                 FILTER (WHERE f > 0 AND cut_before = 0), '')) AS sig
      FROM shots GROUP BY 1, 2
    ), nshots AS (
      SELECT media_id, count(*) AS total_shots FROM sigs GROUP BY 1
    ), hot AS (
      SELECT sig FROM (SELECT sig, media_id FROM sigs GROUP BY 1, 2)
      GROUP BY sig HAVING count(*) > 10
    ), joinable AS (
      SELECT * FROM sigs WHERE sig NOT IN (SELECT sig FROM hot)
    ), matched AS (
      SELECT a.media_id AS media_a, b.media_id AS media_b,
             count(DISTINCT a.shot_id) AS matched_shots
      FROM joinable a JOIN joinable b
        ON a.sig = b.sig AND a.media_id <> b.media_id
      GROUP BY 1, 2
    )
    SELECT m.media_a, m.media_b,
           CAST(m.matched_shots AS BIGINT) AS matched_shots,
           CAST(n.total_shots AS BIGINT) AS total_shots,
           CAST(floor(CAST(m.matched_shots AS DOUBLE) / n.total_shots
                      * 1000000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT)
             / 1000000.0 AS containment
    FROM matched m JOIN nshots n ON n.media_id = m.media_a
"""


# Sign-of-delta (quantized) signature regime on the jittered fixture:
# twins of opposite t-parity differ in every delta magnitude (the
# lossy re-encode stand-in) but never in delta sign, so sign sigs
# match all four group twins while exact sigs would split them 2/2.
# The boilerplate intro ('+++++++' for every clip) is the hot sig the
# cap drops.
_SHOT_CONTAIN_SIGN_ORACLE = """
    WITH ids AS (
      SELECT doc_id AS media_id,
             (doc_id - 2) // 24 AS t,
             ((doc_id - 2) // 24) // 4 AS g
      FROM documents
      WHERE doc_id % 24 = 2 AND (doc_id - 2) // 24 < 60
    ), fr AS (
      SELECT unnest(range(0, 16)) AS f
    ), pre AS (
      SELECT media_id, t, g, f,
             CASE WHEN f < 8 THEN 0 ELSE (
               SELECT coalesce(sum(CASE WHEN
                   (g // power(2, j - 1)::BIGINT) % 2 = 1
                   THEN 4 ELSE -4 END), 0)
               FROM unnest(generate_series(1, f - 8)) AS q(j))
             END AS p
      FROM ids, fr
    ), luma AS (
      SELECT media_id, f,
             CASE WHEN f < 8
                  THEN 64 * (4 * (40 + f * 9 + (media_id % 3) * 4)
                             + 20 * 6)
                  ELSE 64 * (4 * (190 + p + (media_id % 3) * 4
                                  + (t + f) % 2) + 2 * 6)
             END AS s
      FROM pre
    ), marked AS (
      SELECT media_id, f, s,
             s - lag(s) OVER w AS d,
             CASE WHEN f = 0 THEN 0
                  WHEN abs(s - lag(s) OVER w) > 16 * 256 THEN 1
                  ELSE 0 END AS cut_before
      FROM luma WINDOW w AS (PARTITION BY media_id ORDER BY f)
    ), shots AS (
      SELECT media_id, f, d, cut_before,
             sum(cut_before) OVER (PARTITION BY media_id ORDER BY f)
               AS shot_id
      FROM marked
    ), sigs AS (
      SELECT media_id, shot_id,
             md5(coalesce(string_agg(
                 CASE WHEN d > 0 THEN '+' WHEN d < 0 THEN '-'
                      ELSE '0' END, '' ORDER BY f)
                 FILTER (WHERE f > 0 AND cut_before = 0), '')) AS sig
      FROM shots GROUP BY 1, 2
    ), nshots AS (
      SELECT media_id, count(*) AS total_shots FROM sigs GROUP BY 1
    ), hot AS (
      SELECT sig FROM (SELECT sig, media_id FROM sigs GROUP BY 1, 2)
      GROUP BY sig HAVING count(*) > 10
    ), joinable AS (
      SELECT * FROM sigs WHERE sig NOT IN (SELECT sig FROM hot)
    ), matched AS (
      SELECT a.media_id AS media_a, b.media_id AS media_b,
             count(DISTINCT a.shot_id) AS matched_shots
      FROM joinable a JOIN joinable b
        ON a.sig = b.sig AND a.media_id <> b.media_id
      GROUP BY 1, 2
    )
    SELECT m.media_a, m.media_b,
           CAST(m.matched_shots AS BIGINT) AS matched_shots,
           CAST(n.total_shots AS BIGINT) AS total_shots,
           CAST(floor(CAST(m.matched_shots AS DOUBLE) / n.total_shots
                      * 1000000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT)
             / 1000000.0 AS containment
    FROM matched m JOIN nshots n ON n.media_id = m.media_a
"""


@register("video_shot_containment_sign",
          oracle=_SHOT_CONTAIN_SIGN_ORACLE)
def video_shot_containment_sign(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Shot containment under the SIGN-quantized signature regime: the
    jittered fixture's re-encode twins differ in delta magnitudes but
    match on delta signs, so the sign tier recovers all four group
    twins where the exact tier splits them by dither parity; the
    boilerplate intro still drops under the df cap."""
    from ..operators.multimodal import (extract_video_shot_signatures,
                                       shot_containment_pairs,
                                       synthesize_intro_avis)

    docs = _t(spark, sf_dir, "documents")
    ids = docs.where(
        (F.col("doc_id") % 24 == 2)
        & F.expr("(doc_id - 2) div 24 < 60")
    ).select(F.col("doc_id").alias("media_id"))
    sigs = extract_video_shot_signatures(
        synthesize_intro_avis(ids, jitter=True), tau=16, mode="sign")
    return shot_containment_pairs(sigs, max_sig_clips=10)


@register("video_shot_containment_capped",
          oracle=_SHOT_CONTAIN_CAPPED_ORACLE)
def video_shot_containment_capped(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Shot containment under the hot-signature df cap: every clip
    shares a boilerplate intro shot (> cap clips -> dropped before the
    equi-join), group shots still match, and total_shots keeps the
    full count so containment never inflates."""
    from ..operators.multimodal import (extract_video_shot_signatures,
                                       shot_containment_pairs,
                                       synthesize_intro_avis)

    docs = _t(spark, sf_dir, "documents")
    # first 60 clips only: the cap/containment SEMANTICS are what this
    # variant verifies; codec throughput at full fixture scale is
    # already priced by video_shot_containment
    ids = docs.where(
        (F.col("doc_id") % 24 == 2)
        & F.expr("(doc_id - 2) div 24 < 60")
    ).select(F.col("doc_id").alias("media_id"))
    sigs = extract_video_shot_signatures(
        synthesize_intro_avis(ids), tau=16)
    return shot_containment_pairs(sigs, max_sig_clips=10)


# ---------------------------------------------------------------------------
# Per-language curation capstone (CCNet is per-language): language_id
# -> per-language unigram LMs (totals = keyed agg + broadcast, never a
# global window) -> own-language surprisal per doc -> a token-length
# quality gate -> per-language tercile buckets. Terciles come from a
# bounded 4096-bin histogram per language (the histogram_quantiles
# integer rank test: threshold bin = min bin with 3*cum >= k*n), NOT a
# per-language row_number window — the window here runs over <=4096
# bin rows per language regardless of corpus size, and the bucket
# assignment is a map-side broadcast join. Ties inside a bin stay in
# one bucket (CCNet buckets by perplexity VALUE thresholds, not rank).
# ---------------------------------------------------------------------------


_PER_LANG_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, toks,
             {_lang_filter_sql('de')} AS de,
             {_lang_filter_sql('en')} AS en,
             {_lang_filter_sql('es')} AS es,
             {_lang_filter_sql('fr')} AS fr
      FROM t
    ), langed AS (
      SELECT doc_id, toks,
             CASE
               WHEN greatest(de, en, es, fr) < 0.05 THEN 'und'
               WHEN de >= en AND de >= es AND de >= fr THEN 'de'
               WHEN en >= es AND en >= fr THEN 'en'
               WHEN es >= fr THEN 'es'
               ELSE 'fr'
             END AS lang
      FROM s
    ), ltok AS (
      SELECT doc_id, lang, unnest(toks) AS tok
      FROM langed WHERE lang != 'und'
    ), freq AS (
      SELECT lang, tok, count(*) AS cnt FROM ltok GROUP BY 1, 2
    ), tot AS (
      SELECT lang, sum(cnt) AS total FROM freq GROUP BY 1
    ), surp AS (
      SELECT lang, tok,
             CAST(floor(-ln(cnt / total) * 1000000 + 0.5) AS BIGINT) AS q
      FROM freq JOIN tot USING (lang)
    ), d AS (
      SELECT l.doc_id, l.lang, sum(q) AS sq, count(*) AS n
      FROM ltok l JOIN surp USING (lang, tok) GROUP BY 1, 2
    ), g AS (
      SELECT doc_id, lang,
             CAST(floor(sq / 1000000.0 / n * 1000000 + 0.5) AS BIGINT)
               AS mq
      FROM d WHERE n >= 5
    ), b AS (
      SELECT doc_id, lang, mq,
             least(mq * 4096 // 16000000, 4095) AS bin
      FROM g
    ), bc AS (
      SELECT lang, bin, count(*) AS c FROM b GROUP BY 1, 2
    ), cum AS (
      SELECT lang, bin,
             sum(c) OVER (PARTITION BY lang ORDER BY bin
                          ROWS UNBOUNDED PRECEDING) AS cum,
             sum(c) OVER (PARTITION BY lang) AS n
      FROM bc
    ), th AS (
      SELECT lang,
             min(CASE WHEN 3 * cum >= n THEN bin END) AS t1,
             min(CASE WHEN 3 * cum >= 2 * n THEN bin END) AS t2
      FROM cum GROUP BY 1
    )
    SELECT b.doc_id, b.lang, mq / 1000000.0 AS mean_surprisal,
           CASE WHEN bin <= t1 THEN 'head'
                WHEN bin <= t2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM b JOIN th USING (lang)
"""


@register("per_language_curation", oracle=_PER_LANG_ORACLE)
def per_language_curation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language CCNet-style curation: own-language LM surprisal,
    n_tokens >= 5 quality gate, per-language value-threshold terciles
    from a bounded histogram."""
    from ..functions import text as X
    from ..operators.dedup import per_language_unigram_surprisal

    docs = _t(spark, sf_dir, "documents")
    surp = per_language_unigram_surprisal(
        docs.where(X.lang_id_multi(F.col("text")) != "und"),
        X.lang_id_multi(F.col("text")))
    g = surp.where(F.col("n_tokens") >= 5).select(
        "doc_id", "lang",
        F.floor(F.col("mean_surprisal").cast("double") * 1e6 + F.lit(0.5))
        .cast("long").alias("mq"))
    b = g.withColumn(
        "bin", F.least(F.expr("mq * 4096 div 16000000"), F.lit(4095)))
    bc = b.groupBy("lang", "bin").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.partitionBy("lang").orderBy("bin") \
        .rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.partitionBy("lang")
    cum = (bc.withColumn("cum", F.sum("c").over(wcum))
           .withColumn("n", F.sum("c").over(wn)))
    th = cum.groupBy("lang").agg(
        F.min(F.when(3 * F.col("cum") >= F.col("n"), F.col("bin")))
        .alias("t1"),
        F.min(F.when(3 * F.col("cum") >= 2 * F.col("n"), F.col("bin")))
        .alias("t2"))
    return (
        b.join(F.broadcast(th), "lang")
        .select(
            "doc_id", "lang",
            (F.col("mq") / F.lit(1e6)).alias("mean_surprisal"),
            F.when(F.col("bin") <= F.col("t1"), "head")
            .when(F.col("bin") <= F.col("t2"), "middle")
            .otherwise("tail").alias("bucket"),
        )
    )


# ---------------------------------------------------------------------------
# Quality-aware canonical selection: keep the HIGHEST-QUALITY member
# of each near-dup cluster (not the min-id one) — the curation upgrade
# over dedup_clusters' arbitrary representative. Rank key is the
# 1e-6-quantized composite quality (exact on both engines), doc_id
# tiebreak; the per-cluster window is bounded by the LSH cluster size.
# ---------------------------------------------------------------------------


_BEST_CLUSTER_ORACLE = _COMP_SQL + f"""
    , qm AS (
      SELECT doc_id,
             string_split(lower(text), ' ') AS ltoks,
             length(text) AS nch,
             length(text) - length(regexp_replace(text,
               '[^a-zA-Z0-9 ]', '', 'g')) AS np
      FROM documents
    ), qr AS (
      SELECT doc_id,
             CAST(np AS DOUBLE) / greatest(nch, 1) AS punct_ratio,
             CAST(len(list_filter(ltoks, t -> t IN
               ('the','a','an','and','or','of','to','in','is','it',
                'that','for','on','with','as','are','was','at','by','be')))
               AS DOUBLE) / greatest(len(ltoks), 1) AS stopword_ratio,
             nch
      FROM qm
    ), qual AS (
      SELECT doc_id,
             {R('(least(nch / 200.0, 1.0)'
                ' + least(stopword_ratio * 5.0, 1.0)'
                ' + (1.0 - least(punct_ratio * 4.0, 1.0))) / 3.0', 6)}
               AS quality
      FROM qr
    ), sized AS (
      SELECT node AS doc_id, cluster_rep,
             count(*) OVER (PARTITION BY cluster_rep) AS cluster_size
      FROM comp
    ), ranked AS (
      SELECT s.doc_id, s.cluster_rep, s.cluster_size, q.quality,
             row_number() OVER (PARTITION BY s.cluster_rep
                                ORDER BY q.quality DESC, s.doc_id ASC)
               AS rn
      FROM sized s JOIN qual q USING (doc_id)
    )
    SELECT doc_id, cluster_rep,
           CAST(cluster_size AS BIGINT) AS cluster_size, quality,
           (rn = 1) AS is_canonical
    FROM ranked
"""


@register("dedup_best_of_cluster", oracle=_BEST_CLUSTER_ORACLE)
def dedup_best_of_cluster_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters with the highest-quality member marked
    canonical (quality-aware representative selection)."""
    from ..functions.text import quality_score
    from ..operators.dedup import (
        duplicate_clusters,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, num_hashes=8, shingle_k=3)
    pairs = lsh_candidate_pairs(sig, num_hashes=8, bands=4)
    clusters = duplicate_clusters(pairs, docs.select("doc_id"))
    qual = docs.select(
        "doc_id",
        (F.floor(quality_score(F.col("text")) * 1e6 + F.lit(0.5)) / 1e6)
        .alias("quality"))
    w = Window.partitionBy("cluster_rep").orderBy(
        F.desc("quality"), F.asc("doc_id"))
    return (
        clusters.join(qual, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .select("doc_id", "cluster_rep", "cluster_size", "quality",
                (F.col("rn") == 1).alias("is_canonical"))
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination — the 100 TB scale path of exact
# 5-gram eval-set overlap: the eval set's 5-gram Bloom
# (32k bigint words — broadcastable at ANY corpus size, no false
# negatives) probes the training corpus MAP-SIDE; only probabilistic
# survivors would pay an exact recheck. The bit table is
# deterministic integer md5 math, so the ORACLE rebuilds the exact
# same words and probes them — the sketch state itself is
# differentially verified, FP mass included (exact_hits <= maybe_hits
# by construction).
# ---------------------------------------------------------------------------

_BLOOM_DECON_M = 1 << 20
_BLOOM_DECON_K = 5

_BLOOM_DECON_ORACLE = f"""
    WITH g5 AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i + 1 : i + 5], ' ')
               AS sh
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(0, greatest(n - 5, 0))) AS i
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks,
                     len(string_split(lower(text), ' ')) AS n
              FROM documents)
      )
    ), ev AS (
      SELECT DISTINCT sh FROM g5 WHERE doc_id % 19 = 3
    ), tr AS (
      SELECT doc_id, sh FROM g5 WHERE doc_id % 19 != 3
    ), epos AS (
      SELECT CAST('0x' || substr(md5('b' || CAST(i AS VARCHAR) || '|'
                                     || sh), 1, 15) AS BIGINT)
               % {_BLOOM_DECON_M} AS p
      FROM ev CROSS JOIN (SELECT unnest(range(0, {_BLOOM_DECON_K}))
                          AS i)
    ), bloom AS (
      SELECT CAST(p // 32 AS INT) AS word_idx,
             bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS word
      FROM epos GROUP BY 1
    ), tp AS (
      SELECT doc_id, sh,
             CAST('0x' || substr(md5('b' || CAST(i AS VARCHAR) || '|'
                                     || sh), 1, 15) AS BIGINT)
               % {_BLOOM_DECON_M} AS p
      FROM tr CROSS JOIN (SELECT unnest(range(0, {_BLOOM_DECON_K}))
                          AS i)
    ), tb AS (
      SELECT doc_id, sh,
             min(CASE WHEN (coalesce(word, CAST(0 AS BIGINT))
                            & (CAST(1 AS BIGINT) << CAST(p % 32 AS INT)))
                      = (CAST(1 AS BIGINT) << CAST(p % 32 AS INT))
                 THEN 1 ELSE 0 END) AS maybe
      FROM tp LEFT JOIN bloom ON bloom.word_idx = CAST(p // 32 AS INT)
      GROUP BY 1, 2
    ), ex AS (
      SELECT t.doc_id, t.sh,
             CASE WHEN e.sh IS NOT NULL THEN 1 ELSE 0 END AS ehit
      FROM tr t LEFT JOIN ev e USING (sh)
    )
    SELECT tb.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(ex.ehit) AS BIGINT) AS exact_hits,
           CAST(sum(tb.maybe) AS BIGINT) AS maybe_hits,
           sum(tb.maybe) >= 8 AS flagged
    FROM tb JOIN ex USING (doc_id, sh)
    GROUP BY 1
"""


@register("bloom_decontamination", oracle=_BLOOM_DECON_ORACLE)
def bloom_decontamination_q(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Eval-set 5-gram Bloom probe over the training corpus: per-doc
    distinct grams, exact overlap, probabilistic hits, flag at >= 8 —
    the sketch bits verified word-for-word through the probe."""
    from ..functions.text import word_shingles
    from ..operators._scan import spread_scan
    from ..operators.sketch import bloom_build, bloom_probe

    # 5-gram construction + k md5 probes per gram are the CPU mass and
    # run in the scan stage — spread the under-split single-file scan
    # (r12, guide §2.5; no-op at real split counts)
    docs = spread_scan(_t(spark, sf_dir, "documents"), "doc_id")
    evalset = docs.where(F.col("doc_id") % 19 == 3)
    train = docs.where(F.col("doc_id") % 19 != 3)
    # array_distinct before the explode: per-doc duplicate grams never
    # reach the md5 probes or the dedup exchange (pure mass reduction
    # — the probe-level distinct still owns cross-row dedup)
    eg = evalset.select(
        F.explode(F.array_distinct(word_shingles(F.col("text"), 5)))
        .alias("gram"))
    bloom = bloom_build(eg, "gram", m_bits=_BLOOM_DECON_M,
                        k_hashes=_BLOOM_DECON_K)
    ev_dim = eg.distinct().withColumn("__e", F.lit(1))
    tg = train.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(F.col("text"), 5)))
        .alias("gram"))
    # r12 (guide §3.2): probe the Bloom map-side; the exact-hit column
    # comes from ONE broadcast left join of the eval-gram dim (an eval
    # set is bounded by construction — a benchmark suite, not a
    # corpus — so the dim broadcasts at any corpus scale). The earlier
    # union-of-branches shape re-derived the whole k-md5 probe subtree
    # once per branch (the map mass x2); a single derivation with the
    # no-false-negative gate expressed as when() is value-identical
    # (a non-survivor's exact join is NULL by Bloom's contract).
    probed = bloom_probe(bloom, tg, "gram", m_bits=_BLOOM_DECON_M,
                         k_hashes=_BLOOM_DECON_K)
    out = (probed.join(F.broadcast(ev_dim), "gram", "left")
           .withColumn("__e", F.when(F.col("maybe_present"),
                                     F.col("__e"))))
    return out.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum(F.when(F.col("__e").isNotNull(), 1).otherwise(0))
        .cast("long").alias("exact_hits"),
        F.sum(F.col("maybe_present").cast("int")).cast("long")
        .alias("maybe_hits"),
        (F.sum(F.col("maybe_present").cast("int")) >= 8)
        .alias("flagged"))


# ---------------------------------------------------------------------------
# Paragraph-level exact dedup (Dolma/RefinedWeb boilerplate pass) and
# edit-distance pair verification
# ---------------------------------------------------------------------------


# The documents fixture is single-line, so the query SYNTHESIZES the
# paragraph structure deterministically in both engines: re-delimit
# every 8 tokens into a paragraph, then append a newsletter blurb to
# every doc and a copyright footer to even docs — the cross-doc
# boilerplate this pass exists to strip (keep-first: doc 0 retains
# its copy).
_PARA_SYNTH_SQL = r"""
    synth AS (
      SELECT doc_id,
             regexp_replace(text, '((?:\S+ ){8})',
                            '\1' || chr(10) || chr(10), 'g')
             || chr(10) || chr(10) || 'subscribe to our newsletter today'
             || CASE WHEN doc_id % 2 = 0
                     THEN chr(10) || chr(10)
                          || 'copyright footer all rights reserved'
                     ELSE '' END AS text
      FROM documents
    )
"""


_PARA_DEDUP_ORACLE = "WITH " + _PARA_SYNTH_SQL + r"""
    , parts AS (
      SELECT doc_id, string_split_regex(text, '\n{2,}') AS ps FROM synth
    ), paras AS (
      SELECT doc_id, unnest(range(1, len(ps) + 1)) AS pos,
             unnest(ps) AS para
      FROM parts
    ), clean AS (
      SELECT * FROM paras WHERE trim(para) <> ''
    ), ranked AS (
      SELECT doc_id, pos, para,
             row_number() OVER (
               PARTITION BY md5(lower(regexp_replace(trim(para),
                                                     '\s+', ' ', 'g')))
               ORDER BY doc_id, pos) AS rn
      FROM clean
    ), agg AS (
      SELECT doc_id,
             string_agg(para, chr(10) || chr(10) ORDER BY pos)
                 AS cleaned_text,
             count(*) AS n_kept
      FROM ranked WHERE rn = 1 GROUP BY doc_id
    ), tot AS (
      SELECT doc_id, count(*) AS n_paras FROM clean GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(a.cleaned_text, '') AS cleaned_text,
           CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(coalesce(t.n_paras, 0) - coalesce(a.n_kept, 0) AS BIGINT)
               AS n_dropped
    FROM documents d
    LEFT JOIN tot t ON t.doc_id = d.doc_id
    LEFT JOIN agg a ON a.doc_id = d.doc_id
"""


@register("paragraph_dedup", oracle=_PARA_DEDUP_ORACLE)
def paragraph_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide keep-first paragraph dedup — the boilerplate pass
    document-level MinHash cannot do (a footer shared by every page
    never moves document Jaccard, but dominates n-gram mass at 100 TB).
    One shuffle on the paragraph fingerprint, one on the doc id."""
    from ..operators.dedup import paragraph_dedup

    docs = _t(spark, sf_dir, "documents")
    out = paragraph_dedup(_para_synth(docs))
    return out.select(
        "doc_id", "cleaned_text",
        F.col("n_kept").cast("long").alias("n_kept"),
        F.col("n_dropped").cast("long").alias("n_dropped"),
    )


# Candidate verification by banded Levenshtein: planted mutants
# (doc_id + 1000000 = same text with the first two chars rewritten)
# must survive the <= 10-edit gate; adjacent-id noise pairs must not.
_EDIT_VERIFY_ORACLE = """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, 'xx' || substr(text, 3) AS text
      FROM documents
    ), cand AS (
      SELECT doc_id AS id_a, doc_id + 1000000 AS id_b FROM documents
      UNION ALL
      SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents
    ), j AS (
      SELECT c.id_a, c.id_b, levenshtein(a.text, b.text) AS edit_dist
      FROM cand c
      JOIN corpus a ON a.doc_id = c.id_a
      JOIN corpus b ON b.doc_id = c.id_b
    )
    SELECT id_a, id_b, CAST(edit_dist AS BIGINT) AS edit_dist
    FROM j WHERE edit_dist <= 10
"""


@register("edit_verified_pairs", oracle=_EDIT_VERIFY_ORACLE)
def edit_verified_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision tier after LSH recall: threshold-capped Levenshtein
    (banded DP, O(len * k) per pair, early exit above the cap) over a
    bounded candidate list — cost scales with candidates, never the
    corpus. The noise arm (adjacent ids, ~300-char random texts) is
    dropped by the cap; the planted 2-edit mutants survive."""
    from ..operators.dedup import edit_distance_verify

    docs = _t(spark, sf_dir, "documents")
    mut = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("xx"), F.expr("substring(text, 3)")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(mut)
    cand = (
        docs.select(F.col("doc_id").alias("id_a"),
                    (F.col("doc_id") + 1000000).alias("id_b"))
        .unionByName(
            docs.select(F.col("doc_id").alias("id_a"),
                        (F.col("doc_id") + 1).alias("id_b")))
    )
    out = edit_distance_verify(corpus, cand, max_dist=10)
    return out.select(
        "id_a", "id_b", F.col("edit_dist").cast("long").alias("edit_dist"))


def _para_synth(docs: DataFrame) -> DataFrame:
    """The synthesized paragraph corpus shared by the paragraph-dedup
    queries (mirror of _PARA_SYNTH_SQL)."""
    return docs.select(
        "doc_id",
        F.concat(
            F.regexp_replace(F.col("text"), r"((?:\S+ ){8})", "$1\n\n"),
            F.lit("\n\nsubscribe to our newsletter today"),
            F.when(F.col("doc_id") % 2 == 0,
                   F.lit("\n\ncopyright footer all rights reserved"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )


@register("incremental_paragraph_parity", oracle=_PARA_DEDUP_ORACLE)
def incremental_paragraph_parity_q(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Daily-drop paragraph dedup, two-batch vs one-shot: batch 1
    (doc_id < 200) seeds a persisted fingerprint store (bucketed on
    fp, keep-first by merge do_nothing), batch 2 probes ONLY the
    store buckets its fps hash into; fed in id order, the union of
    the incremental outputs must equal one-shot paragraph_dedup over
    the full corpus — same one-shot DuckDB oracle, same lambda parity
    contract as incremental_lsh_parity."""
    import tempfile

    from ..operators.dedup import incremental_paragraph_dedup
    from ..sources.store import ParquetMergeStore

    docs = _t(spark, sf_dir, "documents")
    synth = _para_synth(docs)
    store = ParquetMergeStore(
        spark, tempfile.mkdtemp(prefix="aquacache_incpara_"),
        key_cols=["fp"], series_col="fp", n_buckets=32)
    o1 = incremental_paragraph_dedup(store, synth.where(F.col("doc_id") < 200))
    o2 = incremental_paragraph_dedup(store, synth.where(F.col("doc_id") >= 200))
    out = o1.unionByName(o2)
    return out.select(
        "doc_id", "cleaned_text",
        F.col("n_kept").cast("long").alias("n_kept"),
        F.col("n_dropped").cast("long").alias("n_dropped"),
    )


# Composition: connected components over the edit-VERIFIED pair graph
# (the precision tier feeding the same pointer-jumping CC every other
# dedup tier uses). On the planted corpus each real doc and its 2-edit
# mutant form a 2-node cluster; noise pairs were capped out, so no
# chain merges them.
_EDIT_CLUSTERS_ORACLE = """
    WITH RECURSIVE corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, 'xx' || substr(text, 3) AS text
      FROM documents
    ), cand AS (
      SELECT doc_id AS id_a, doc_id + 1000000 AS id_b FROM documents
      UNION ALL
      SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents
    ), verified AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN corpus a ON a.doc_id = c.id_a
      JOIN corpus b ON b.doc_id = c.id_b
      WHERE levenshtein(a.text, b.text) <= 10
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM verified
      UNION SELECT id_b, id_a FROM verified
    ), reach(node, lab) AS (
      SELECT doc_id, doc_id FROM corpus
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
    ), comp AS (
      SELECT node, min(lab) AS cluster_rep FROM reach GROUP BY node
    )
    SELECT node AS doc_id, cluster_rep,
           count(*) OVER (PARTITION BY cluster_rep) AS cluster_size
    FROM comp
"""


@register("edit_verified_clusters", oracle=_EDIT_CLUSTERS_ORACLE)
def edit_verified_clusters_q(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """CC over the Levenshtein-verified pair graph: the precision tier
    composed with the same pointer-jumping components every dedup
    tier shares; every planted (doc, mutant) pair must land in a
    2-node cluster and nothing else may merge."""
    from ..operators.dedup import duplicate_clusters, edit_distance_verify

    docs = _t(spark, sf_dir, "documents")
    mut = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("xx"), F.expr("substring(text, 3)")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(mut)
    cand = (
        docs.select(F.col("doc_id").alias("id_a"),
                    (F.col("doc_id") + 1000000).alias("id_b"))
        .unionByName(
            docs.select(F.col("doc_id").alias("id_a"),
                        (F.col("doc_id") + 1).alias("id_b")))
    )
    pairs = edit_distance_verify(corpus, cand, max_dist=10) \
        .select("id_a", "id_b")
    return duplicate_clusters(pairs, corpus.select("doc_id"))
