"""Stateful sequential operators, the as-of daily recomputation, media
stores, add-new actions, audit field diffs and the PostGIS raster export.

Of the media-decoding tier only ``jpeg_decode_features`` is left: it
is perfbench's batch probe (named in ``perfbench/batch_analytics.py``),
and it is the one query here that reaches ``operators/multimodal.py``
and ``functions/jpeg.py``. tests/test_import_boundary.py pins that.

Split out of the original flat queries.py (r9); section order preserved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import catalog
from ..session import local_df as _ldf
from ._common import (
    DSUM, R, _RASTER_CELLS_SQL, _raster_cells, _refresh_tail_sql, _round, _t,
    register,
)


# ---------------------------------------------------------------------------
# §2.6 stateful sequential operators. Each sequential kernel is
# oracle-checked end-to-end: the DuckDB side replays the same scan with
# a recursive CTE (increments, calculate_period) or the same closed-form
# arithmetic (4-knot spline), every float op mirrored in order so the
# deterministic rounding idiom hash-matches.
# ---------------------------------------------------------------------------

# 6h-binned cumulative gauge (integer micro-units so the cumsum is
# exact and order-independent), wrapped at 100.0, dense cadence grid,
# then the reference scan (R/compute_increments.R:82-121) replayed row
# by row in a recursive CTE carrying (increment, last_max).
_INC_BASE = lambda rd, mp, mg: f"""
    WITH RECURSIVE b AS (
      SELECT user_id,
             TIMESTAMP '1970-01-01'
               + CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 21600) * 21600 AS BIGINT)
                 * INTERVAL 1 SECOND AS bt,
             sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS sm
      FROM events GROUP BY 1, 2
    ), c AS (
      SELECT user_id, bt,
             (sum(sm) OVER (PARTITION BY user_id ORDER BY bt)) % 100000000 AS gm
      FROM b
    ), spine AS (
      SELECT user_id,
             unnest(generate_series(min(bt), max(bt), INTERVAL 6 HOUR)) AS bt
      FROM c GROUP BY user_id
    ), g AS (
      SELECT s.user_id, s.bt, c.gm / 1000000.0 AS v
      FROM spine s LEFT JOIN c USING (user_id, bt)
    ), gi AS (
      SELECT user_id, bt, v,
             row_number() OVER (PARTITION BY user_id ORDER BY bt) AS rn,
             sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY bt) AS grp
      FROM g
    ), runlen AS (
      SELECT user_id, bt, v, rn,
             sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id, grp) AS na_len
      FROM gi
    ), base AS (
      SELECT user_id, rn, bt, v,
             lag(v) OVER (PARTITION BY user_id ORDER BY rn) AS pv,
             coalesce(lag(CASE WHEN v IS NULL THEN na_len ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY rn), 0) AS prev_run
      FROM runlen
    ), scan AS (
      SELECT user_id, rn, bt, v, CAST(NULL AS DOUBLE) AS inc, v AS lm
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b.user_id, b.rn, b.bt, b.v,
        CASE WHEN b.pv IS NULL AND b.prev_run > {mg} THEN NULL
             WHEN b.v IS NULL OR b.pv IS NULL THEN NULL
             WHEN b.v - b.pv <= -{rd} THEN 0.0
             WHEN b.v - (CASE WHEN s.lm >= b.pv THEN s.lm ELSE b.pv END) >= {mp}
               THEN b.v - (CASE WHEN s.lm >= b.pv THEN s.lm ELSE b.pv END)
             ELSE 0.0 END AS inc,
        CASE WHEN b.pv IS NULL AND b.prev_run > {mg} THEN coalesce(b.v, s.lm)
             WHEN b.v IS NULL OR b.pv IS NULL THEN s.lm
             WHEN b.v - b.pv <= -{rd} THEN b.v
             WHEN b.v - (CASE WHEN s.lm >= b.pv THEN s.lm ELSE b.pv END) >= {mp}
               THEN b.v
             ELSE s.lm END AS lm
      FROM scan s JOIN base b ON b.user_id = s.user_id AND b.rn = s.rn + 1
    )
"""

_INCREMENTS_ORACLE = _INC_BASE("20.0", "0.25", 3) + f"""
    SELECT user_id, bt, {R('v', 6)} AS gauge, {R('inc', 6)} AS increment
    FROM scan
"""


@register("increments_stateful", oracle=_INCREMENTS_ORACLE)
def increments_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reset-aware increments (R/compute_increments.R:82-121) on a
    6h-binned cumulative-with-wraparound gauge built from events, with
    the reference's NA-cadence gap rows emitted (:33-67). The DuckDB
    oracle replays the identical scan as a recursive CTE, so this row
    is a full rows+schema+hash check of the sequential kernel."""
    from pyspark.sql import Window
    from ..operators.increments import compute_increments

    ev = _t(spark, sf_dir, "events")
    b = ev.groupBy(
        "user_id",
        F.timestamp_seconds(
            F.floor(F.unix_timestamp("ts") / 21600) * 21600
        ).alias("bt"),
    ).agg(
        F.sum(F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long"))
        .alias("sm")
    )
    w = Window.partitionBy("user_id").orderBy("bt")
    g = b.select(
        "user_id", "bt",
        ((F.sum("sm").over(w) % F.lit(100000000)) / 1000000.0).alias("gauge"),
    )
    out = compute_increments(
        g, keys=["user_id"], dt_col="bt", value_col="gauge",
        reset_drop=20.0, min_pos=0.25, period_seconds=21600.0, max_gap=3,
        emit_gap_rows=True,
    )
    return _round(out.select("user_id", "bt", "gauge", "increment"),
                  {"gauge": 6, "increment": 6})


# 4-knot natural cubic spline: interior single-point gaps get exactly
# two known knots on each side, so the tridiagonal solve collapses to
# the fixed Thomas-algorithm op sequence mirrored here step by step
# (operators/impute.py:natural_cubic_spline with context_points=2).
_SPLINE_ORACLE = f"""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events
    ), m AS (
      SELECT user_id, ts, event_id, rn,
             CASE WHEN rn % 17 = 4 AND rn > 2 AND rn <= n - 2
                  THEN NULL ELSE value END AS value
      FROM e
    ), k AS (
      SELECT user_id, ts, event_id, value,
             epoch(lag(ts, 2) OVER w)  AS x0, lag(value, 2) OVER w  AS y0,
             epoch(lag(ts, 1) OVER w)  AS x1, lag(value, 1) OVER w  AS y1,
             epoch(lead(ts, 1) OVER w) AS x2, lead(value, 1) OVER w AS y2,
             epoch(lead(ts, 2) OVER w) AS x3, lead(value, 2) OVER w AS y3,
             epoch(ts) AS xq
      FROM m
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), h AS (
      SELECT *, x1 - x0 AS h0, x2 - x1 AS h1, x3 - x2 AS h2 FROM k
    ), dd AS (
      SELECT *,
             6.0 * ((y2 - y1) / h1 - (y1 - y0) / h0) AS d1,
             6.0 * ((y3 - y2) / h2 - (y2 - y1) / h1) AS d2,
             2.0 * (h0 + h1) AS b0, 2.0 * (h1 + h2) AS b1
      FROM h
    ), th AS (
      SELECT *, h1 / b0 AS cp0, d1 / b0 AS dp0 FROM dd
    ), th2 AS (
      SELECT *, (d2 - h1 * dp0) / (b1 - h1 * cp0) AS m2 FROM th
    ), th3 AS (
      SELECT *, dp0 - cp0 * m2 AS m1 FROM th2
    ), ev2 AS (
      SELECT user_id, ts, event_id, value,
             (xq - x1) / (x2 - x1) AS t, x2 - x1 AS hseg, y1, y2, m1, m2
      FROM th3
    ), sv AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN value IS NOT NULL THEN NULL ELSE
               y1 * (1 - t) + y2 * t
               + (hseg * hseg / 6.0)
                 * ((m1 * ((1 - t) * (1 - t) * (1 - t) - (1 - t)))
                    + (m2 * (t * t * t - t)))
             END AS fill
      FROM ev2
    )
    SELECT user_id, ts, event_id,
           {R('coalesce(value, fill)', 4)} AS value,
           (value IS NULL AND fill IS NOT NULL) AS imputed
    FROM sv
"""


@register("spline_imputation", oracle=_SPLINE_ORACLE)
def spline_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cubic-spline gap fill (imputeMissing spline path,
    R/imputeMissing.R:1129-1145): every 17th row (interior only, so two
    known neighbors exist on each side) is masked and re-estimated from
    the 4 surrounding knots; the DuckDB oracle mirrors the Thomas-solve
    arithmetic op for op."""
    from pyspark.sql import Window
    from ..operators.impute import spline_fill

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    masked = (
        ev.select("user_id", "ts", "event_id", "value")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count("*").over(wn))
        .withColumn(
            "value",
            F.when(
                (F.col("rn") % 17 == 4)
                & (F.col("rn") > 2) & (F.col("rn") <= F.col("n") - 2),
                F.lit(None),
            ).otherwise(F.col("value")),
        )
        .select("user_id", "ts", "event_id", "value")
    )
    out = spline_fill(masked, keys=["user_id"], dt_col="ts",
                      value_col="value", context_points=2)
    return _round(out.select("user_id", "ts", "event_id", "value", "imputed"),
                  {"value": 4})


# The reference change-point scan (R/calculate_period.R:87-107) replayed
# in a recursive CTE: hours-unit diffs, centered 3-median with NA edges,
# a consecutive-difference counter that adopts the third differing
# smoothed diff backdated 2 rows, then ffill/bfill (:132-135) and the
# hours->ISO-8601 float chain (:111-129).
_PERIOD_ORACLE = f"""
    WITH RECURSIVE e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ), d AS (
      SELECT l.user_id, l.rn AS j,
             (epoch_us(r.ts) - epoch_us(l.ts)) / 3600000000.0 AS diff
      FROM e l JOIN e r ON r.user_id = l.user_id AND r.rn = l.rn + 1
    ), dm AS (
      SELECT user_id, max(j) AS maxj FROM d GROUP BY user_id
    ), sm AS (
      SELECT d.user_id, d.j,
             CASE WHEN d.j = 1 OR d.j = dm.maxj THEN NULL ELSE
               CASE
                 WHEN (pd <= diff AND diff <= nd) OR (nd <= diff AND diff <= pd)
                   THEN diff
                 WHEN (diff <= pd AND pd <= nd) OR (nd <= pd AND pd <= diff)
                   THEN pd
                 ELSE nd
               END
             END AS smoothed
      FROM (
        SELECT user_id, j, diff,
               lag(diff)  OVER (PARTITION BY user_id ORDER BY j) AS pd,
               lead(diff) OVER (PARTITION BY user_id ORDER BY j) AS nd
        FROM d
      ) d JOIN dm USING (user_id)
    ), scan AS (
      SELECT user_id, 1 AS j, 0 AS cnt, CAST(0.0 AS DOUBLE) AS last_p,
             CAST(NULL AS DOUBLE) AS change
      FROM sm WHERE j = 1
      UNION ALL
      SELECT s.user_id, d.j,
        CASE WHEN d.smoothed IS NOT NULL AND d.smoothed <> s.last_p
             THEN CASE WHEN s.cnt + 1 = 3 THEN 0 ELSE s.cnt + 1 END
             ELSE 0 END AS cnt,
        CASE WHEN d.smoothed IS NOT NULL AND d.smoothed <> s.last_p
                  AND s.cnt + 1 = 3
             THEN d.smoothed ELSE s.last_p END AS last_p,
        CASE WHEN d.smoothed IS NOT NULL AND d.smoothed <> s.last_p
                  AND s.cnt + 1 = 3
             THEN d.smoothed ELSE NULL END AS change
      FROM scan s JOIN sm d ON d.user_id = s.user_id AND d.j = s.j + 1
    ), ch AS (
      SELECT user_id, j - 2 AS rn, change FROM scan WHERE change IS NOT NULL
    ), fills AS (
      SELECT e.user_id, e.rn, e.ts, e.event_id,
             coalesce(
               ch.change,
               last_value(ch.change IGNORE NULLS) OVER
                 (PARTITION BY e.user_id ORDER BY e.rn
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               first_value(ch.change IGNORE NULLS) OVER
                 (PARTITION BY e.user_id ORDER BY e.rn
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
             ) AS ph
      FROM e LEFT JOIN ch ON ch.user_id = e.user_id AND ch.rn = e.rn
    )
    SELECT user_id, ts, event_id, {R('ph', 6)} AS period_hours,
           CASE WHEN ph IS NULL THEN NULL ELSE
             'P' || CAST(CAST(floor(ph / 24) AS BIGINT) AS VARCHAR)
             || 'DT' || CAST(CAST(floor(ph % 24) AS BIGINT) AS VARCHAR)
             || 'H' || CAST(CAST(floor(((ph % 24) - floor(ph % 24)) * 60) AS BIGINT) AS VARCHAR)
             || 'M' || CAST(CAST(floor(((((ph % 24) - floor(ph % 24)) * 60)
                          - floor(((ph % 24) - floor(ph % 24)) * 60)) * 60 + 0.5) AS BIGINT) AS VARCHAR)
             || 'S'
           END AS period
    FROM fills
"""


@register("calculate_period", oracle=_PERIOD_ORACLE)
def calculate_period_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cadence detection + ISO-8601 period (R/calculate_period.R:82-135)
    — the sequential adopt/backdate scan oracle-checked via a DuckDB
    recursive CTE replay."""
    from ..operators.period import calculate_period

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    out = calculate_period(ev, keys=["user_id"], dt_col="ts")
    return _round(
        out.select("user_id", "ts", "event_id", "period_hours", "period"),
        {"period_hours": 6},
    )


# ---------------------------------------------------------------------------
# §2.12 measurements_calculated_daily_at (patch_50.R:128-420): POINT-IN-TIME
# daily recomputation. The reference replays the audit log to the requested
# timestamp (latest committed version per measurement key wins, delete
# images drop the key) and then runs the exact same daily ladder as the
# live table. Orders play a versioned measurement log here: key =
# (priority, order-date, custkey-bucket), version commit time = order-date
# + (orderkey % 997) hours, and a latest version with status 'P' is a
# tombstone. Everything downstream of the snapshot is the already-audited
# refresh composition — reusing _refresh_tail_sql pins BOTH queries to one
# ladder definition.
# ---------------------------------------------------------------------------

_DAILY_AT_ASOF_SEC = 929404800  # 1999-06-15 00:00:00 UTC

_DAILY_AT_ORACLE = f"""
    WITH ver AS (
      SELECT o_orderpriority AS priority,
             CAST(o_orderdate AS DATE) AS date,
             o_custkey % 4 AS bucket,
             o_orderkey AS vid,
             CAST(epoch(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT)
               + 3600 * (o_orderkey % 997) AS mod_sec,
             o_orderstatus AS status,
             CAST(o_totalprice AS DOUBLE) AS value
      FROM orders
    ), vis AS (
      SELECT *, row_number() OVER (
        PARTITION BY priority, date, bucket
        ORDER BY mod_sec DESC, vid DESC) AS rn
      FROM ver WHERE mod_sec <= {_DAILY_AT_ASOF_SEC}
    ), snap AS (
      SELECT priority, date, value FROM vis WHERE rn = 1 AND status <> 'P'
    ), daily AS (
      SELECT priority, date, {DSUM('value')} / count(value) AS value
      FROM snap GROUP BY 1, 2 HAVING count(value) > 0""" + _refresh_tail_sql(
    """SELECT priority, max(date) AS last_d FROM snap GROUP BY 1"""
)


@register("daily_calculated_at", oracle=_DAILY_AT_ORACLE)
def daily_calculated_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """measurements_calculated_daily_at (patch_50.R:128-420): as-of
    snapshot of a versioned measurement log (key-partitioned row_number
    over commit time, tombstones dropped) -> the SAME
    refresh_calculated_daily ladder as the live table (rollup -> dense
    spine -> DOY stats -> NULL ladder -> Feb-29 smoothing -> tail trim).

    Scale: the snapshot is one shuffle on the measurement key (the same
    key any ingest partitions by); the version filter is a pushed-down
    scan predicate; downstream is the audited refresh plan unchanged."""
    from ..operators.refresh import refresh_calculated_daily

    o = _t(spark, sf_dir, "orders")
    ver = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").cast("date").alias("date"),
        (F.col("o_custkey") % 4).alias("bucket"),
        F.col("o_orderkey").alias("vid"),
        (
            F.unix_timestamp(F.col("o_orderdate").cast("timestamp"))
            + 3600 * (F.col("o_orderkey") % 997)
        ).alias("mod_sec"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("double").alias("value"),
    ).where(F.col("mod_sec") <= F.lit(_DAILY_AT_ASOF_SEC))
    w = Window.partitionBy("priority", "date", "bucket").orderBy(
        F.desc("mod_sec"), F.desc("vid")
    )
    snap = (
        ver.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("status") != "P"))
        .select(
            "priority", F.col("date").cast("timestamp").alias("ts"), "value"
        )
    )
    out = refresh_calculated_daily(
        snap, [], series_col="priority", dt_col="ts", value_col="value",
        agg_type="mean", today="2026-01-15",
    )
    return _round(
        out,
        {"value": 4, "percent_historic_range": 4, "max": 4, "min": 4,
         "mean": 4, "q10": 4, "q25": 4, "q50": 4, "q75": 4, "q90": 4},
    )


# ---------------------------------------------------------------------------
# Media stores (insertACImage.R ON CONFLICT(file_hash) merge,
# getNewImages.R watermarks, insertACDocument.R type validation).
# Binary mass is opaque; hashes computed JVM-side; merges are
# relational classifications keyed on the content hash.
# ---------------------------------------------------------------------------

_IMG_INCOMING_SQL = """
      SELECT sha256(text) AS file_hash,
             CASE WHEN doc_id % 3 = 0 THEN NULL
                  ELSE doc_id % 20 END AS img_series_id,
             TIMESTAMP '2024-03-01 00:00:00'
               + to_minutes(CAST(doc_id AS INT)) AS datetime,
             CASE WHEN doc_id % 4 = 0 THEN NULL
                  ELSE 'img of doc ' || CAST(doc_id AS VARCHAR)
                  END AS description
      FROM documents
"""

_IMG_EXISTING_SQL = """
      SELECT sha256(text) AS file_hash,
             doc_id % 7 AS img_series_id,
             TIMESTAMP '2024-01-01 00:00:00'
               + to_minutes(CAST(doc_id AS INT)) AS datetime,
             'old desc ' || CAST(doc_id AS VARCHAR) AS description
      FROM documents WHERE doc_id % 5 = 0
"""


@register(
    "image_hash_upsert",
    oracle=f"""
    WITH incoming AS ({_IMG_INCOMING_SQL}),
         existing AS ({_IMG_EXISTING_SQL})
    SELECT i.file_hash,
           CASE WHEN e.file_hash IS NULL THEN 'insert' ELSE 'update' END
             AS action,
           COALESCE(i.img_series_id, e.img_series_id) AS img_series_id,
           i.datetime,
           COALESCE(i.description, e.description) AS description
    FROM incoming i LEFT JOIN existing e ON e.file_hash = i.file_hash
    """,
)
def image_hash_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed image upsert (insertACImage.R ON CONFLICT
    (file_hash) DO UPDATE): series/description coalesce to the stored
    value, capture datetime takes the new value. Binary mass derived
    from documents.text; the hash join is the store's bucketing key so
    the merge is co-located at scale. 'keep' rows (untouched existing)
    are excluded so the oracle stays a pure left join."""
    from ..sources.media import image_upsert

    docs = _t(spark, sf_dir, "documents")
    blob = F.col("text").cast("binary")
    base = dict(
        fetch_datetime=F.lit(None).cast("timestamp"),
        share_with=F.lit("public_reader"),
        location_id=F.lit(None).cast("int"),
        latitude=F.lit(60.0), longitude=F.lit(-135.0), format=F.lit("jpg"),
    )
    incoming = docs.select(
        F.sha2(blob, 256).alias("file_hash"),
        F.when(F.col("doc_id") % 3 == 0, None)
        .otherwise(F.col("doc_id") % 20).cast("int").alias("img_series_id"),
        (F.to_timestamp(F.lit("2024-03-01 00:00:00"))
         + F.col("doc_id").cast("int") * F.expr("INTERVAL 1 MINUTE"))
        .alias("datetime"),
        F.when(F.col("doc_id") % 4 == 0, None)
        .otherwise(F.concat(F.lit("img of doc "), F.col("doc_id").cast("string")))
        .alias("description"),
        *[v.alias(k) for k, v in base.items()],
    )
    existing = docs.where(F.col("doc_id") % 5 == 0).select(
        F.sha2(blob, 256).alias("file_hash"),
        (F.col("doc_id") % 7).cast("int").alias("img_series_id"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + F.col("doc_id").cast("int") * F.expr("INTERVAL 1 MINUTE"))
        .alias("datetime"),
        F.concat(F.lit("old desc "), F.col("doc_id").cast("string"))
        .alias("description"),
        *[v.alias(k) for k, v in base.items()],
    )
    out = image_upsert(existing, incoming)
    return out.where(F.col("action") != "keep").select(
        "file_hash", "action", "img_series_id", "datetime", "description"
    )


@register(
    "image_series_watermarks",
    oracle="""
    SELECT user_id % 20 AS img_series_id,
           max(ts) AS last_img,
           max(ts) + INTERVAL 1 SECOND AS next_fetch
    FROM events
    GROUP BY 1
    """,
)
def image_series_watermarks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series incremental image fetch start (getNewImages.R:86-88):
    one second past the newest stored capture — one partial-aggregated
    groupBy, the same watermark shape as the continuous pipeline."""
    from ..sources.media import image_series_watermarks

    ev = _t(spark, sf_dir, "events")
    imgs = ev.select(
        (F.col("user_id") % 20).cast("long").alias("img_series_id"),
        F.col("ts").alias("datetime"),
    )
    return image_series_watermarks(imgs).select(
        "img_series_id", F.col("last_img"), "next_fetch"
    )


@register(
    "image_share_with_restriction",
    oracle="""
    WITH images AS (
      SELECT doc_id AS img_id,
             CASE WHEN doc_id % 3 = 0 THEN NULL
                  ELSE CAST(doc_id % 20 AS INT) END AS img_series_id,
             CASE WHEN doc_id % 2 = 0
                  THEN ['public_reader', 'yg_reader']
                  ELSE ['yg_reader'] END AS share_with
      FROM documents
    ), idx AS (
      SELECT CAST(sid AS INT) AS img_series_id,
             CASE WHEN sid % 4 = 0 THEN ['public_reader']
                  ELSE ['yg_reader_group'] END AS share_with
      FROM (SELECT unnest(range(0, 15)) AS sid)
    ), j AS (
      SELECT i.img_id, i.img_series_id,
             coalesce(NOT list_contains(x.share_with, 'public_reader'),
                      FALSE) AS parent_restrictive,
             list_contains(i.share_with, 'public_reader') AS child_public
      FROM images i LEFT JOIN idx x
        ON x.img_series_id = i.img_series_id
    )
    SELECT img_id, img_series_id, parent_restrictive,
           (img_series_id IS NOT NULL AND parent_restrictive
            AND child_public) AS violation,
           CASE WHEN img_series_id IS NOT NULL AND parent_restrictive
                     AND child_public
                THEN 'images_index entry for img_series_id '
                     || CAST(img_series_id AS VARCHAR)
                     || ' has a restrictive share_with, '
                     || 'images.share_with cannot be {public_reader}'
           END AS reject_reason
    FROM j
    """,
)
def image_share_with_restriction(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """files.enforce_share_with_restriction (patch_26.R:137-160): an
    image under a restrictively-shared series cannot carry
    public_reader. NULL-series and index-absent rows skip; the series
    dim broadcasts."""
    from ..sources.media import image_share_with_validation

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    images = docs.select(
        d.alias("img_id"),
        F.when(d % 3 == 0, F.lit(None))
        .otherwise(d % 20).cast("int").alias("img_series_id"),
        F.when(d % 2 == 0,
               F.array(F.lit("public_reader"), F.lit("yg_reader")))
        .otherwise(F.array(F.lit("yg_reader"))).alias("share_with"),
    )
    # series 15..19 deliberately absent: the trigger's PERFORM finds
    # nothing there, so those rows pass
    idx = spark.range(15).select(
        F.col("id").cast("int").alias("img_series_id"),
        F.when(F.col("id") % 4 == 0, F.array(F.lit("public_reader")))
        .otherwise(F.array(F.lit("yg_reader_group"))).alias("share_with"),
    )
    return image_share_with_validation(images, idx).select(
        "img_id", "img_series_id", "parent_restrictive", "violation",
        "reject_reason")


@register(
    "document_type_validation",
    oracle="""
    WITH dim AS (
      SELECT * FROM (VALUES ('src0', 1), ('src1', 2), ('src2', 3),
                            ('src4', 5)) t(document_type_en, document_type_id)
    ),
    docs AS (
      SELECT 'doc ' || CAST(doc_id AS VARCHAR) AS name,
             source AS type,
             substr(text, 1, CAST(doc_id % 8 AS INT)) AS description,
             doc_id
      FROM documents
    )
    SELECT d.doc_id, d.type,
           dim.document_type_id,
           CASE WHEN dim.document_type_id IS NULL
                  THEN 'unknown document type: ' || d.type
                WHEN length(COALESCE(d.description, '')) < 5
                  THEN 'description must be at least 5 characters'
                ELSE 'ok' END AS status
    FROM docs d LEFT JOIN dim ON dim.document_type_en = d.type
    """,
)
def document_type_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """insertACDocument's gate (R/insertACDocument.R:66-133) as a
    split-validation pass: type resolved against the broadcast dim
    (src3 deliberately missing), short descriptions rejected — every
    violation reported in one scan instead of fail-fast."""
    from ..sources.media import validate_documents

    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc "), F.col("doc_id").cast("string")).alias("name"),
        F.col("source").alias("type"),
        F.expr("substr(text, 1, CAST(doc_id % 8 AS INT))").alias("description"),
        "doc_id",
    )
    dim = _ldf(spark, 
        [("src0", 1), ("src1", 2), ("src2", 3), ("src4", 5)],
        "document_type_en string, document_type_id int",
    )
    ok, rejects = validate_documents(docs, dim)
    out = ok.withColumn("status", F.lit("ok")).unionByName(
        rejects.withColumnRenamed("reject_reason", "status")
    )
    return out.select("doc_id", "type", "document_type_id", "status")


# ---------------------------------------------------------------------------
# addNewContinuous (R/addNewContinuous.R:16): direct-append with
# overwrite modes, set-wise over many series. The query runs the most
# complex mode ('all': wipe-and-replace the incoming temporal range) —
# NA drop, UNS/catalog defaults, instantaneous-period assignment,
# basic-only rejection, existence probe, and range deletes in one
# classified-actions frame. Modes 'no'/'conflict' in tests/test_add_new.py.
# ---------------------------------------------------------------------------

_ADD_NEW_ORACLE = f"""
    WITH ev AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
      FROM events
    ), cat AS (
      SELECT event_type AS tsid,
             CASE WHEN event_type = 'error' THEN 'compound'
                  ELSE 'basic' END AS tstype,
             CASE WHEN length(event_type) % 2 = 0 THEN 'instantaneous'
                  ELSE 'mean' END AS agg,
             'org_' || event_type AS def_owner,
             CAST(length(event_type) AS BIGINT) AS def_dsa
      FROM (SELECT DISTINCT event_type FROM ev)
    ), existing AS (
      SELECT event_type AS tsid, ts AS datetime FROM ev WHERE event_id % 2 = 0
    ), incoming0 AS (
      SELECT event_type AS tsid, ts AS datetime,
             CASE WHEN event_id % 30 != 0 THEN value * 2 END AS value,
             CASE WHEN event_id % 5 != 0 THEN 'contrib' END AS owner
      FROM ev WHERE event_id % 3 = 0
    ), norm AS (
      SELECT i.tsid, i.datetime, i.value,
             COALESCE(i.owner, c.def_owner) AS owner,
             'UNS' AS grade, 'UNS' AS approval, 'UNS' AS qualifier,
             c.def_dsa AS data_sharing_agreement_id,
             CAST(0 AS INT) AS imputed, CAST(0 AS INT) AS no_update,
             CASE WHEN c.agg = 'instantaneous' THEN 0.0 END AS period_seconds,
             (c.tstype IS NULL OR c.tstype != 'basic') AS rej
      FROM incoming0 i LEFT JOIN cat c ON c.tsid = i.tsid
      WHERE i.value IS NOT NULL
    ), probed AS (
      SELECT n.*, (e.tsid IS NOT NULL) AS ex
      FROM norm n LEFT JOIN existing e
        ON e.tsid = n.tsid AND e.datetime = n.datetime
    ), upserts AS (
      SELECT tsid AS timeseries_id, datetime, {R('value', 6)} AS value,
             owner, grade, approval, qualifier,
             data_sharing_agreement_id, imputed, no_update, period_seconds,
             CASE WHEN rej THEN 'reject'
                  WHEN ex THEN 'update' ELSE 'insert' END AS action
      FROM probed
    ), bounds AS (
      SELECT tsid, min(datetime) AS lo, max(datetime) AS hi
      FROM norm WHERE NOT rej GROUP BY 1
    ), dels AS (
      SELECT e.tsid AS timeseries_id, e.datetime,
             CAST(NULL AS DOUBLE) AS value, CAST(NULL AS VARCHAR) AS owner,
             CAST(NULL AS VARCHAR) AS grade, CAST(NULL AS VARCHAR) AS approval,
             CAST(NULL AS VARCHAR) AS qualifier,
             CAST(NULL AS BIGINT) AS data_sharing_agreement_id,
             CAST(NULL AS INT) AS imputed, CAST(NULL AS INT) AS no_update,
             CAST(NULL AS DOUBLE) AS period_seconds,
             'delete' AS action
      FROM existing e JOIN bounds b ON b.tsid = e.tsid
      WHERE e.datetime BETWEEN b.lo AND b.hi
        AND NOT EXISTS (SELECT 1 FROM norm n
                        WHERE NOT n.rej AND n.tsid = e.tsid
                          AND n.datetime = e.datetime)
    )
    SELECT * FROM upserts UNION ALL SELECT * FROM dels
"""


# Unit-change guard (inst/patches/patch_52.R): a units_{phase} update
# is blocked iff the old unit is set, IS DISTINCT FROM the new one,
# and the parameter has discrete results OR measured continuous
# timeseries in that matrix state.
_UNIT_GUARD_ORACLE = """
    WITH params AS (
      SELECT p_partkey AS parameter_id,
             CASE p_partkey % 4 WHEN 1 THEN NULL
                  WHEN 0 THEN 'mg/L' ELSE 'ug/L' END AS units_liquid,
             CASE WHEN p_partkey % 3 = 0 THEN 'mg/kg' END AS units_solid,
             CASE WHEN p_partkey % 5 = 0 THEN 'ppm' END AS units_gas
      FROM part
    ), updates AS (
      SELECT parameter_id,
             CASE parameter_id % 3 WHEN 0 THEN 'g/L' WHEN 1 THEN NULL
                  ELSE units_liquid END AS units_liquid,
             CASE WHEN parameter_id % 2 = 0 THEN 'g/kg'
                  ELSE units_solid END AS units_solid,
             units_gas
      FROM params
    ), ms AS (
      SELECT * FROM (VALUES (1, 'liquid'), (2, 'solid'), (3, 'gas'))
        AS t(matrix_state_id, matrix_state_code)
    ), results AS (
      SELECT l_partkey AS parameter_id,
             1 + l_orderkey % 3 AS matrix_state_id
      FROM lineitem
    ), ts AS (
      SELECT p_partkey * 10 AS timeseries_id,
             p_partkey AS parameter_id,
             1 + p_partkey % 3 AS matrix_state_id
      FROM part WHERE p_partkey % 7 = 0
    ), meas AS (
      SELECT p_partkey * 10 AS timeseries_id FROM part
      WHERE p_partkey % 14 = 0
    ), usage AS (
      SELECT DISTINCT r.parameter_id, m.matrix_state_code AS phase
      FROM results r JOIN ms m USING (matrix_state_id)
      UNION
      SELECT DISTINCT t.parameter_id, m.matrix_state_code AS phase
      FROM ts t JOIN ms m USING (matrix_state_id)
      WHERE EXISTS (SELECT 1 FROM meas
                    WHERE meas.timeseries_id = t.timeseries_id)
    ), melted AS (
      SELECT p.parameter_id, 'liquid' AS phase,
             p.units_liquid AS old_unit, u.units_liquid AS new_unit
      FROM params p JOIN updates u USING (parameter_id)
      UNION ALL
      SELECT p.parameter_id, 'solid', p.units_solid, u.units_solid
      FROM params p JOIN updates u USING (parameter_id)
      UNION ALL
      SELECT p.parameter_id, 'gas', p.units_gas, u.units_gas
      FROM params p JOIN updates u USING (parameter_id)
    )
    SELECT m.parameter_id, m.phase, m.old_unit, m.new_unit,
           CASE
             WHEN m.old_unit IS NOT DISTINCT FROM m.new_unit THEN 'noop'
             WHEN m.old_unit IS NOT NULL AND us.phase IS NOT NULL
             THEN 'blocked'
             ELSE 'update' END AS action
    FROM melted m
    LEFT JOIN usage us
      ON us.parameter_id = m.parameter_id AND us.phase = m.phase
"""


@register("parameter_unit_guard", oracle=_UNIT_GUARD_ORACLE)
def parameter_unit_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.catalog_admin import classify_unit_updates

    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    pk = F.col("p_partkey")
    params = part.select(
        pk.alias("parameter_id"),
        F.when(pk % 4 == 0, "mg/L").when(pk % 4 == 1, None)
        .otherwise("ug/L").alias("units_liquid"),
        F.when(pk % 3 == 0, "mg/kg").alias("units_solid"),
        F.when(pk % 5 == 0, "ppm").alias("units_gas"),
    )
    pid = F.col("parameter_id")
    updates = params.select(
        "parameter_id",
        F.when(pid % 3 == 0, "g/L").when(pid % 3 == 1, None)
        .otherwise(F.col("units_liquid")).alias("units_liquid"),
        F.when(pid % 2 == 0, "g/kg").otherwise(F.col("units_solid"))
        .alias("units_solid"),
        "units_gas",
    )
    ms = _ldf(spark, [(1, "liquid"), (2, "solid"), (3, "gas")],
              ["matrix_state_id", "matrix_state_code"])
    results = li.select(
        F.col("l_partkey").alias("parameter_id"),
        (1 + F.col("l_orderkey") % 3).alias("matrix_state_id"),
    )
    ts = part.where(pk % 7 == 0).select(
        (pk * 10).alias("timeseries_id"), pk.alias("parameter_id"),
        (1 + pk % 3).alias("matrix_state_id"),
    )
    meas = part.where(pk % 14 == 0).select(
        (pk * 10).alias("timeseries_id"))
    return classify_unit_updates(params, updates, ms, results, ts, meas)


# addNewDiscrete parity (R/addNewDiscrete.R:30-120): dim-validated
# sample inserts with sequential sample_id assignment and the result
# NA/detection-limit-condition ladder, classified batch-set-wise.
_ADD_DISCRETE_ORACLE = f"""
    WITH orgs AS (
      SELECT n_name AS name, n_nationkey AS organization_id FROM nation
    ), approvals AS (SELECT unnest(['A', 'UNS', 'C']) AS code
    ), grades AS (SELECT unnest(['A', 'B', 'UNS']) AS code
    ), qualifiers AS (SELECT unnest(['ICE', 'EST', 'UNS']) AS code
    ), samples AS (
      SELECT c_custkey AS batch_id,
             c_custkey % 50 AS location_id,
             TIMESTAMP '2024-01-01 00:00:00'
               + to_hours(c_custkey % 1000) AS datetime,
             CASE WHEN c_custkey % 11 = 0 THEN 'NO SUCH ORG'
                  ELSE (SELECT n_name FROM nation
                        WHERE n_nationkey = c_nationkey) END AS owner,
             CASE WHEN c_custkey % 7 = 0 THEN 'WHO DIS'
                  WHEN c_custkey % 7 = 1 THEN NULL
                  ELSE (SELECT n_name FROM nation
                        WHERE n_nationkey = c_nationkey)
             END AS contributor,
             CASE c_custkey % 5 WHEN 0 THEN 'A' WHEN 1 THEN 'BOGUS'
                  ELSE NULL END AS approval,
             CASE c_custkey % 4 WHEN 0 THEN 'B' WHEN 1 THEN 'Z9'
                  ELSE NULL END AS grade,
             CASE c_custkey % 6 WHEN 0 THEN 'ICE' WHEN 1 THEN 'XX'
                  ELSE NULL END AS qualifier
      FROM customer
    ), judged AS (
      SELECT s.*,
             o.organization_id AS owner_id,
             co.organization_id AS contrib_id,
             a.code AS a_ok, g.code AS g_ok, q.code AS q_ok,
             CASE
               WHEN o.organization_id IS NULL
               THEN 'reject_unknown_owner'
               WHEN s.contributor IS NOT NULL
                    AND co.organization_id IS NULL
               THEN 'reject_unknown_contributor'
               WHEN s.approval IS NOT NULL AND a.code IS NULL
               THEN 'reject_unknown_approval'
               WHEN s.grade IS NOT NULL AND g.code IS NULL
               THEN 'reject_unknown_grade'
               WHEN s.qualifier IS NOT NULL AND q.code IS NULL
               THEN 'reject_unknown_qualifier'
             END AS reason
      FROM samples s
      LEFT JOIN orgs o ON s.owner = o.name
      LEFT JOIN orgs co ON s.contributor = co.name
      LEFT JOIN approvals a ON s.approval = a.code
      LEFT JOIN grades g ON s.grade = g.code
      LEFT JOIN qualifiers q ON s.qualifier = q.code
    ), numbered AS (
      SELECT batch_id, location_id,
             CAST(100 + row_number() OVER (
               ORDER BY location_id, datetime, batch_id) AS BIGINT)
               AS sid
      FROM judged WHERE reason IS NULL
    ), sample_actions AS (
      SELECT 'sample' AS entity, j.batch_id,
             CAST(j.location_id AS BIGINT) AS entity_id,
             COALESCE(j.reason, 'insert') AS action,
             n.sid AS sample_id
      FROM judged j LEFT JOIN numbered n USING (batch_id)
    ), results AS (
      SELECT o_custkey AS batch_id, o_orderkey AS result_id,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE (o_orderkey % 1000) * 0.1 END AS result,
             CASE o_orderkey % 5 WHEN 0 THEN 1 WHEN 1 THEN 2
                  WHEN 2 THEN 3 ELSE NULL END AS result_condition,
             CASE WHEN o_orderkey % 3 <> 0
                  THEN (o_orderkey % 90) * 0.01 END
               AS result_condition_value
      FROM orders
    ), result_actions AS (
      SELECT 'result' AS entity, r.batch_id,
             CAST(r.result_id AS BIGINT) AS entity_id,
             CASE
               WHEN j.reason IS NOT NULL THEN j.reason
               WHEN r.result IS NULL AND r.result_condition IS NULL
               THEN 'drop_na_result'
               WHEN r.result_condition IN (1, 2)
                    AND r.result_condition_value IS NULL
               THEN 'reject_condition_value_missing'
               ELSE 'insert' END AS action,
             n.sid AS sample_id
      FROM results r
      JOIN judged j USING (batch_id)
      LEFT JOIN numbered n USING (batch_id)
    )
    SELECT * FROM sample_actions UNION ALL SELECT * FROM result_actions
"""


@register("add_new_discrete_actions", oracle=_ADD_DISCRETE_ORACLE)
def add_new_discrete_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.add_new import add_new_discrete

    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    k = F.col("c_custkey")
    nat_name = nat.select(F.col("n_nationkey").alias("c_nationkey"),
                          F.col("n_name").alias("__nn"))
    samples = cust.join(nat_name, "c_nationkey").select(
        k.alias("batch_id"),
        (k % 50).alias("location_id"),
        F.timestamp_add("HOUR", (k % 1000).cast("int"),
                        F.lit("2024-01-01 00:00:00").cast("timestamp"))
        .alias("datetime"),
        F.when(k % 11 == 0, "NO SUCH ORG").otherwise(F.col("__nn"))
        .alias("owner"),
        F.when(k % 7 == 0, "WHO DIS")
        .when(k % 7 == 1, F.lit(None).cast("string"))
        .otherwise(F.col("__nn")).alias("contributor"),
        F.when(k % 5 == 0, "A").when(k % 5 == 1, "BOGUS")
        .alias("approval"),
        F.when(k % 4 == 0, "B").when(k % 4 == 1, "Z9").alias("grade"),
        F.when(k % 6 == 0, "ICE").when(k % 6 == 1, "XX")
        .alias("qualifier"),
    )
    ok_ = F.col("o_orderkey")
    results = orders.select(
        F.col("o_custkey").alias("batch_id"),
        ok_.alias("result_id"),
        F.when(ok_ % 7 != 0, (ok_ % 1000) * 0.1).alias("result"),
        F.when(ok_ % 5 == 0, 1).when(ok_ % 5 == 1, 2)
        .when(ok_ % 5 == 2, 3).alias("result_condition"),
        F.when(ok_ % 3 != 0, (ok_ % 90) * 0.01)
        .alias("result_condition_value"),
    )
    orgs = nat.select(F.col("n_name").alias("name"),
                      F.col("n_nationkey").alias("organization_id"))
    approvals = _ldf(spark, [("A",), ("UNS",), ("C",)], ["code"])
    grades = _ldf(spark, [("A",), ("B",), ("UNS",)], ["code"])
    qualifiers = _ldf(spark, [("ICE",), ("EST",), ("UNS",)], ["code"])
    return add_new_discrete(samples, results, orgs, approvals, grades,
                            qualifiers, max_sample_id=100)


@register("add_new_continuous_actions", oracle=_ADD_NEW_ORACLE)
def add_new_continuous_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.add_new import add_new_continuous

    ev = _t(spark, sf_dir, "events")
    k = F.col("event_id")
    existing = ev.where(k % 2 == 0).select(
        F.col("event_type").alias("timeseries_id"),
        F.col("ts").alias("datetime"),
    )
    incoming = ev.where(k % 3 == 0).select(
        F.col("event_type").alias("timeseries_id"),
        F.col("ts").alias("datetime"),
        F.when(k % 30 != 0, F.col("value") * 2).alias("value"),
        F.when(k % 5 != 0, F.lit("contrib")).alias("owner"),
    )
    catalog = ev.select("event_type").distinct().select(
        F.col("event_type").alias("timeseries_id"),
        F.when(F.col("event_type") == "error", "compound")
        .otherwise("basic").alias("timeseries_type"),
        F.when(F.length("event_type") % 2 == 0, "instantaneous")
        .otherwise("mean").alias("aggregation_type"),
        F.concat(F.lit("org_"), F.col("event_type")).alias("default_owner"),
        F.length("event_type").cast("long")
        .alias("default_data_sharing_agreement_id"),
    )
    out = add_new_continuous(incoming, existing, catalog, overwrite="all")
    # nullable booleans cross the pandas bridge differently per engine
    # (None vs NaN); ints compare NULL-safe numerically
    out = out.withColumn("imputed", F.col("imputed").cast("int")) \
             .withColumn("no_update", F.col("no_update").cast("int"))
    return _round(out, {"value": 6})


# ---------------------------------------------------------------------------
# audit.jsonb_changed_fields (patch_37.R:2759-2773): the row-image diff
# at the heart of the audit triggers — keys of the new image whose
# value IS DISTINCT FROM the old image's. Old/new JSON images derive
# from orders on both engines; map_filter keeps it map-only.
# ---------------------------------------------------------------------------

_CHANGED_FIELDS_ORACLE = """
    WITH imgs AS (
      SELECT o_orderkey AS row_id,
             json_object(
               'value', CAST((o_orderkey % 50) * 0.5 AS VARCHAR),
               'grade', CASE o_orderkey % 3 WHEN 0 THEN 'A' ELSE 'B' END,
               'approval', 'APP') AS old_row,
             json_object(
               'value', CAST(
                 CASE WHEN o_orderkey % 4 = 0
                      THEN (o_orderkey % 50) * 0.5 + 1
                      ELSE (o_orderkey % 50) * 0.5 END AS VARCHAR),
               'grade', CASE o_orderkey % 2 WHEN 0 THEN 'A' ELSE 'B' END,
               'approval', 'APP',
               'qualifier', CASE WHEN o_orderkey % 5 = 0 THEN 'EST' END
             ) AS new_row
      FROM orders WHERE o_orderkey % 13 = 1
    )
    SELECT row_id,
           COALESCE(array_to_string(list_sort(list_filter(
             json_keys(new_row),
             k -> json_extract_string(old_row, '$.' || k)
                  IS DISTINCT FROM json_extract_string(new_row, '$.' || k)
           )), ','), '') AS changed_fields
    FROM imgs
"""


@register("audit_changed_fields", oracle=_CHANGED_FIELDS_ORACLE)
def audit_changed_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import bind

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    old_row = F.to_json(F.struct(
        ((k % 50) * 0.5).cast("string").alias("value"),
        F.when(k % 3 == 0, "A").otherwise("B").alias("grade"),
        F.lit("APP").alias("approval"),
    ))
    new_row = F.to_json(F.struct(
        F.when(k % 4 == 0, (k % 50) * 0.5 + 1).otherwise((k % 50) * 0.5)
        .cast("string").alias("value"),
        F.when(k % 2 == 0, "A").otherwise("B").alias("grade"),
        F.lit("APP").alias("approval"),
        F.when(k % 5 == 0, "EST").alias("qualifier"),
    ))
    imgs = o.where(k % 13 == 1).select(
        k.alias("row_id"), old_row.alias("old_row"), new_row.alias("new_row"))
    om = F.from_json(F.col("old_row"), "map<string,string>")
    nm = F.from_json(F.col("new_row"), "map<string,string>")

    def diff(o_map: F.Column) -> F.Column:
        def inner(n_map: F.Column) -> F.Column:
            return F.concat_ws(",", F.array_sort(F.map_keys(F.map_filter(
                n_map,
                lambda kk, vv: ~F.element_at(o_map, kk).eqNullSafe(vv),
            ))))
        return bind(nm, inner)

    return imgs.select("row_id", bind(om, diff).alias("changed_fields"))


# writeRaster's BINARY path (R/writeRaster.R:330-361): tiles -> real
# PostGIS raster WKB (raster2pgsql wire format, functions/pgraster.py)
# -> decode back -> per-tile stats. The oracle recomputes the stats
# and the deterministic WKB geometry (fixed header + 64BF band ->
# 2118 bytes per 16x16 tile) straight from the cell grid, so the
# binary encode/decode pair surviving value-exact is hash-checked.
_PGRASTER_ORACLE = f"""
    WITH cells AS ({_RASTER_CELLS_SQL}),
    tiled AS (
      SELECT CAST(floor(x / 16) AS INT) AS tile_x,
             CAST(floor(y / 16) AS INT) AS tile_y,
             value
      FROM cells
    )
    SELECT tile_x, tile_y,
           CAST(61 + 9 + 16 * 16 * 8 AS BIGINT) AS wkb_bytes,
           {R('200.0 + tile_x * 16 * 0.25', 6)} AS ip_x,
           {R('65.0 - tile_y * 16 * 0.25', 6)} AS ip_y,
           count(value) AS n_cells,
           {R(DSUM('value') + ' / count(value)', 6)} AS vmean
    FROM tiled GROUP BY 1, 2
"""


@register("pgraster_wkb_export", oracle=_PGRASTER_ORACLE)
def pgraster_wkb_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.pgraster import decode_pgraster
    from ..operators.raster import export_pgraster, tile_cells

    cells = _raster_cells(spark, sf_dir)
    tiles = tile_cells(cells, tile=16)
    exp = export_pgraster(tiles, origin_x=200.0, origin_y=65.0,
                          scale_x=0.25, scale_y=-0.25)

    def kernel(batches):
        import math as _math

        import pandas as pd

        for pdf in batches:
            rows = []
            for tx, ty, wkb in zip(pdf["tile_x"], pdf["tile_y"],
                                   pdf["wkb"]):
                d = decode_pgraster(bytes(wkb))
                present = [v for v in d["values"] if v is not None]
                vsum = sum(
                    int(_math.floor(v * 1e6 + 0.5)) for v in present)
                rows.append((int(tx), int(ty), len(wkb), d["ip_x"],
                             d["ip_y"], len(present),
                             vsum / 1e6 / len(present)))
            yield pd.DataFrame(rows, columns=[
                "tile_x", "tile_y", "wkb_bytes", "ip_x", "ip_y",
                "n_cells", "vmean"])

    out = exp.select("tile_x", "tile_y", "wkb").mapInPandas(
        kernel,
        schema=("tile_x int, tile_y int, wkb_bytes bigint, "
                "ip_x double, ip_y double, n_cells bigint, "
                "vmean double"))
    return _round(out, {"ip_x": 6, "ip_y": 6, "vmean": 6})


# JPEG tier: real baseline decode (Huffman entropy decode, dequant,
# batch IDCT, color convert — functions/jpeg.py) under the features.
# Fixtures are quality-100 block-constant grayscale, the regime where
# the baseline round trip is bit-exact, so the oracle averages the
# closed-form block values directly; any drift anywhere in the codec
# (zigzag, Huffman table build, predictor, IDCT scaling) breaks the
# hash.
_JPEG_ORACLE = f"""
    WITH ids AS (
      SELECT doc_id AS media_id FROM documents WHERE doc_id % 4 = 2
    ), blocks AS (
      SELECT media_id, b,
             (media_id * 7 + b * 37) % 200 + 28 AS v
      FROM ids, (SELECT unnest(range(0, 4)) AS b)
    )
    SELECT media_id, TRUE AS decoded,
           CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
           {R('avg(v)', 6)} AS mean_r,
           {R('avg(v)', 6)} AS mean_g,
           {R('avg(v)', 6)} AS mean_b
    FROM blocks GROUP BY media_id
"""


@register("jpeg_decode_features", oracle=_JPEG_ORACLE)
def jpeg_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (extract_jpeg_features,
                                       synthesize_jpegs)

    docs = _t(spark, sf_dir, "documents")
    ids = docs.where(F.col("doc_id") % 4 == 2).select(
        F.col("doc_id").alias("media_id"))
    jpegs = synthesize_jpegs(ids)
    out = extract_jpeg_features(jpegs)
    return _round(
        out.select("media_id", "decoded", F.col("width").cast("int"),
                   F.col("height").cast("int"), "mean_r", "mean_g",
                   "mean_b"),
        {"mean_r": 6, "mean_g": 6, "mean_b": 6},
    )
