"""Hydrology tier: connectors (WSC/Aquarius/NWIS/ECCC/EQWin/HYDAT/snow), rating curves, trend/flood/low-flow statistics, gridded raster ingest.

Split out of the original flat queries.py (r9); section order preserved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.corrections import Correction
from ..session import local_df as _ldf
from ._common import (
    DSUM, R, _FIXDIR, _RASTER_CELLS_SQL, _exact_mean_of, _exact_sum_col,
    _raster_cells, _refresh_tail_sql, _round, _t, register,
)


# ---------------------------------------------------------------------------
# §2.5 resample: dense bin spine + per-bin stats (patch_53.R:2024-2085)
# ---------------------------------------------------------------------------

_RESAMPLE_ORACLE = f"""
    WITH b AS (
      SELECT event_type,
             TIMESTAMP '1970-01-01'
               + CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 21600) * 21600 AS BIGINT)
                 * INTERVAL 1 SECOND                         AS bin_start,
             count(*)                                        AS n,
             {R('min(value)', 4)}                            AS min,
             {R('max(value)', 4)}                            AS max,
             {R(DSUM('value') + ' / count(value)', 4)}       AS mean,
             {R('quantile_cont(value, 0.5)', 4)}             AS median
      FROM events
      GROUP BY 1, 2
    ), bounds AS (
      SELECT event_type, min(bin_start) AS lo, max(bin_start) AS hi FROM b GROUP BY 1
    ), spine AS (
      SELECT event_type,
             unnest(generate_series(lo, hi, INTERVAL 21600 SECOND)) AS bin_start
      FROM bounds
    )
    SELECT s.event_type, s.bin_start, b.n, b.min, b.max, b.mean, b.median
    FROM spine s LEFT JOIN b ON s.event_type = b.event_type AND s.bin_start = b.bin_start
"""


@register("resample_6h_dense", oracle=_RESAMPLE_ORACLE)
def resample_6h_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.resample import resample

    ev = _t(spark, sf_dir, "events")
    out = resample(ev, keys=["event_type"], dt_col="ts", value_col="value",
                   seconds=21600, dense=True)
    return _round(out, {"min": 4, "max": 4, "mean": 4, "median": 4})


# ---------------------------------------------------------------------------
# §2.1 update_hydat-style merge: daily historical rows only on days
# lacking sub-daily data (R/update_hydat.R:7-9) — left-anti on day + union
# ---------------------------------------------------------------------------

_HYDAT_ORACLE = f"""
    WITH subdaily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, value
      FROM events WHERE event_type IN ('click', 'view')
    ), historical_daily AS (
      -- synthetic archive: one row per (type, day) over a wider range
      SELECT event_type, day, {R('avg_v', 4)} AS value
      FROM (
        SELECT event_type, CAST(ts AS DATE) AS day,
               {R(DSUM('value') + ' / count(value)', 4)} AS avg_v
        FROM events WHERE event_type IN ('click', 'view', 'error')
        GROUP BY 1, 2
      )
    ), merged AS (
      SELECT event_type, day, value, 'subdaily' AS src FROM subdaily
      UNION ALL
      SELECT h.event_type, h.day, h.value, 'hydat' AS src
      FROM historical_daily h
      WHERE NOT EXISTS (
        SELECT 1 FROM subdaily s
        WHERE s.event_type = h.event_type AND s.day = h.day
      )
    )
    SELECT event_type, day, {R('value', 4)} AS value, src FROM merged
"""


@register("hydat_daily_merge", oracle=_HYDAT_ORACLE)
def hydat_daily_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    subdaily = ev.where(F.col("event_type").isin("click", "view")).select(
        "event_type", F.to_date("ts").alias("day"), "value"
    )
    from ..operators.daily import exact_mean

    historical = (
        ev.where(F.col("event_type").isin("click", "view", "error"))
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(exact_mean(F.col("value")).alias("value"))
    )
    historical = _round(historical, {"value": 4})
    hydat_only = historical.join(
        subdaily.select("event_type", "day").distinct(),
        ["event_type", "day"], "left_anti",
    )
    merged = subdaily.withColumn("src", F.lit("subdaily")).unionByName(
        hydat_only.withColumn("src", F.lit("hydat"))
    )
    return _round(merged, {"value": 4})


# ---------------------------------------------------------------------------
# §2.9 unit conversions (downloadNWIS imperial->metric, R/downloadNWIS.R:5)
# + inf_to_na cleaning (R/utils.R:785)
# ---------------------------------------------------------------------------

_UNIT_CONV_ORACLE = f"""
    WITH conv AS (
      SELECT * FROM (VALUES
        ('click',    0.3048,  0.0),   -- ft -> m
        ('view',     0.02832, 0.0),   -- cfs -> cms
        ('purchase', 1.0,     0.0),
        ('signup',   0.5556, -17.7778), -- F -> C
        ('error',    1.0,     0.0)
      ) AS c(event_type, factor, delta)
    ), converted AS (
      SELECT e.event_id, e.event_type,
             CASE WHEN e.event_id % 97 = 0 THEN CAST('infinity' AS DOUBLE)
                  ELSE e.value * c.factor + c.delta END AS converted
      FROM events e JOIN conv c ON e.event_type = c.event_type
    )
    SELECT event_id, event_type,
           {R("CASE WHEN isinf(converted) OR isnan(converted) THEN NULL "
              "ELSE converted END", 6)} AS converted_value
    FROM converted
"""

_UNIT_DIM = [
    ("click", 0.3048, 0.0),
    ("view", 0.02832, 0.0),
    ("purchase", 1.0, 0.0),
    ("signup", 0.5556, -17.7778),
    ("error", 1.0, 0.0),
]


@register("unit_conversions", oracle=_UNIT_CONV_ORACLE)
def unit_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.cleaning import inf_to_na

    ev = _t(spark, sf_dir, "events")
    conv = _ldf(spark, _UNIT_DIM, ["event_type", "factor", "delta"])
    converted = (
        ev.join(F.broadcast(conv), "event_type")
        .withColumn(
            "converted",
            F.when(F.col("event_id") % 97 == 0, F.lit(float("inf"))).otherwise(
                F.col("value") * F.col("factor") + F.col("delta")
            ),
        )
    )
    out = converted.select(
        "event_id", "event_type", inf_to_na(F.col("converted")).alias("converted_value")
    )
    return _round(out, {"converted_value": 6})


# ---------------------------------------------------------------------------
# §2.1 connector payload parsing, end to end on canned fixtures — the
# reference's own network-free strategy (tests/testthat/test-downloadWSC.R;
# fixtures/swob-minute-0000.xml). The Spark side runs the real parser +
# code mapping (sources/wsc.py, nwis.py, xml_swob.py); the oracle reads
# the same fixture file and replays the mapping in SQL.
# ---------------------------------------------------------------------------


from ..sources.dims import (APPROVAL_CODES as _AC, GRADE_CODES as _GC,
                           QUALIFIER_CODES as _QC, type_code_to_id as _tid)

_AID, _QID, _GID = _tid(_AC), _tid(_QC), _tid(_GC)

_WSC_ORACLE = f"""
    WITH raw AS (
      SELECT CAST("Date" AS TIMESTAMP) AS datetime,
             TRY_CAST("Value/Valeur" AS DOUBLE) AS value,
             "Approval/Approbation" AS approval_raw,
             TRY_CAST("Qualifiers/Qualificatifs" AS INTEGER) AS qualifier_raw
      FROM read_csv('{_FIXDIR / "wsc_09EA004.csv"}', header=true,
                    all_varchar=true)
    ), mapped AS (
      SELECT datetime, value,
        CASE approval_raw
          WHEN 'Final/Finales' THEN {_AID['A']}
          WHEN 'Approved/Approuvée' THEN {_AID['A']}
          WHEN 'Provisional/Provisoire' THEN {_AID['N']}
          WHEN 'Preliminary/Préliminaire' THEN {_AID['N']}
          WHEN 'Checked/Verifiée' THEN {_AID['R']}
          WHEN 'Unspecified/Non spécifié' THEN {_AID['UNS']}
          WHEN 'Undefined/Non défini' THEN {_AID['UNS']}
          ELSE 6 END AS approval,
        CASE qualifier_raw
          WHEN -1 THEN {_QID['UNS']} WHEN 10 THEN {_QID['ICE']}
          WHEN 20 THEN {_QID['EST']} WHEN 30 THEN {_QID['UNK']}
          WHEN 40 THEN {_QID['DRY']} WHEN 50 THEN {_QID['UNK']}
          WHEN -2 THEN {_QID['UNK']} WHEN 0 THEN {_QID['UNK']}
          ELSE {_QID['UNK']} END AS qualifier
      FROM raw WHERE value IS NOT NULL
    )
    SELECT CAST(datetime AS DATE) AS date,
           {R(DSUM('value') + ' / count(*)', 6)} AS value,
           count(*) AS n,
           CAST(sum(CASE WHEN qualifier = {_QID['ICE']} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ice,
           CAST(sum(CASE WHEN approval = {_AID['A']} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_approved
    FROM mapped GROUP BY 1
"""


@register("wsc_connector_daily", oracle=_WSC_ORACLE)
def wsc_connector_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canned WSC realtime payload through the full connector path:
    parse (header-mapped CSV) -> qualifier/approval/grade code mapping
    (R/downloadWSC.R:107-231) -> contract validation -> daily rollup."""
    from ..operators.daily import exact_sum
    from ..sources.registry import get_source, validate_contract

    out = get_source("downloadWSC")(
        spark, location="09EA004", parameter=47,
        start_datetime="2026-03-01 00:00:00",
        end_datetime="2026-03-03 00:00:00",
        payload_path=str(_FIXDIR / "wsc_09EA004.csv"),
    )
    rolled = (
        validate_contract(out)
        .groupBy(F.to_date("datetime").alias("date"))
        .agg(
            (exact_sum(F.col("value")) / F.count("*")).alias("value"),
            F.count("*").alias("n"),
            F.sum(F.when(F.col("qualifier") == _QID["ICE"], 1).otherwise(0))
            .alias("n_ice"),
            F.sum(F.when(F.col("approval") == _AID["A"], 1).otherwise(0))
            .alias("n_approved"),
        )
    )
    return _round(rolled, {"value": 6})


_NWIS_ORACLE = f"""
    WITH raw AS (
      -- RDB datetimes carry no seconds; DuckDB's cast requires them
      SELECT CAST(datetime || ':00' AS TIMESTAMP) AS datetime,
             TRY_CAST("69928_00060" AS DOUBLE) AS value,
             "69928_00060_cd" AS combined
      FROM read_csv('{_FIXDIR / "nwis_09380000.rdb"}', delim='\t',
                    header=true, skip=5, all_varchar=true)
      WHERE agency_cd = 'USGS'
    ), conv AS (
      SELECT datetime, value * 0.028316832 AS value, combined,
             regexp_extract(combined, '^([APR])', 1) AS lead_letter,
             CASE WHEN trim(regexp_replace(combined, '^[APR](.*)$', '\\1')) = ''
                  THEN 'U'
                  ELSE trim(regexp_replace(combined, '^[APR](.*)$', '\\1'))
             END AS rest
      FROM raw WHERE value IS NOT NULL
    )
    SELECT datetime, {R('value', 6)} AS value,
      CASE lead_letter WHEN 'A' THEN {_AID['A']} WHEN 'P' THEN {_AID['N']}
           WHEN 'R' THEN {_AID['A']} ELSE {_AID['UNK']} END AS approval,
      CASE rest WHEN 'e' THEN {_QID['EST']} WHEN 'ice' THEN {_QID['ICE']}
           WHEN 'Ice i' THEN {_QID['ICE']} WHEN '<' THEN {_QID['EST']}
           WHEN '>' THEN {_QID['EST']} ELSE {_QID['UNK']} END AS qualifier
    FROM conv
"""


@register("nwis_connector_normalize", oracle=_NWIS_ORACLE)
def nwis_connector_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canned NWIS RDB payload through the connector: header-mapped
    parse, NA drop, cfs->cms conversion, approval/qualifier extraction
    from the combined code (R/downloadNWIS.R:135-207)."""
    from ..sources.registry import get_source

    out = get_source("downloadNWIS")(
        spark, location="09380000", parameter="00060",
        start_datetime="2026-03-01 00:00:00",
        end_datetime="2026-03-03 00:00:00",
        payload_path=str(_FIXDIR / "nwis_09380000.rdb"),
    )
    return _round(out.select("datetime", "value", "approval", "qualifier"),
                  {"value": 6})


_SWOB_ORACLE = f"""
    WITH raw AS (
      SELECT file_idx,
             CAST(replace(left(datetime, 23), 'T', ' ') AS TIMESTAMP)
               AS datetime,
             TRY_CAST(value AS DOUBLE) AS value
      FROM read_csv('{_FIXDIR / "swob_expected.csv"}', header=true,
                    all_varchar=true)
      WHERE name = 'air_temp'
    ), dedup AS (
      SELECT datetime, value,
             row_number() OVER (PARTITION BY datetime
                                ORDER BY file_idx DESC) AS rk
      FROM raw WHERE value IS NOT NULL
    )
    SELECT datetime, {R('value', 4)} AS value,
           {_GID['UNS']} AS grade, {_AID['UNS']} AS approval,
           {_QID['UNS']} AS qualifier, 2 AS owner, 2 AS contributor
    FROM dedup WHERE rk = 1
"""


@register("swob_minute_normalize", oracle=_SWOB_ORACLE)
def swob_minute_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canned SWOB-ML minute files through the connector: om: XML parse,
    alias resolution, keep-last datetime dedupe, QC defaults
    (R/downloadECCCwxMinute.R:36-159). The oracle reads the expected-
    values mirror of the same fixtures, so a Spark XML parsing bug
    surfaces as a value mismatch."""
    from ..sources.registry import get_source

    out = get_source("downloadECCCwxMinute")(
        spark, location="CVXY", parameter="temp",
        start_datetime="2026-03-15 00:00:00",
        end_datetime="2026-03-15 23:59:59",
        path=str(_FIXDIR / "swob"),
    )
    return _round(out, {"value": 4})


_AQ_EXPECTED = _FIXDIR / "aquarius_expected.csv"

_AQUARIUS_ORACLE = f"""
    SELECT CAST(datetime AS TIMESTAMP) AS datetime,
           {R('CAST(value AS DOUBLE)', 4)} AS value,
           CAST(grade AS BIGINT) AS grade,
           CAST(approval AS BIGINT) AS approval,
           qualifier
    FROM read_csv('{_AQ_EXPECTED}', header=true, all_varchar=true)
"""


@register("aquarius_connector_normalize", oracle=_AQUARIUS_ORACLE)
def aquarius_connector_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canned Aquarius payload through the full connector
    (R/downloadAquarius.R:30-574): offset-timestamp parse, NA drop,
    exact-dup drop, approval/grade/qualifier code mapping with UNK
    fallback, per-level qualifier overlap collapse, boundary SNAPPING
    to point times, later-interval overwrite, qualifier comma-append,
    UNS fills. The oracle reads the expected mirror computed by an
    independent loop-based replica of the R semantics
    (fixtures/connectors/gen_aquarius.py)."""
    from ..sources.registry import get_source

    out = get_source("downloadAquarius")(
        spark, location="09AA-M3", parameter="Wind Gust Vel.Corrected",
        start_datetime="2025-01-10 00:00:00",
        end_datetime="2025-01-11 00:00:00",
        payload_path=str(_FIXDIR / "aquarius_09AA-M3.json"),
    )
    return _round(
        out.select("datetime", "value", "grade", "approval", "qualifier"),
        {"value": 4},
    )


_ECCC_ORACLE = f"""
    SELECT CAST(time AS TIMESTAMP) AS datetime,
           {R('TRY_CAST(wind_dir AS DOUBLE) * 10.0', 4)} AS value,
           8 AS grade, 6 AS approval, 6 AS qualifier,
           2 AS owner, 2 AS contributor
    FROM read_csv('{_FIXDIR / "ecccwx_hourly_50430.csv"}', header=true,
                  all_varchar=true)
    WHERE CAST(time AS TIMESTAMP) >= TIMESTAMP '2024-03-01 06:00:00'
      AND CAST(time AS TIMESTAMP) <= TIMESTAMP '2024-03-02 18:00:00'
      AND TRY_CAST(wind_dir AS DOUBLE) IS NOT NULL
"""


@register("eccc_connector_fanout", oracle=_ECCC_ORACLE)
def eccc_connector_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canned weathercan hourly table through the ECCC weather
    connector (R/downloadECCCwx.R:17-188): wide-table column fan-out,
    inclusive window filter, NA drop, wind_dir tens-of-degrees ×10,
    UNS QC defaults, ECCC organization stamping."""
    from ..sources.registry import get_source

    out = get_source("downloadECCCwx")(
        spark, location="50430", parameter="wind_dir",
        start_datetime="2024-03-01 06:00:00",
        end_datetime="2024-03-02 18:00:00", interval="hour",
        payload_path=str(_FIXDIR / "ecccwx_hourly_50430.csv"),
    )
    return _round(out, {"value": 4})


# ---------------------------------------------------------------------------
# §2.12 refresh_calculated_daily END-TO-END (patch_48.R:215-702): corrected
# read -> daily rollup -> dense spine -> DOY stats -> hist-count NULL
# ladder -> Feb-29 smoothing (skip-guarded) -> tail trim, as ONE
# composition. The stages are individually green elsewhere; this query
# pins their ORDER (e.g. trim-before-smooth would starve a trailing
# Feb-29 row of its Mar-1 neighbor).
# ---------------------------------------------------------------------------

ORDER_CORRECTIONS = [
    Correction(1, "1-URGENT", "1996-01-01 00:00:00", "1997-01-01 00:00:00",
               "trim", value1=20000.0, value2=400000.0),
    Correction(2, "2-HIGH", "1996-06-01 00:00:00", "1997-06-01 00:00:00",
               "offset_linear", value1=5000.0),
    Correction(3, "3-MEDIUM", "1995-03-01 00:00:00", "1996-03-01 00:00:00",
               "scale", value1=110.0),
    Correction(4, "5-LOW", "1997-01-01 00:00:00", "1997-07-01 00:00:00",
               "drift_linear", value1=1000.0,
               timestep_window_seconds=2592000.0),
]


_REFRESH_E2E_ORACLE = f"""
    WITH raw AS (
      SELECT o_orderpriority AS priority,
             CAST(o_orderdate AS TIMESTAMP) AS ts,
             CAST(o_totalprice AS DOUBLE) AS value
      FROM orders
    ), c1 AS (  -- trim [20000,400000] on 1-URGENT
      SELECT priority, ts,
             CASE WHEN priority = '1-URGENT'
                       AND ts >= TIMESTAMP '1996-01-01' AND ts < TIMESTAMP '1997-01-01'
                       AND (value < 20000.0 OR value > 400000.0)
                  THEN NULL ELSE value END AS v
      FROM raw
    ), c2 AS (  -- offset +5000 on 2-HIGH
      SELECT priority, ts,
             CASE WHEN priority = '2-HIGH' AND v IS NOT NULL
                       AND ts >= TIMESTAMP '1996-06-01' AND ts < TIMESTAMP '1997-06-01'
                  THEN v + 5000.0 ELSE v END AS v
      FROM c1
    ), c3 AS (  -- scale 110% on 3-MEDIUM
      SELECT priority, ts,
             CASE WHEN priority = '3-MEDIUM' AND v IS NOT NULL
                       AND ts >= TIMESTAMP '1995-03-01' AND ts < TIMESTAMP '1996-03-01'
                  THEN v * 110.0 / 100.0 ELSE v END AS v
      FROM c2
    ), corr AS (  -- drift +1000/30d on 5-LOW
      SELECT priority, ts,
             CASE WHEN priority = '5-LOW' AND v IS NOT NULL
                       AND ts >= TIMESTAMP '1997-01-01' AND ts < TIMESTAMP '1997-07-01'
                  THEN v + 1000.0 / 2592000.0
                       * date_diff('second', TIMESTAMP '1997-01-01', ts)
                  ELSE v END AS v
      FROM c3
    ), daily AS (
      SELECT priority, CAST(ts AS DATE) AS date,
             {DSUM('v')} / count(v) AS value
      FROM corr GROUP BY 1, 2 HAVING count(v) > 0""" + _refresh_tail_sql(
    """SELECT o_orderpriority AS priority,
             max(CAST(o_orderdate AS DATE)) AS last_d
      FROM orders GROUP BY 1"""
)


@register("refresh_daily_e2e", oracle=_REFRESH_E2E_ORACLE)
def refresh_daily_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """refresh_calculated_daily end to end in one composition
    (patch_48.R:215-702): 4-correction chain -> exact-mean daily rollup
    -> per-series dense spine to the global max date -> DOY historical
    stats -> hist-count NULL ladder -> Feb-29 smoothing (today not in
    the 02-29/03-01/03-02 skip window) -> per-series tail trim. Stale
    series (3-MEDIUM, 4-NOT SPECIFIED end days before the global max)
    get genuine trailing spine rows that ONLY the trim removes."""
    from ..operators.refresh import refresh_calculated_daily

    raw = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").cast("timestamp").alias("ts"),
        F.col("o_totalprice").cast("double").alias("value"),
    )
    out = refresh_calculated_daily(
        raw, ORDER_CORRECTIONS, series_col="priority", dt_col="ts",
        value_col="value", agg_type="mean", today="2026-01-15",
    )
    return _round(
        out,
        {"value": 4, "percent_historic_range": 4, "max": 4, "min": 4,
         "mean": 4, "q10": 4, "q25": 4, "q50": 4, "q75": 4, "q90": 4},
    )


# ---------------------------------------------------------------------------
# Raster subsystem (writeRaster.R tiled model, insertACRaster.R:4-8,
# getNewRasters.R:393-447, createRasterPyramids.R). Cells are derived
# deterministically from driver tables (x/y from event_id), mirrored in
# the oracle, so both engines see the same grid without synthesizing
# side data. Tiles carry bbox metadata -> parquet min/max pruning is the
# PostGIS-spatial-index analog at 100 TB.
# ---------------------------------------------------------------------------


_RASTER_ZONES_SQL = """
      SELECT n_nationkey AS zone_id,
             (n_nationkey * 13) % 80 AS zxmin,
             (n_nationkey * 29) % 80 AS zymin,
             (n_nationkey * 13) % 80 + 19 AS zxmax,
             (n_nationkey * 29) % 80 + 19 AS zymax
      FROM nation
"""


@register(
    "raster_zonal_stats",
    oracle=f"""
    WITH cells AS ({_RASTER_CELLS_SQL}),
         zones AS ({_RASTER_ZONES_SQL})
    SELECT zone_id,
           {R(DSUM('c.value') + ' / count(*)', 6)} AS zmean,
           min(c.value) AS zmin,
           max(c.value) AS zmax,
           count(*) AS zcount
    FROM cells c JOIN zones z
      ON c.x BETWEEN z.zxmin AND z.zxmax
     AND c.y BETWEEN z.zymin AND z.zymax
    GROUP BY zone_id
    """,
)
def raster_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal mean/min/max/count over a tiled raster (zonal statistics on
    spatial.rasters; the read path of R/writeRaster.R:6-10 tiling).

    Spark plan: tile once (shuffle keyed by tile), broadcast the
    catalog-sized zone table, bbox-join *tiles* so only intersecting
    tiles explode, aggregate per zone with exact sums. The oracle joins
    raw cells — same result, different (non-scalable) plan."""
    from ..operators.raster import tile_cells, zonal_stats

    nation = _t(spark, sf_dir, "nation")
    zones = nation.select(
        F.col("n_nationkey").cast("int").alias("zone_id"),
        ((F.col("n_nationkey") * 13) % 80).cast("int").alias("zxmin"),
        ((F.col("n_nationkey") * 29) % 80).cast("int").alias("zymin"),
        ((F.col("n_nationkey") * 13) % 80 + 19).cast("int").alias("zxmax"),
        ((F.col("n_nationkey") * 29) % 80 + 19).cast("int").alias("zymax"),
    )
    tiles = tile_cells(_raster_cells(spark, sf_dir), tile=16)
    out = zonal_stats(tiles, zones)
    return _round(out, {"zmean": 6})


@register(
    "raster_pyramid",
    oracle=f"""
    WITH cells AS ({_RASTER_CELLS_SQL})
    SELECT CAST(floor(x / 4) AS INT) AS px,
           CAST(floor(y / 4) AS INT) AS py,
           {R(DSUM('value') + ' / count(*)', 6)} AS pvalue,
           count(*) AS pcount
    FROM cells
    GROUP BY 1, 2
    """,
)
def raster_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overview-level generation (createRasterPyramids.R): factor-4
    mean resample from tiles. One shuffle keyed by the coarse cell;
    exact mean keeps levels bit-reproducible across partitionings."""
    from ..operators.raster import pyramid, tile_cells

    tiles = tile_cells(_raster_cells(spark, sf_dir), tile=16)
    out = pyramid(tiles, 4)
    return _round(out, {"pvalue": 6})


_RASTER_REF_SQL = """
      SELECT o_orderkey AS reference_id,
             o_custkey % 7 AS raster_series_id,
             CAST(o_orderdate AS TIMESTAMP)
               + to_days(CAST(o_orderkey % 5 AS INT)) AS valid_from,
             CAST(o_orderdate AS TIMESTAMP) AS issued,
             CASE WHEN o_orderkey % 3 = 0 THEN 'PRELIMINARY'
                  ELSE 'FINAL' END AS flag
      FROM orders
      WHERE o_orderkey % 11 = 0
"""


def _raster_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.where(F.col("o_orderkey") % 11 == 0).select(
        F.col("o_orderkey").alias("reference_id"),
        (F.col("o_custkey") % 7).alias("raster_series_id"),
        (F.col("o_orderdate").cast("timestamp")
         + (F.col("o_orderkey") % 5).cast("int")
         * F.expr("INTERVAL 1 DAY")).alias("valid_from"),
        F.col("o_orderdate").cast("timestamp").alias("issued"),
        F.when(F.col("o_orderkey") % 3 == 0, "PRELIMINARY")
        .otherwise("FINAL").alias("flag"),
    )


@register(
    "raster_forecast_selective",
    oracle=f"""
    WITH ref AS ({_RASTER_REF_SQL}),
         m AS (
           SELECT *, max(issued) OVER (PARTITION BY raster_series_id)
                       AS new_issue
           FROM ref
         ),
         nv AS (
           SELECT DISTINCT raster_series_id, valid_from
           FROM m
           WHERE abs(epoch(issued) - epoch(new_issue)) <= 5
         )
    SELECT m.reference_id, m.raster_series_id, m.valid_from, m.issued
    FROM m
    LEFT JOIN nv ON nv.raster_series_id = m.raster_series_id
                AND nv.valid_from = m.valid_from
    WHERE abs(epoch(m.issued) - epoch(m.new_issue)) <= 5
       OR nv.valid_from IS NULL
    """,
)
def raster_forecast_selective(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective forecast replacement (getNewRasters.R:393-425): keep
    rasters issued with the newest cycle, plus older rasters whose
    valid time the new cycle does not cover. Window max + broadcast
    semi-join — no per-row DML, one job for every series at once."""
    from ..operators.raster import forecast_survivors

    ref = _raster_reference(spark, sf_dir)
    return forecast_survivors(ref, keep="selective").select(
        "reference_id", "raster_series_id", "valid_from", "issued"
    )


@register(
    "raster_model_asof",
    oracle=f"""
    WITH ref AS ({_RASTER_REF_SQL}),
         ranked AS (
           SELECT *, row_number() OVER (
             PARTITION BY raster_series_id, valid_from
             ORDER BY CASE WHEN flag = 'PRELIMINARY' THEN 1 ELSE 0 END,
                      issued DESC, reference_id DESC
           ) AS rn
           FROM ref
         )
    SELECT reference_id, raster_series_id, valid_from, issued, flag
    FROM ranked WHERE rn = 1
    """,
)
def raster_model_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-available raster per (series, valid time): FINAL beats
    PRELIMINARY, then latest issue (insertACRaster.R:302-345 replace-
    on-final + insertACModelRaster issue ranking) as one window."""
    from ..operators.raster import model_asof

    ref = _raster_reference(spark, sf_dir)
    return model_asof(ref).select(
        "reference_id", "raster_series_id", "valid_from", "issued", "flag"
    )


# ---------------------------------------------------------------------------
# Discrete water-quality + snow-course connectors (downloadECCCwq.R,
# downloadSnowCourse.R).
# ---------------------------------------------------------------------------

_WQ_FIX = _FIXDIR / "ecccwq_lt.csv"
_WQ_KEY = _FIXDIR / "ecccwq_key.csv"


@register(
    "ecccwq_results",
    oracle=f"""
    WITH f AS (
      SELECT SITE_NO AS site,
             CAST(DATE_TIME_HEURE AS TIMESTAMP) + INTERVAL 7 HOURS AS datetime,
             COALESCE(FLAG_MARQUEUR, '') AS flag,
             CAST(VALUE_VALEUR AS DOUBLE) AS raw_value,
             UNIT_UNITE AS input_unit, VARIABLE AS input_param
      FROM read_csv('{_WQ_FIX}', header=true, all_varchar=true)
      WHERE SITE_NO = 'YT08AA0017'
    ),
    k AS (SELECT * FROM read_csv('{_WQ_KEY}', header=true)),
    mapped AS (
      SELECT f.datetime, k.result_type, k.parameter_id,
             k.sample_fraction_id, k.matrix_state_id, f.flag,
             f.raw_value * k.conversion + k.result_offset AS conv
      FROM f JOIN k ON k.input_param = f.input_param
                   AND k.input_unit = f.input_unit
      WHERE f.flag IN ('', '<', '>')
    )
    SELECT datetime, result_type, parameter_id, sample_fraction_id,
           matrix_state_id,
           CASE WHEN flag IN ('<', '>') THEN NULL
                ELSE {R('conv', 6)} END AS result,
           CASE WHEN flag = '<' THEN 1 WHEN flag = '>' THEN 2
                ELSE NULL END AS result_condition,
           CASE WHEN flag IN ('<', '>') THEN {R('conv', 6)}
                ELSE NULL END AS result_condition_value
    FROM mapped
    """,
)
def ecccwq_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canned ECCC water-quality payload through the full connector
    (R/downloadECCCwq.R:230-392): bilingual-header CSV -> MST->UTC
    shift -> import-key mapping with unit conversion -> censoring-flag
    dispatch ('<' below / '>' above detection, other flags rejected)."""
    from ..sources.ecccwq import download_ecccwq

    key = spark.read.option("header", True).option("inferSchema", True) \
        .csv(str(_WQ_KEY))
    out = download_ecccwq(
        spark, "YT08AA0017", key,
        "2024-01-01 00:00:00", "2024-12-31 23:59:59", tz="MST",
        payload_path=str(_WQ_FIX),
    )
    return _round(out["results"], {"result": 6, "result_condition_value": 6})


@register(
    "snowcourse_station_merge",
    oracle="""
    WITH meas AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 'OLD' ELSE 'NEW' END AS location,
             CAST(ts AS DATE) AS survey_date,
             value AS swe, value * 0.5 AS depth,
             event_type = 'error' AS exclude_flag
      FROM events
    ),
    means AS (
      SELECT location, survey_date,
             CAST(survey_date AS TIMESTAMP) + INTERVAL 68400 SECONDS
               AS datetime,
             p.parameter,
             CASE p.parameter WHEN 'swe'
               THEN sum(CAST(floor(swe * 1000000 + 0.5) AS BIGINT))
                    / 1000000.0 / count(swe)
               ELSE sum(CAST(floor(depth * 1000000 + 0.5) AS BIGINT))
                    / 1000000.0 / count(depth) END AS result
      FROM meas, (VALUES ('swe'), ('depth')) p(parameter)
      WHERE NOT exclude_flag AND (swe IS NOT NULL OR depth IS NOT NULL)
      GROUP BY location, survey_date, p.parameter
    ),
    old_m AS (SELECT * FROM means WHERE location = 'OLD'),
    new_m AS (SELECT * FROM means WHERE location = 'NEW'),
    common AS (
      SELECT DISTINCT o.datetime FROM old_m o JOIN new_m n USING (datetime)
    ),
    offsets AS (
      SELECT n.parameter,
             (SELECT sum(CAST(floor(n2.result * 1000000 + 0.5) AS BIGINT))
                       / 1000000.0 / count(*)
              FROM new_m n2 JOIN common c ON c.datetime = n2.datetime
              WHERE n2.parameter = n.parameter)
             / (SELECT sum(CAST(floor(o2.result * 1000000 + 0.5) AS BIGINT))
                       / 1000000.0 / count(*)
                FROM old_m o2 JOIN common c ON c.datetime = o2.datetime
                WHERE o2.parameter = n.parameter) AS offset
      FROM (SELECT DISTINCT parameter FROM new_m) n
    )
    SELECT parameter, datetime,
           floor(result * 1000000 + 0.5) / 1000000 AS result,
           FALSE AS adjusted
    FROM new_m
    UNION ALL
    SELECT o.parameter, o.datetime,
           floor(o.result * COALESCE(f.offset, 1.0) * 1000000 + 0.5)
             / 1000000 AS result,
           TRUE AS adjusted
    FROM old_m o
    LEFT JOIN offsets f ON f.parameter = o.parameter
    WHERE o.datetime NOT IN (SELECT datetime FROM new_m)
    """,
)
def snowcourse_station_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snow-course station move (downloadSnowCourse.R:184-330): per-
    survey SWE/depth means (exclusion-filtered, noon-MST shifted),
    ratio calibration over common survey dates, old history scaled and
    deduplicated against the new station — one relational pass."""
    from ..sources.snowcourse import station_move_adjust, survey_means

    ev = _t(spark, sf_dir, "events")
    meas = ev.select(
        F.when(F.col("user_id") % 2 == 0, "OLD").otherwise("NEW")
        .alias("location"),
        F.lit(0).alias("survey_id"),
        F.col("ts").cast("date").alias("survey_date"),
        F.col("ts").cast("date").alias("target_date"),
        F.col("value").alias("swe"),
        (F.col("value") * 0.5).alias("depth"),
        (F.col("event_type") == "error").alias("exclude_flag"),
    )
    # station_move_adjust references both stations' means repeatedly
    # (common dates, ratio offsets, dedupe) — one materialization of
    # the per-survey means instead of re-aggregating the fact per leg
    means = survey_means(meas).select("location", "parameter", "datetime",
                                      "result").persist()
    old = means.where(F.col("location") == "OLD").drop("location")
    new = means.where(F.col("location") == "NEW").drop("location")
    out = station_move_adjust(old, new)
    return _round(out.select("parameter", "datetime", "result", "adjusted"),
                  {"result": 6})


# ---------------------------------------------------------------------------
# TF-IDF top-k terms per document (tfidf_top_terms below):
# corpus-keyword extraction; df join stays an equi-join (vocab-sized,
# never broadcast at web scale), n_docs is an agg + 1-row broadcast.
# ---------------------------------------------------------------------------

_TFIDF_ORACLE = """
    WITH postings AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id,
                   unnest(string_split(lower(text), ' ')) AS term
            FROM documents)
      GROUP BY 1, 2
    ), dfreq AS (
      SELECT term, count(*) AS df FROM postings GROUP BY 1
    ), nd AS (
      SELECT count(DISTINCT doc_id) AS n_docs FROM documents
    ), scored AS (
      SELECT p.doc_id, p.term,
             CAST(floor(p.tf * ln((nd.n_docs + CAST(1 AS DOUBLE))
                                  / (d.df + CAST(1 AS DOUBLE)))
                        * 1000000.0 + CAST(0.5 AS DOUBLE)) AS BIGINT)
               AS q
      FROM postings p JOIN dfreq d USING (term) CROSS JOIN nd
    ), ranked AS (
      SELECT doc_id, term, q,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY q DESC, term ASC) AS rank
      FROM scored
    )
    SELECT doc_id, term, CAST(rank AS BIGINT) AS rank,
           q / 1000000.0 AS tfidf
    FROM ranked WHERE rank <= 3
"""


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k TF-IDF terms per document — the corpus-keyword /
    datacard-vocabulary primitive (and the feature extractor classic
    sparse classifiers sit on).

    score(term, doc) = tf * ln((n_docs + 1) / (df + 1))   [+1 smoothing]

    quantized to 1e-6 before ranking so ties and ordering are
    bit-stable across engines; rank ties break (score DESC, term ASC).

    Scale shape: (doc, term, tf) is one explode + partial-aggregable
    count; df aggregates the SAME postings frame on term (corpus-
    VOCAB-sized — far too big to broadcast at web scale, so the score
    join stays an equi-join on term for AQE to plan); n_docs is an
    agg + 1-row broadcast cross-join; top-k is a rank window per doc
    (WindowGroupLimit pushes the limit into the sort).
    """
    from ..functions.text import tokens

    postings = (
        docs.select(F.col(id_col),
                    F.explode(tokens(F.lower(F.col(text_col))))
                    .alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"))
    ndocs = docs.select(id_col).distinct().agg(
        F.count(F.lit(1)).alias("n_docs"))
    scored = (
        postings.join(dfreq, "term")
        .crossJoin(F.broadcast(ndocs))
        .select(
            id_col, "term",
            F.floor(
                F.col("tf")
                * F.log((F.col("n_docs") + F.lit(1.0))
                        / (F.col("df") + F.lit(1.0)))
                * 1e6 + F.lit(0.5)
            ).cast("long").alias("__q"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("__q"), F.asc("term"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select(id_col, "term", F.col("__rn").cast("long").alias("rank"),
                (F.col("__q") / F.lit(1e6)).alias("tfidf"))
    )


@register("tfidf_top_terms", oracle=_TFIDF_ORACLE)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document."""
    docs = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=3)


# ---------------------------------------------------------------------------
# Gridded-model raster connector normalization (downloadHRDPA.R:80-181):
# a synthetic directory listing is built from orders on BOTH engines
# (finals + preliminary variants with overlapping datetimes), then the
# connector's parse -> start filter -> prelim-supersession dedup ->
# accumulation-window derivation runs. HRDPS run selection/expansion in
# tests/test_gridded.py.
# ---------------------------------------------------------------------------

_HRDPA_ORACLE = """
    WITH base AS (
      SELECT o_orderkey AS k,
             CAST(o_orderdate AS TIMESTAMP)
               + to_hours(CAST((o_orderkey % 4) * 6 AS INT)) AS dt
      FROM orders WHERE o_orderkey % 7 = 0
    ), listing AS (
      SELECT strftime(dt, '%Y%m%dT%H')
               || 'Z_MSC_HRDPA_APCP-Accum6h_Sfc.grib2' AS file
      FROM base WHERE k % 3 = 0
      UNION ALL
      SELECT strftime(dt, '%Y%m%dT%H')
               || 'Z_MSC_HRDPA_APCP-Accum6h_Sfc_Prelim.grib2'
      FROM base WHERE k % 5 = 0
    ), parsed AS (
      SELECT file, 'https://dd/' || file AS path,
             strptime(substr(file, 1, 11), '%Y%m%dT%H') AS datetime,
             contains(file, 'Prelim') AS prelim
      FROM listing
    ), filtered AS (
      SELECT * FROM parsed WHERE datetime >= TIMESTAMP '1994-01-01'
    ), counted AS (
      SELECT *, count(*) OVER (PARTITION BY datetime) AS n FROM filtered
    )
    SELECT file, path, datetime, prelim,
           datetime - INTERVAL 6 HOUR AS valid_from,
           datetime AS valid_to,
           CASE WHEN prelim THEN 'PRELIMINARY' END AS flag,
           'HRDPA' AS model, FALSE AS forecast
    FROM counted
    WHERE NOT (prelim AND n > 1)
"""


@register("hrdpa_listing_normalize", oracle=_HRDPA_ORACLE)
def hrdpa_listing_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.gridded import hrdpa_normalize

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    base = o.where(k % 7 == 0).select(
        k.alias("k"),
        (F.col("o_orderdate").cast("timestamp")
         + ((k % 4) * 6).cast("int") * F.expr("INTERVAL 1 HOUR")).alias("dt"),
    )
    stamp = F.date_format("dt", "yyyyMMdd'T'HH")
    finals = base.where(F.col("k") % 3 == 0).select(
        F.concat(stamp, F.lit("Z_MSC_HRDPA_APCP-Accum6h_Sfc.grib2"))
        .alias("file")
    )
    prelims = base.where(F.col("k") % 5 == 0).select(
        F.concat(stamp, F.lit("Z_MSC_HRDPA_APCP-Accum6h_Sfc_Prelim.grib2"))
        .alias("file")
    )
    listing = finals.unionByName(prelims).select(
        "file", F.concat(F.lit("https://dd/"), F.col("file")).alias("path")
    )
    import datetime as _dt

    return hrdpa_normalize(
        listing, "APCP-Accum6h_Sfc", _dt.datetime(1994, 1, 1)
    )


# ---------------------------------------------------------------------------
# HRDPA raster ingest END-TO-END (downloadHRDPA.R:80-181): directory
# listing -> prelim/analysis dedup -> real GRIB2 decode (pure-stdlib
# codec, functions/grib2.py) -> per-cell daily accumulation -> tiled
# store -> zonal stats. The oracle reads the fixture generator's
# decoded-cell CSV twin, so the binary decode itself is differentially
# checked, not just the relational plumbing.
# ---------------------------------------------------------------------------

_HRDPA_GRIB_DIR = _FIXDIR / "hrdpa_grib"
_HRDPA_CELLS = _FIXDIR / "hrdpa_cells.csv"
_HRDPA_COMPLEX_DIR = _FIXDIR / "hrdpa_complex_grib"
_HRDPA_COMPLEX_CELLS = _FIXDIR / "hrdpa_complex_cells.csv"


def _hrdpa_oracle(cells_csv) -> str:
    return f"""
    WITH raw AS (
      SELECT file, CAST(datetime AS TIMESTAMP) AS datetime, x, y,
             CAST(value AS DOUBLE) AS value
      FROM read_csv('{cells_csv}', header=true)
    ), kept AS (
      SELECT DISTINCT file FROM raw
      WHERE NOT (file LIKE '%Prelim%' AND EXISTS (
        SELECT 1 FROM raw r2 WHERE r2.datetime = raw.datetime
          AND r2.file NOT LIKE '%Prelim%'))
    ), cells AS (
      SELECT r.x, r.y, r.value
      FROM raw r JOIN kept k USING (file)
      WHERE r.value IS NOT NULL
    ), daily AS (
      SELECT x, y, {DSUM('value')} AS dsum
      FROM cells GROUP BY x, y
    ), zones AS (
      SELECT * FROM (VALUES (1,0,0,5,4),(2,6,0,11,4),
                            (3,0,5,5,9),(4,6,5,11,9))
        AS z(zone_id, zxmin, zymin, zxmax, zymax)
    )
    SELECT z.zone_id,
           {R(DSUM('dsum') + ' / COUNT(dsum)', 6)} AS zmean,
           {R('MIN(dsum)', 6)} AS zmin,
           {R('MAX(dsum)', 6)} AS zmax,
           COUNT(dsum) AS zcount
    FROM daily d JOIN zones z
      ON d.x BETWEEN z.zxmin AND z.zxmax
     AND d.y BETWEEN z.zymin AND z.zymax
    GROUP BY z.zone_id
"""


_HRDPA_GRIB_ORACLE = _hrdpa_oracle(_HRDPA_CELLS)


def _hrdpa_pipeline(spark: SparkSession, grib_dir) -> DataFrame:
    """Listing -> dedup -> GRIB2 decode -> daily accumulation -> tiles
    -> zonal stats, one pipeline (shared by the simple- and
    complex-packed fixture sets)."""
    import datetime as _dt
    import os as _os

    from ..operators.raster import tile_cells, zonal_stats
    from ..sources.gridded import grib_cells, hrdpa_normalize

    names = sorted(_os.listdir(grib_dir))
    listing = _ldf(spark, [(n, n) for n in names], ["file", "path"])
    kept = hrdpa_normalize(listing, "APCP-Accum6h",
                           _dt.datetime(2024, 1, 1))
    cells = grib_cells(spark, str(grib_dir) + "/*.grib2")
    cells = cells.join(F.broadcast(kept.select("file")), "file",
                       "left_semi")
    daily = cells.groupBy("x", "y").agg(
        _exact_sum_col("value").alias("value"))
    tiles = tile_cells(daily, tile=8)
    zones = _ldf(
        spark,
        [(1, 0, 0, 5, 4), (2, 6, 0, 11, 4), (3, 0, 5, 5, 9),
         (4, 6, 5, 11, 9)],
        ["zone_id", "zxmin", "zymin", "zxmax", "zymax"],
    )
    zs = zonal_stats(tiles, zones)
    return _round(
        zs.select("zone_id", "zmean", "zmin", "zmax", "zcount"),
        {"zmean": 6, "zmin": 6, "zmax": 6},
    )


@register("hrdpa_grib_ingest", oracle=_HRDPA_GRIB_ORACLE)
def hrdpa_grib_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Listing -> dedup -> GRIB2 decode -> daily accumulation -> tiles
    -> zonal stats, one pipeline."""
    return _hrdpa_pipeline(spark, _HRDPA_GRIB_DIR)


_HRDPA_ROT_DIR = _FIXDIR / "hrdpa_rot_grib"
_HRDPA_ROT_CELLS = _FIXDIR / "hrdpa_rot_cells.csv"

# Rotated-grid ingest (grid template 3.1 + complex packing — the real
# shape of an ECCC 'RLatLon' file): per-cell TRUE geographic
# coordinates come out of the unrotation (functions/grib2.py
# _unrotate), and the oracle's lat/lon come from the fixture
# generator's INDEPENDENT matrix implementation — aggregating per
# true-latitude band makes the rotation math itself hash-checked.
_HRDPA_ROT_ORACLE = f"""
    WITH raw AS (
      SELECT file, x, y, CAST(lat AS DOUBLE) AS lat,
             CAST(lon AS DOUBLE) AS lon, CAST(value AS DOUBLE) AS value
      FROM read_csv('{_HRDPA_ROT_CELLS}', header=true)
      WHERE value IS NOT NULL
    )
    SELECT CAST(floor(lat) AS BIGINT) AS lat_band,
           count(*) AS n_cells,
           count(DISTINCT file) AS n_files,
           {R(DSUM('value') + ' / count(value)', 6)} AS vmean,
           {R('min(lon)', 6)} AS lon_min,
           {R('max(lon)', 6)} AS lon_max
    FROM raw GROUP BY 1
"""


@register("hrdpa_rotated_ingest", oracle=_HRDPA_ROT_ORACLE)
def hrdpa_rotated_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rotated lat/lon GRIB2 decode -> true-coordinate latitude-band
    stats (template 3.1 + complex packing, the production ECCC file
    shape)."""
    from ..sources.gridded import grib_cells

    cells = grib_cells(spark, str(_HRDPA_ROT_DIR) + "/*.grib2")
    out = cells.groupBy(
        F.floor(F.col("lat")).cast("bigint").alias("lat_band")
    ).agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.count_distinct("file").alias("n_files"),
        _exact_mean_of(F.col("value")).alias("vmean"),
        F.min("lon").alias("lon_min"),
        F.max("lon").alias("lon_max"),
    )
    return _round(out, {"vmean": 6, "lon_min": 6, "lon_max": 6})


@register("hrdpa_complex_ingest", oracle=_hrdpa_oracle(_HRDPA_COMPLEX_CELLS))
def hrdpa_complex_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same end-to-end HRDPA pipeline over COMPLEX-packed payloads
    (data representation templates 5.2 and 5.3, spatial differencing
    orders 1-2 — what production ECCC files actually carry,
    R/downloadHRDPA.R:80-181 via terra/GDAL). The oracle reads the
    fixture generator's decoded-cell CSV twin, so the grouped
    bit-unpacking and un-differencing are differentially checked."""
    return _hrdpa_pipeline(spark, _HRDPA_COMPLEX_DIR)


_HRDPS_GRIB_DIR = _FIXDIR / "hrdps_grib"
_HRDPS_CELLS = _FIXDIR / "hrdps_cells.csv"

# HRDPS forecast ingest end-to-end (downloadHRDPS.R:39-199): run
# listing -> latest-COMPLETE-run selection (the 06Z run has only 3 of
# the required 5 steps and must lose to 12Z) -> per-step references ->
# real GRIB2 decode -> per-step zonal stats, with the decoded
# section-4 forecast hour cross-checking the filename-derived step.
_HRDPS_GRIB_ORACLE = f"""
    WITH raw AS (
      SELECT file, CAST(issue AS TIMESTAMP) AS issue, step, x, y,
             CAST(value AS DOUBLE) AS value
      FROM read_csv('{_HRDPS_CELLS}', header=true)
    ), runs AS (
      SELECT issue, count(DISTINCT step) AS n_steps FROM raw GROUP BY 1
    ), sel_run AS (
      SELECT issue FROM runs
      WHERE n_steps >= 5 AND issue > TIMESTAMP '2024-01-09 00:00:00'
      ORDER BY issue DESC LIMIT 1
    ), sel AS (
      SELECT r.* FROM raw r JOIN sel_run USING (issue)
      WHERE r.value IS NOT NULL AND r.step <= 4
    )
    SELECT CAST(step AS BIGINT) AS step,
           issue AS issued,
           issue + to_hours(step) AS valid_from,
           issue + to_hours(step + 1) AS valid_to,
           CAST(step AS BIGINT) AS decoded_fh,
           count(*) AS n_cells,
           {R(DSUM('value') + ' / count(value)', 6)} AS zmean,
           {R('min(value)', 6)} AS zmin,
           {R('max(value)', 6)} AS zmax
    FROM sel GROUP BY step, issue
"""


@register("hrdps_grib_ingest", oracle=_HRDPS_GRIB_ORACLE)
def hrdps_grib_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-complete-run selection -> step expansion -> GRIB2 decode
    -> per-step stats; decoded forecast hours must equal the step."""
    import os as _os

    from ..sources.gridded import (grib_cells, hrdps_forecast_steps,
                                  hrdps_select_run)

    names = sorted(_os.listdir(_HRDPS_GRIB_DIR))
    listing = _ldf(spark, [(n,) for n in names], ["file"])
    runs = (
        listing.select(
            F.to_timestamp(F.substring("file", 1, 11), "yyyyMMdd'T'HH")
            .alias("issue"))
        .groupBy("issue").agg(F.count(F.lit(1)).alias("n_steps"))
        .withColumn("base_url", F.lit("https://dd/model_hrdps/2.5km"))
    )
    sel = hrdps_select_run(runs, last_issued="2024-01-09 00:00:00",
                           min_steps=5)
    steps = hrdps_forecast_steps(sel, "TMP_AGL-2m", n_steps=4)
    refs = steps.select(
        F.col("step").cast("long").alias("step"), "issued",
        "valid_from", "valid_to",
        F.substring_index("source", "/", -1).alias("file"),
    )
    cells = grib_cells(spark, str(_HRDPS_GRIB_DIR) + "/*.grib2")
    j = cells.join(F.broadcast(refs), "file")
    out = j.groupBy("step", "issued", "valid_from", "valid_to").agg(
        F.min("fhours").cast("long").alias("decoded_fh"),
        F.count(F.lit(1)).alias("n_cells"),
        _exact_mean_of(F.col("value")).alias("zmean"),
        F.min("value").alias("zmin"),
        F.max("value").alias("zmax"),
    )
    return _round(
        out.select("step", "issued", "valid_from", "valid_to",
                   "decoded_fh", "n_cells", "zmean", "zmin", "zmax"),
        {"zmean": 6, "zmin": 6, "zmax": 6},
    )


_ERA5_NC = _FIXDIR / "era5_tp.nc"
_ERA5_CELLS = _FIXDIR / "era5_cells.csv"
_ERA5_NC4 = _FIXDIR / "era5_tp_nc4.nc"
_ERA5_NC4_CELLS = _FIXDIR / "era5_nc4_cells.csv"


# ERA5 NetCDF ingest end-to-end (downloadERA5.R payload half): real
# NetCDF-3 decode (packed shorts + scale/offset + fill, record-dim
# time slabs — functions/netcdf3.py) -> hourly cells -> daily
# accumulation per cell -> half-grid zonal stats; oracle reads the
# fixture generator's decoded CSV twin so the binary decode itself is
# differentially checked.
def _era5_oracle(cells_csv) -> str:
    return f"""
    WITH raw AS (
      SELECT hour, x, y, CAST(tp AS DOUBLE) AS tp
      FROM read_csv('{cells_csv}', header=true)
      WHERE tp IS NOT NULL
    ), stamped AS (
      SELECT TIMESTAMP '1900-01-01 00:00:00' + to_hours(hour) AS dt,
             x, y, tp
      FROM raw
    ), daily AS (
      SELECT CAST(dt AS DATE) AS date, x, y,
             {DSUM('tp')} AS dsum, count(*) AS n_hours
      FROM stamped GROUP BY 1, 2, 3
    )
    SELECT date, CASE WHEN x < 3 THEN 'west' ELSE 'east' END AS zone,
           count(*) AS n_cells,
           {R(DSUM('dsum') + ' / count(dsum)', 6)} AS zmean,
           {R('min(dsum)', 6)} AS zmin,
           {R('max(dsum)', 6)} AS zmax,
           CAST(sum(n_hours) AS BIGINT) AS total_hours
    FROM daily
    GROUP BY 1, 2
"""


_ERA5_NC_ORACLE = _era5_oracle(_ERA5_CELLS)


def _era5_pipeline(spark: SparkSession, nc_path) -> DataFrame:
    """NetCDF decode -> hourly cells -> per-cell daily accumulation
    -> half-grid zonal stats (shared by the CDF-1 and HDF5 payloads)."""
    from ..sources.gridded import netcdf_cells

    cells = netcdf_cells(spark, str(nc_path), "tp")
    stamped = cells.select(
        F.timestamp_add("HOUR", F.col("hour").cast("int"),
                        F.lit("1900-01-01 00:00:00").cast("timestamp"))
        .alias("dt"),
        "x", "y", "value",
    )
    daily = stamped.groupBy(
        F.to_date("dt").alias("date"), "x", "y"
    ).agg(
        _exact_sum_col("value").alias("dsum"),
        F.count(F.lit(1)).alias("n_hours"),
    )
    out = daily.groupBy(
        "date",
        F.when(F.col("x") < 3, "west").otherwise("east").alias("zone"),
    ).agg(
        F.count(F.lit(1)).alias("n_cells"),
        _exact_mean_of(F.col("dsum")).alias("zmean"),
        F.min("dsum").alias("zmin"),
        F.max("dsum").alias("zmax"),
        F.sum("n_hours").cast("bigint").alias("total_hours"),
    )
    return _round(out, {"zmean": 6, "zmin": 6, "zmax": 6})


@register("era5_netcdf_ingest", oracle=_ERA5_NC_ORACLE)
def era5_netcdf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NetCDF-3 decode -> hourly cells -> per-cell daily accumulation
    -> half-grid zonal stats."""
    return _era5_pipeline(spark, _ERA5_NC)


@register("era5_netcdf4_ingest", oracle=_era5_oracle(_ERA5_NC4_CELLS))
def era5_netcdf4_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same ERA5 pipeline over a NetCDF-4 (HDF5) payload — the format
    the CDS API frequently serves (R/downloadERA5.R:149-200): chunked
    int16 with the netCDF default shuffle+deflate pipeline, decoded by
    the pure-stdlib HDF5 subset reader (functions/hdf5.py); the oracle
    reads the fixture generator's decoded-cell CSV twin, so chunk
    B-tree walking, unshuffling, and inflation are differentially
    checked."""
    return _era5_pipeline(spark, _ERA5_NC4)


_CALDAS_GRIB_DIR = _FIXDIR / "caldas_grib"
_CALDAS_CELLS = _FIXDIR / "caldas_cells.csv"

# CaLDAS analysis ingest (downloadCaLDAS.R:36-51 + decode): requested
# hours pass the 3-hourly cadence gate, per-(day, hour) references
# select the staged analyses (the 21Z file exists but is NOT in the
# request), GRIB2 decode, per-analysis stats.
_CALDAS_ORACLE = f"""
    WITH raw AS (
      SELECT file, CAST(datetime AS TIMESTAMP) AS datetime, x, y,
             CAST(value AS DOUBLE) AS value
      FROM read_csv('{_CALDAS_CELLS}', header=true)
    ), sel AS (
      SELECT * FROM raw
      WHERE hour(datetime) IN (0, 6, 12) AND value IS NOT NULL
    )
    SELECT datetime,
           count(*) AS n_cells,
           {R(DSUM('value') + ' / count(value)', 6)} AS zmean,
           {R('min(value)', 6)} AS zmin,
           {R('max(value)', 6)} AS zmax
    FROM sel GROUP BY datetime
"""


@register("caldas_grib_ingest", oracle=_CALDAS_ORACLE)
def caldas_grib_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cadence-gated hour selection -> analysis decode -> per-analysis
    stats (the fourth gridded connector, decode-wired)."""
    from ..sources.gridded import caldas_validate_hours, grib_cells

    hrs = caldas_validate_hours("0,6,12")
    refs = _ldf(spark, [
        (f"20240110T{h:02d}Z_MSC_CaLDAS-NSRPS_SD_Veg_"
         f"RLatLon0.009_PT0H.grib2",
         f"2024-01-10 {h:02d}:00:00")
        for h in hrs
    ], ["file", "dt"]).select(
        "file", F.col("dt").cast("timestamp").alias("datetime"))
    cells = grib_cells(spark, str(_CALDAS_GRIB_DIR) + "/*.grib2")
    j = cells.join(F.broadcast(refs), "file")
    out = j.groupBy("datetime").agg(
        F.count(F.lit(1)).alias("n_cells"),
        _exact_mean_of(F.col("value")).alias("zmean"),
        F.min("value").alias("zmin"),
        F.max("value").alias("zmax"),
    )
    return _round(out, {"zmean": 6, "zmin": 6, "zmax": 6})


# ---------------------------------------------------------------------------
# ERA5/CDS request batching (downloadERA5.R:149-200): full months become
# one request, partial head/tail months go day-by-day — planned set-wise
# for a catalog of ranges with a months-spine explode + days explode.
# ---------------------------------------------------------------------------

_ERA5_PLAN_ORACLE = """
    WITH r AS (
      SELECT o_orderkey AS req_id,
             CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE)
               + CAST((o_orderkey % 90) + 10 AS INT) AS e
      FROM orders WHERE o_orderkey % 41 = 5
    ), m AS (
      SELECT req_id, s, e,
             CAST(unnest(generate_series(
               date_trunc('month', s), date_trunc('month', e),
               INTERVAL 1 MONTH)) AS DATE) AS mth
      FROM r
    ), rng AS (
      SELECT req_id, s, e, mth, last_day(mth) AS me,
             greatest(s, mth) AS rs, least(e, last_day(mth)) AS re
      FROM m
    ), days AS (
      SELECT req_id,
             CAST(unnest(generate_series(CAST(rs AS TIMESTAMP),
                                         CAST(re AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS d
      FROM rng WHERE NOT (rs = mth AND re = me)
    )
    SELECT req_id, 'month' AS request_type,
           rs AS range_start, re AS range_end
    FROM rng WHERE rs = mth AND re = me
    UNION ALL
    SELECT req_id, 'day', d, d FROM days
"""


@register("era5_request_plan", oracle=_ERA5_PLAN_ORACLE)
def era5_request_plan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.gridded import era5_request_plan

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    ranges = o.where(k % 41 == 5).select(
        k.alias("req_id"),
        F.to_date("o_orderdate").alias("start_ts"),
        F.date_add(F.to_date("o_orderdate"),
                   (k % 90 + 10).cast("int")).alias("end_ts"),
    )
    return era5_request_plan(ranges)


# ---------------------------------------------------------------------------
# Water-quality guideline (criteria) evaluation, §patch_51: input
# resolution with result-type preference ranks + condition-value
# fallback + single/avg/max aggregation + calibrated-bound clamp and
# reject, then rule algorithms (constant / narrative / linear /
# log-linear) with output caps and per-rule rounding, then the
# bound-preferring scalar. Dims are VALUES on both engines; the results
# fact derives from orders so every status arm fires somewhere.
# ---------------------------------------------------------------------------

_GUIDELINE_RESULTS_SQL = """
      SELECT o_orderkey AS result_id,
             o_custkey % 120 AS sample_id,
             CASE o_orderkey % 3 WHEN 0 THEN 7 WHEN 1 THEN 8 ELSE 9 END
               AS parameter_id,
             CASE WHEN o_orderkey % 19 = 0 THEN NULL
                  ELSE (o_orderkey % 400) * 0.1 + 0.2 END AS result,
             CASE WHEN o_orderkey % 19 = 0
                  THEN (o_orderkey % 50) * 0.1 + 0.1 END
               AS result_condition_value,
             CASE o_orderkey % 4 WHEN 0 THEN 'field' WHEN 1 THEN 'lab'
                  WHEN 2 THEN 'other' END AS result_type,
             o_orderkey % 2 + 1 AS matrix_state_id,
             o_orderkey % 3 + 1 AS sample_fraction_id,
             CASE WHEN o_orderkey % 5 = 0 THEN NULL
                  ELSE o_orderkey % 4 + 1 END AS result_speciation_id
      FROM orders
"""

_GUIDELINE_EVAL_CTE = f"""
    WITH res AS ({_GUIDELINE_RESULTS_SQL}),
    samples AS (SELECT DISTINCT sample_id FROM res),
    inputs(input_id, parameter_id, matrix_state_id, sample_fraction_id,
           result_speciation_id, result_type, allow_condition_value,
           aggregate_method, lower_calibrated_bound, upper_calibrated_bound,
           bounds_action) AS (
      VALUES (1, 7, NULL, NULL, NULL, NULL, TRUE, 'avg', 1.0, 30.0, 'clamp'),
             (2, 8, 1, NULL, NULL, NULL, FALSE, 'single', 0.5, 35.0, 'reject'),
             (3, 9, NULL, NULL, NULL, 'field', FALSE, 'max', NULL, NULL, 'warn')
    ),
    cand AS (
      SELECT r.sample_id, i.input_id, r.result_id,
             CASE WHEN i.input_id = 1 THEN
               CASE r.result_type WHEN 'field' THEN 1 WHEN 'lab' THEN 2 END
             ELSE 1 END AS rnk,
             CASE WHEN r.result IS NOT NULL THEN r.result
                  WHEN i.allow_condition_value THEN r.result_condition_value
             END AS v
      FROM res r JOIN inputs i ON r.parameter_id = i.parameter_id
       AND (i.matrix_state_id IS NULL
            OR r.matrix_state_id = i.matrix_state_id)
       AND (i.result_type IS NULL
            OR r.result_type IS NOT DISTINCT FROM i.result_type)
       AND (i.input_id <> 1 OR r.result_type IN ('field', 'lab'))
    ),
    agg AS (
      SELECT sample_id, input_id, count(*) AS matching, count(v) AS usable,
             min(rnk) FILTER (WHERE v IS NOT NULL) AS sel_rank
      FROM cand GROUP BY 1, 2
    ),
    at_rank AS (
      SELECT c.sample_id, c.input_id, count(*) AS n_pref,
             sum(CAST(floor(c.v * 1000000 + 0.5) AS BIGINT))
               / 1000000.0 / count(*) AS vavg,
             min(c.v) AS vmin, max(c.v) AS vmax
      FROM cand c JOIN agg a USING (sample_id, input_id)
      WHERE c.v IS NOT NULL AND c.rnk = a.sel_rank
      GROUP BY 1, 2
    ),
    grid AS (
      SELECT s.sample_id, i.input_id, i.aggregate_method,
             i.lower_calibrated_bound, i.upper_calibrated_bound,
             i.bounds_action
      FROM samples s CROSS JOIN inputs i
    ),
    iv AS (
      SELECT g.sample_id, g.input_id,
             CASE WHEN st = 'value' THEN clamped END AS input_value,
             st AS status
      FROM (
        SELECT g.*, a.matching, a.usable, p.n_pref,
               CASE g.aggregate_method WHEN 'avg' THEN p.vavg
                    WHEN 'max' THEN p.vmax ELSE p.vmin END AS raw
        FROM grid g
        LEFT JOIN agg a USING (sample_id, input_id)
        LEFT JOIN at_rank p USING (sample_id, input_id)
      ) g,
      LATERAL (SELECT
        CASE WHEN g.lower_calibrated_bound IS NOT NULL
                  AND g.raw < g.lower_calibrated_bound
                  AND g.bounds_action = 'clamp'
               THEN g.lower_calibrated_bound
             WHEN g.upper_calibrated_bound IS NOT NULL
                  AND g.raw > g.upper_calibrated_bound
                  AND g.bounds_action = 'clamp'
               THEN g.upper_calibrated_bound
             ELSE g.raw END AS clamped,
        CASE WHEN g.matching IS NULL OR g.matching = 0 THEN 'missing_input'
             WHEN g.usable = 0 THEN 'missing_input_value'
             WHEN g.aggregate_method = 'single' AND g.n_pref > 1
               THEN 'ambiguous_input'
             WHEN ((g.lower_calibrated_bound IS NOT NULL
                    AND g.raw < g.lower_calibrated_bound)
                   OR (g.upper_calibrated_bound IS NOT NULL
                       AND g.raw > g.upper_calibrated_bound))
                  AND g.bounds_action = 'reject'
               THEN 'outside_calibrated_range'
             ELSE 'value' END AS st) x
    ),
    rules(rule_id, guideline_id, bound_code, rule_priority, algorithm_code,
          fixed_value, input_id, intercept, slope, min_output_value,
          max_output_value, rounding_digits, rounding_method) AS (
      VALUES (1, 1, 'upper', 1, 'constant', 25.456, NULL, NULL, NULL, NULL,
              NULL, 1, 'round'),
             (2, 1, 'lower', 2, 'narrative', NULL, NULL, NULL, NULL, NULL,
              NULL, NULL, NULL),
             (3, 2, 'upper', 1, 'linear', NULL, 1, 2.0, 0.3, 5.0, 40.0,
              1, 'floor'),
             (4, 2, 'upper', 2, 'log_linear', NULL, 2, 0.7, 0.74, NULL,
              NULL, 3, 'round'),
             (5, 3, 'upper', 1, 'log_linear', NULL, 3, 0.2, 0.5, NULL,
              NULL, 2, 'ceiling')
    ),
    ev0 AS (
      SELECT s.sample_id, r.*, v.input_value, v.status AS in_status
      FROM samples s CROSS JOIN rules r
      LEFT JOIN iv v ON v.sample_id = s.sample_id AND v.input_id = r.input_id
    ),
    ev1 AS (
      SELECT *,
        CASE algorithm_code
          WHEN 'constant' THEN fixed_value
          WHEN 'linear' THEN intercept + slope * input_value
          WHEN 'log_linear' THEN exp(intercept + slope * ln(input_value))
        END AS rawv
      FROM ev0
      -- ln() of a non-positive input errors in DuckDB rather than
      -- yielding NULL: mask it before the projection
      WHERE NOT (algorithm_code = 'log_linear'
                 AND COALESCE(input_value <= 0, FALSE))
      UNION ALL
      SELECT *, NULL AS rawv FROM ev0
      WHERE algorithm_code = 'log_linear'
        AND COALESCE(input_value <= 0, FALSE)
    ),
    ev2 AS (
      SELECT *,
        CASE WHEN rawv IS NULL THEN NULL
             WHEN max_output_value IS NOT NULL
                  AND (CASE WHEN min_output_value IS NOT NULL
                                 AND rawv < min_output_value
                            THEN min_output_value ELSE rawv END)
                      > max_output_value
               THEN max_output_value
             WHEN min_output_value IS NOT NULL AND rawv < min_output_value
               THEN min_output_value
             ELSE rawv END AS capv
      FROM ev1
    ),
    ev AS (
      SELECT sample_id, rule_id, guideline_id, bound_code, rule_priority,
        CASE WHEN st = 'value' THEN rounded END AS guideline_value,
        st AS output_status
      FROM (
        SELECT *,
          CASE WHEN capv IS NULL OR rounding_method IS NULL
                    OR rounding_method = 'none' THEN capv
               WHEN rounding_method = 'round'
                 THEN floor(capv * pow(10, COALESCE(rounding_digits, 0))
                            + 0.5) / pow(10, COALESCE(rounding_digits, 0))
               WHEN rounding_method = 'floor'
                 THEN floor(capv * pow(10, COALESCE(rounding_digits, 0)))
                      / pow(10, COALESCE(rounding_digits, 0))
               WHEN rounding_method = 'ceiling'
                 THEN ceiling(capv * pow(10, COALESCE(rounding_digits, 0)))
                      / pow(10, COALESCE(rounding_digits, 0))
          END AS rounded,
          CASE WHEN algorithm_code = 'narrative' THEN 'narrative'
               WHEN algorithm_code IN ('linear', 'log_linear')
                    AND in_status <> 'value' THEN in_status
               WHEN algorithm_code = 'log_linear' AND in_status = 'value'
                    AND input_value <= 0 THEN 'invalid_input_value'
               WHEN CASE WHEN capv IS NULL OR rounding_method IS NULL
                              OR rounding_method = 'none' THEN capv
                         ELSE capv END IS NULL THEN 'no_value'
               ELSE 'value' END AS st
        FROM ev2
      )
    )
"""

_GUIDELINE_EVAL_ORACLE = _GUIDELINE_EVAL_CTE + f"""
    SELECT sample_id, rule_id, guideline_id, bound_code,
           {R('guideline_value', 6)} AS guideline_value, output_status
    FROM ev
"""


def _guideline_frames(spark: SparkSession, sf_dir: str):
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    results = o.select(
        k.alias("result_id"),
        (F.col("o_custkey") % 120).alias("sample_id"),
        F.when(k % 3 == 0, 7).when(k % 3 == 1, 8).otherwise(9)
        .alias("parameter_id"),
        F.when(k % 19 != 0, (k % 400) * 0.1 + 0.2).alias("result"),
        F.when(k % 19 == 0, (k % 50) * 0.1 + 0.1)
        .alias("result_condition_value"),
        F.when(k % 4 == 0, "field").when(k % 4 == 1, "lab")
        .when(k % 4 == 2, "other").alias("result_type"),
        (k % 2 + 1).alias("matrix_state_id"),
        (k % 3 + 1).alias("sample_fraction_id"),
        F.when(k % 5 != 0, k % 4 + 1).alias("result_speciation_id"),
    )
    samples = results.select("sample_id").distinct()
    inputs = _ldf(spark, 
        [
            (1, 7, None, None, None, None, ["field", "lab"], True, "avg",
             1.0, 30.0, "clamp"),
            (2, 8, 1, None, None, None, None, False, "single",
             0.5, 35.0, "reject"),
            (3, 9, None, None, None, "field", None, False, "max",
             None, None, "warn"),
        ],
        "input_id int, parameter_id int, matrix_state_id int,"
        " sample_fraction_id int, result_speciation_id int,"
        " result_type string, result_type_preference array<string>,"
        " allow_condition_value boolean, aggregate_method string,"
        " lower_calibrated_bound double, upper_calibrated_bound double,"
        " bounds_action string",
    )
    rules = _ldf(spark, 
        [
            (1, 1, "upper", 1, "constant", 25.456, None, None, None, None,
             None, None, 1, "round"),
            (2, 1, "lower", 2, "narrative", None, None, None, None, None,
             None, None, None, None),
            (3, 2, "upper", 1, "linear", None, 1, 2.0, 0.3, None, 5.0, 40.0,
             1, "floor"),
            (4, 2, "upper", 2, "log_linear", None, 2, 0.7, 0.74, None, None,
             None, 3, "round"),
            (5, 3, "upper", 1, "log_linear", None, 3, 0.2, 0.5, None, None,
             None, 2, "ceiling"),
        ],
        "rule_id int, guideline_id int, bound_code string,"
        " rule_priority int, algorithm_code string, fixed_value double,"
        " input_id int, intercept double, slope double,"
        " formula_expr string, min_output_value double,"
        " max_output_value double, rounding_digits int,"
        " rounding_method string",
    )
    return samples, results, inputs, rules


@register("guideline_rule_evaluation", oracle=_GUIDELINE_EVAL_ORACLE)
def guideline_rule_evaluation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.guidelines import (
        evaluate_guideline_rules, guideline_input_values,
    )

    samples, results, inputs, rules = _guideline_frames(spark, sf_dir)
    iv = guideline_input_values(samples, results, inputs)
    ev = evaluate_guideline_rules(rules, iv, samples=samples)
    out = ev.select("sample_id", "rule_id", "guideline_id", "bound_code",
                    "guideline_value", "output_status")
    return _round(out, {"guideline_value": 6})


_GUIDELINE_SCALAR_ORACLE = _GUIDELINE_EVAL_CTE + f"""
    , vals AS (SELECT * FROM ev WHERE output_status = 'value')
    , best AS (
      SELECT guideline_id, sample_id,
             min(struct_pack(o := CASE bound_code WHEN 'upper' THEN 1
                                       WHEN 'lower' THEN 2 ELSE 4 END,
                             r := rule_id, v := guideline_value)) AS b
      FROM vals GROUP BY 1, 2
    )
    SELECT guideline_id, sample_id, {R('b.v', 6)} AS guideline_value
    FROM best
"""


@register("guideline_scalar", oracle=_GUIDELINE_SCALAR_ORACLE)
def guideline_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.guidelines import (
        evaluate_guideline_rules, get_guideline_values,
        guideline_input_values,
    )

    samples, results, inputs, rules = _guideline_frames(spark, sf_dir)
    iv = guideline_input_values(samples, results, inputs)
    ev = evaluate_guideline_rules(rules, iv, samples=samples)
    return _round(get_guideline_values(ev), {"guideline_value": 6})


# ---------------------------------------------------------------------------
# Interval non-overlap validator (exclusion-constraint analog,
# patch_23.R:356-379 / patch_55.R:227-255): a borehole-geology-shaped
# batch checked against existing intervals and earlier in-batch rows.
# ---------------------------------------------------------------------------

_NO_OVERLAP_ORACLE = """
    WITH ex AS (
      SELECT o_custkey % 60 AS borehole_id,
             (o_orderkey % 40) * 5.0 AS depth_from_m,
             (o_orderkey % 40) * 5.0 + (o_orderkey % 4 + 1) * 1.5
               AS depth_to_m
      FROM orders WHERE o_orderkey % 7 = 0
    ), batch AS (
      SELECT o_orderkey AS rec_id,
             o_custkey % 60 AS borehole_id,
             (o_orderkey % 45) * 4.5 AS depth_from_m,
             (o_orderkey % 45) * 4.5 + (o_orderkey % 5 + 1) * 1.2
               AS depth_to_m
      FROM orders WHERE o_orderkey % 11 = 3
    ), he AS (
      SELECT DISTINCT b.rec_id FROM batch b JOIN ex e
        ON b.borehole_id = e.borehole_id
       AND b.depth_from_m < e.depth_to_m AND b.depth_to_m > e.depth_from_m
    ), hb AS (
      SELECT DISTINCT b.rec_id FROM batch b JOIN batch b2
        ON b.borehole_id = b2.borehole_id
       AND b.depth_from_m < b2.depth_to_m AND b.depth_to_m > b2.depth_from_m
       AND b2.rec_id < b.rec_id
    )
    SELECT b.rec_id, b.borehole_id, b.depth_from_m, b.depth_to_m,
           CASE WHEN he.rec_id IS NOT NULL THEN 'overlaps_existing'
                WHEN hb.rec_id IS NOT NULL THEN 'overlaps_in_batch'
           END AS reject_reason
    FROM batch b
    LEFT JOIN he ON he.rec_id = b.rec_id
    LEFT JOIN hb ON hb.rec_id = b.rec_id
"""


@register("interval_overlap_validation", oracle=_NO_OVERLAP_ORACLE)
def interval_overlap_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.catalog_admin import validate_no_overlap

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    existing = o.where(k % 7 == 0).select(
        (F.col("o_custkey") % 60).alias("borehole_id"),
        ((k % 40) * 5.0).alias("depth_from_m"),
        ((k % 40) * 5.0 + (k % 4 + 1) * 1.5).alias("depth_to_m"),
    )
    batch = o.where(k % 11 == 3).select(
        k.alias("rec_id"),
        (F.col("o_custkey") % 60).alias("borehole_id"),
        ((k % 45) * 4.5).alias("depth_from_m"),
        ((k % 45) * 4.5 + (k % 5 + 1) * 1.2).alias("depth_to_m"),
    )
    return validate_no_overlap(
        batch, existing, keys=["borehole_id"],
        start_col="depth_from_m", end_col="depth_to_m", order_col="rec_id",
    )


# ---------------------------------------------------------------------------
# §2.1 downloadEQWin end to end on canned Access-export fixtures
# (R/downloadEQWin.R:43-742): result parsing with detection-limit
# conditions, conversion+offset, the SampleClass/blank-wording sample
# type ladder, station-type defaults, unknown-time datetimes -> UTC,
# required fraction/speciation drops, ordered-unique note collapse,
# result-less sample drops.
# ---------------------------------------------------------------------------

_EQ_TYPES = {"sample-routine": 1, "QC-sample-field replicate": 3,
             "QC-sample-field blank": 4, "QC-sample-trip blank": 5,
             "QC-sample-lab blank": 6, "sample-other": 7, "unknown": 8}
_EQ_MEDIA = {"surface water": 1, "groundwater": 2}
_EQ_COLLECT = {"Water Bottle (direct fill)": 27, "Pump": 14}

_EQWIN_ORACLE = f"""
    WITH stations AS (
      SELECT * FROM read_csv('{_FIXDIR / "eqwin_stations.csv"}',
                             header=true, all_varchar=true)
    ), samples0 AS (
      SELECT * FROM read_csv('{_FIXDIR / "eqwin_samples.csv"}',
                             header=true, all_varchar=true)
    ), results0 AS (
      SELECT * FROM read_csv('{_FIXDIR / "eqwin_results.csv"}',
                             header=true, all_varchar=true)
    ), mapping AS (
      SELECT input_param, input_unit,
             CAST(parameter_id AS BIGINT) AS parameter_id,
             TRY_CAST(conversion AS DOUBLE) AS conversion,
             TRY_CAST(result_offset AS DOUBLE) AS result_offset,
             CAST(result_type AS BIGINT) AS result_type,
             TRY_CAST(sample_fraction_id AS BIGINT) AS sample_fraction_id,
             TRY_CAST(result_speciation_id AS BIGINT) AS result_speciation_id,
             CAST(matrix_state_id AS BIGINT) AS matrix_state_id
      FROM read_csv('{_FIXDIR / "eqwin_mapping.csv"}', header=true,
                    all_varchar=true)
    ), params AS (
      SELECT CAST(parameter_id AS BIGINT) AS pid,
             CAST(sample_fraction AS BOOLEAN) AS need_frac,
             CAST(result_speciation AS BOOLEAN) AS need_spec
      FROM read_csv('{_FIXDIR / "eqwin_parameters.csv"}', header=true,
                    all_varchar=true)
    ), res AS (
      SELECT CAST(r.SampleId AS BIGINT) AS sample_key,
             m.parameter_id, m.result_type, m.sample_fraction_id,
             m.result_speciation_id, m.matrix_state_id,
             CASE WHEN trim(r.Result) LIKE '<%' THEN 1
                  WHEN trim(r.Result) LIKE '>%' THEN 2 END AS result_condition,
             TRY_CAST(regexp_replace(trim(r.Result), '^[<>]\\s*', '')
                      AS DOUBLE)
               * coalesce(m.conversion, 1.0)
               + coalesce(m.result_offset, 0.0) AS xval,
             nullif(concat_ws('; ',
               nullif(trim(r.ResultCode), ''),
               CASE WHEN nullif(trim(r.ResultQuality), '')
                         IS DISTINCT FROM nullif(trim(r.ResultCode), '')
                    THEN nullif(trim(r.ResultQuality), '') END,
               CASE WHEN nullif(trim(r.DetailComment), '')
                         IS DISTINCT FROM nullif(trim(r.ResultCode), '')
                    AND nullif(trim(r.DetailComment), '')
                         IS DISTINCT FROM nullif(trim(r.ResultQuality), '')
                    THEN nullif(trim(r.DetailComment), '') END), '')
               AS result_note
      FROM results0 r
      JOIN mapping m
        ON r.ParamCode = m.input_param AND r.Units = m.input_unit
      WHERE TRY_CAST(regexp_replace(trim(r.Result), '^[<>]\\s*', '')
                     AS DOUBLE) IS NOT NULL
    ), res_kept AS (
      SELECT res.* FROM res
      LEFT JOIN params ON res.parameter_id = params.pid
      WHERE NOT (coalesce(need_frac, false) AND sample_fraction_id IS NULL)
        AND NOT (coalesce(need_spec, false) AND result_speciation_id IS NULL)
    ), samp AS (
      SELECT CAST(s.SampleId AS BIGINT) AS sample_key,
             st.StnCode AS location_code,
             CAST(regexp_replace(
                    CASE WHEN length(trim(s.CollectDateTime)) = 10
                         THEN trim(s.CollectDateTime) || ' 00:00:00'
                         ELSE trim(s.CollectDateTime) END,
                    ' 00:00:00$', ' 12:00:00') AS TIMESTAMP)
               + INTERVAL 7 HOUR AS datetime,
             CASE WHEN upper(trim(st.StnType)) IN ('GW', 'GROUNDWATER')
                  THEN {_EQ_MEDIA['groundwater']}
                  ELSE {_EQ_MEDIA['surface water']} END AS media_id,
             CASE WHEN upper(trim(st.StnType)) IN ('GW', 'GROUNDWATER')
                  THEN {_EQ_COLLECT['Pump']}
                  ELSE {_EQ_COLLECT['Water Bottle (direct fill)']} END
               AS collection_method,
             CASE
               WHEN regexp_matches(
                      concat_ws(' ', lower(trim(s.SampleNo)),
                                lower(trim(s.SampleComments))),
                      '\\btrip\\s+blank\\b')
                 THEN {_EQ_TYPES['QC-sample-trip blank']}
               WHEN regexp_matches(
                      concat_ws(' ', lower(trim(s.SampleNo)),
                                lower(trim(s.SampleComments))),
                      '\\blab(oratory)?\\s+blank\\b|\\blabblank\\b')
                 THEN {_EQ_TYPES['QC-sample-lab blank']}
               WHEN regexp_matches(
                      concat_ws(' ', lower(trim(s.SampleNo)),
                                lower(trim(s.SampleComments))),
                      '\\bfield\\s+blank\\b|\\bblank\\b')
                 THEN {_EQ_TYPES['QC-sample-field blank']}
               WHEN upper(trim(s.SampleClass)) = 'D'
                 THEN {_EQ_TYPES['QC-sample-field replicate']}
               WHEN upper(trim(s.SampleClass)) = 'I'
                 THEN {_EQ_TYPES['sample-other']}
               WHEN upper(trim(s.SampleClass)) = 'XX'
                 THEN {_EQ_TYPES['unknown']}
               ELSE {_EQ_TYPES['sample-routine']} END AS sample_type,
             'EQWin-' || s.SampleId AS import_source_id,
             nullif(concat_ws('; ',
               nullif(trim(s.SampleNo), ''),
               CASE WHEN ('EQWin SampleClass: ' || trim(s.SampleClass))
                         IS DISTINCT FROM nullif(trim(s.SampleNo), '')
                    THEN 'EQWin SampleClass: ' || trim(s.SampleClass) END,
               CASE WHEN nullif(trim(s.SampleComments), '')
                         IS DISTINCT FROM nullif(trim(s.SampleNo), '')
                    AND nullif(trim(s.SampleComments), '')
                         IS DISTINCT FROM
                           ('EQWin SampleClass: ' || trim(s.SampleClass))
                    THEN nullif(trim(s.SampleComments), '') END), '')
               AS sample_note
      FROM samples0 s
      JOIN stations st ON s.StnId = st.StnId
      WHERE EXISTS (SELECT 1 FROM res_kept k
                    WHERE k.sample_key = CAST(s.SampleId AS BIGINT))
    )
    SELECT s.import_source_id, s.location_code, s.datetime, s.media_id,
           s.collection_method, s.sample_type, s.sample_note,
           r.parameter_id, r.result_type,
           {R('CASE WHEN r.result_condition IS NULL THEN r.xval END', 6)}
             AS result,
           r.result_condition,
           {R('CASE WHEN r.result_condition IS NOT NULL THEN r.xval END', 6)}
             AS result_condition_value,
           r.sample_fraction_id, r.result_speciation_id, r.matrix_state_id,
           r.result_note
    FROM samp s JOIN res_kept r USING (sample_key)
"""


@register("eqwin_normalize", oracle=_EQWIN_ORACLE)
def eqwin_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canned EQWin Access export through the full connector
    normalization (sources/eqwin.py; R/downloadEQWin.R:43-742)."""
    from ..sources.eqwin import normalize_eqwin, resolve_type_ids

    def csv(name: str) -> DataFrame:
        return spark.read.csv(str(_FIXDIR / name), header=True)

    samp, res = normalize_eqwin(
        stations=csv("eqwin_stations.csv"),
        samples=csv("eqwin_samples.csv"),
        results=csv("eqwin_results.csv"),
        mapping=csv("eqwin_mapping.csv"),
        parameters=csv("eqwin_parameters.csv"),
        type_ids=resolve_type_ids(_EQ_TYPES),
        media_ids=_EQ_MEDIA,
        collection_ids=_EQ_COLLECT,
    )
    out = (
        samp.withColumnRenamed("note", "sample_note")
        .join(res.withColumnRenamed("note", "result_note"), "sample_key")
        .drop("sample_key")
        .withColumn("media_id", F.col("media_id").cast("int"))
        .withColumn("collection_method", F.col("collection_method").cast("int"))
        .withColumn("sample_type", F.col("sample_type").cast("int"))
    )
    return _round(out, {"result": 6, "result_condition_value": 6})


# ---------------------------------------------------------------------------
# §2.1 readSnowWorkbook QA/QC rules, set-wise over a synthesized batch
# (readSnowWorkbook.R:139-330,629-700): method resolution ladder,
# required dates, no-sample reconciliation, note-only drops, zero-depth
# rule, cm->mm SWE, apostrophe strip.
# ---------------------------------------------------------------------------

_SNOWQC_ORACLE = f"""
    WITH surveys AS (
      SELECT o_orderkey AS survey_id,
             'SC-' || CAST(o_custkey % 50 AS VARCHAR) AS location_name,
             CASE WHEN o_orderkey % 13 = 0 THEN NULL
                  ELSE CAST(o_orderdate AS VARCHAR) END AS target_date,
             CASE WHEN o_orderkey % 17 = 0 THEN NULL
                  ELSE CAST(o_orderdate AS VARCHAR) END AS survey_date,
             'O''Brien ' || CAST(o_custkey % 7 AS VARCHAR) AS sampler,
             CASE WHEN o_orderkey % 5 = 0 THEN 'Bulk sample'
                  WHEN o_orderkey % 5 = 1 THEN 'No sample'
                  ELSE 'standard survey' END AS method,
             CASE WHEN o_orderkey % 3 = 0 THEN 1.5 END AS est_avg,
             CASE WHEN o_orderkey % 4 = 0 THEN 'it''s cold' END AS notes
      FROM orders WHERE o_orderkey % 9 = 0
    ), meas AS (
      SELECT l_orderkey AS survey_id,
             CASE WHEN l_partkey % 31 = 0 THEN NULL
                  WHEN l_partkey % 7 = 0 THEN 0.0
                  ELSE l_quantity END AS depth,
             CASE WHEN l_partkey % 31 = 0 THEN NULL
                  WHEN l_partkey % 5 = 0 THEN NULL
                  ELSE l_quantity * 0.35 END AS swe,
             l_partkey % 11 = 0 AS excluded
      FROM lineitem
      WHERE l_orderkey % 9 = 0 AND l_linenumber <= 4
        AND l_orderkey % 45 <> 9
    ), m_clean AS (
      SELECT survey_id,
             depth,
             CASE WHEN depth = 0 THEN 0.0 ELSE swe END AS swe,
             CAST(floor(CASE WHEN depth = 0 THEN 0.0 ELSE swe END * 10 + 0.5)
                  AS BIGINT) AS swe_mm,
             excluded
      FROM meas WHERE depth IS NOT NULL OR swe IS NOT NULL
    ), counts AS (
      SELECT survey_id, count(*) AS n FROM m_clean GROUP BY 1
    ), s AS (
      SELECT sv.*, coalesce(c.n, 0) AS n_meas,
             CASE WHEN est_avg IS NOT NULL
                       AND lower(method) <> 'bulk sample'
                  THEN 'average' ELSE method END AS method0
      FROM surveys sv LEFT JOIN counts c USING (survey_id)
    ), graded AS (
      SELECT survey_id, location_name,
             CASE WHEN n_meas = 0 AND lower(method0) <> 'no sample'
                  THEN 'no sample' ELSE method0 END AS method_resolved,
             CASE WHEN target_date IS NULL
                    THEN 'rejected_missing_target_date'
                  WHEN survey_date IS NULL
                    THEN 'rejected_missing_survey_date'
                  WHEN n_meas > 0 AND lower(method0) = 'no sample'
                    THEN 'rejected_no_sample_conflict'
                  ELSE 'ok' END AS status,
             replace(sampler, '''', '') AS sampler,
             replace(notes, '''', '') AS notes
      FROM s
    )
    SELECT g.survey_id, g.location_name, g.method_resolved, g.status,
           g.sampler, g.notes,
           CAST(coalesce(count(m.survey_id), 0) AS BIGINT) AS n_meas,
           sum(m.swe_mm) AS sum_swe_mm,
           {R(DSUM('m.depth') + ' / count(m.depth)', 6)} AS mean_depth,
           CAST(coalesce(sum(CASE WHEN m.excluded THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_excluded
    FROM graded g
    LEFT JOIN m_clean m ON m.survey_id = g.survey_id AND g.status = 'ok'
    GROUP BY 1, 2, 3, 4, 5, 6
"""


@register("snow_workbook_qc", oracle=_SNOWQC_ORACLE)
def snow_workbook_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Workbook QA/QC ladder over a synthesized survey batch
    (sources/snow_workbook.qc_survey_batch)."""
    from ..operators.daily import exact_sum
    from ..sources.snow_workbook import qc_survey_batch

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    surveys = o.where(k % 9 == 0).select(
        k.alias("survey_id"),
        F.concat(F.lit("SC-"), (F.col("o_custkey") % 50).cast("string"))
        .alias("location_name"),
        F.when(k % 13 != 0, F.col("o_orderdate").cast("string"))
        .alias("target_date"),
        F.when(k % 17 != 0, F.col("o_orderdate").cast("string"))
        .alias("survey_date"),
        F.concat(F.lit("O'Brien "), (F.col("o_custkey") % 7).cast("string"))
        .alias("sampler"),
        F.when(k % 5 == 0, "Bulk sample")
        .when(k % 5 == 1, "No sample")
        .otherwise("standard survey").alias("method"),
        F.when(k % 3 == 0, F.lit(1.5)).alias("est_avg"),
        F.when(k % 4 == 0, F.lit("it's cold")).alias("notes"),
    )
    li = _t(spark, sf_dir, "lineitem")
    lk, pk = F.col("l_orderkey"), F.col("l_partkey")
    meas = (
        li.where((lk % 9 == 0) & (F.col("l_linenumber") <= 4)
                 & (lk % 45 != 9))
        .select(
            lk.alias("survey_id"),
            F.when(pk % 31 == 0, F.lit(None).cast("double"))
            .when(pk % 7 == 0, F.lit(0.0))
            .otherwise(F.col("l_quantity").cast("double")).alias("depth"),
            F.when(pk % 31 == 0, F.lit(None).cast("double"))
            .when(pk % 5 == 0, F.lit(None).cast("double"))
            .otherwise(F.col("l_quantity").cast("double") * 0.35)
            .alias("swe"),
            (pk % 11 == 0).alias("excluded"),
        )
    )
    s, m = qc_survey_batch(surveys, meas)
    rollup = m.groupBy("survey_id").agg(
        F.count("*").alias("__n"),
        F.sum("swe_mm").alias("__swe"),
        (exact_sum(F.col("depth")) / F.count("depth")).alias("__d"),
        F.sum(F.when(F.col("excluded"), 1).otherwise(0)).cast("long")
        .alias("__ex"),
    )
    out = (
        s.join(rollup, "survey_id", "left")
        .select(
            "survey_id", "location_name", "method_resolved", "status",
            "sampler", "notes",
            F.coalesce("__n", F.lit(0)).cast("long").alias("n_meas"),
            F.col("__swe").alias("sum_swe_mm"),
            F.col("__d").alias("mean_depth"),
            F.coalesce("__ex", F.lit(0)).cast("long").alias("n_excluded"),
        )
    )
    return _round(out, {"mean_depth": 6})


# ---------------------------------------------------------------------------
# §2.12 high-watermark ingest + bounds maintenance + tail trim in one
# composition (getNewContinuous.R:469-477,514-518; patch_41.R:1007-1051;
# patch_48.R:113-200) — previously unit-only, now oracle-checked.
# ---------------------------------------------------------------------------

_WM_CUTOFF = "2024-03-01 00:00:00"

_WM_ORACLE = f"""
    WITH ev AS (
      SELECT event_type, CAST(ts AS TIMESTAMP) AS datetime, value,
             event_id
      FROM events
    ), existing AS (
      SELECT * FROM ev WHERE datetime < TIMESTAMP '{_WM_CUTOFF}'
    ), wm AS (
      SELECT event_type, max(datetime) AS last_data_point
      FROM existing GROUP BY 1
    ), remote AS (
      -- the source re-serves everything; NA values dropped at the
      -- contract gate (getNewContinuous.R:514-518)
      SELECT event_type, datetime,
             CASE WHEN event_id % 97 = 0 THEN NULL ELSE value END AS value
      FROM ev
    ), new_rows AS (
      SELECT r.event_type, r.datetime, r.value
      FROM remote r JOIN wm USING (event_type)
      WHERE r.datetime > wm.last_data_point AND r.value IS NOT NULL
    ), merged AS (
      SELECT event_type, datetime FROM existing
      UNION ALL
      SELECT event_type, datetime FROM new_rows
    ), bounds AS (
      SELECT event_type, min(datetime) AS start_datetime,
             max(datetime) AS end_datetime
      FROM merged GROUP BY 1
    ), daily AS (
      SELECT event_type, CAST(datetime AS DATE) AS date
      FROM ev GROUP BY 1, 2
    ), last_day AS (
      SELECT event_type, max(CAST(datetime AS DATE)) AS d
      FROM existing GROUP BY 1
    ), trim AS (
      SELECT daily.event_type, count(*) AS n_trim
      FROM daily JOIN last_day USING (event_type)
      WHERE daily.date > last_day.d
      GROUP BY 1
    )
    SELECT wm.event_type, wm.last_data_point,
           (SELECT count(*) FROM new_rows n
            WHERE n.event_type = wm.event_type) AS n_new,
           b.start_datetime, b.end_datetime,
           coalesce(t.n_trim, 0) AS n_trim
    FROM wm
    JOIN bounds b ON b.event_type = wm.event_type
    LEFT JOIN trim t ON t.event_type = wm.event_type
"""


@register("watermark_ingest_trim", oracle=_WM_ORACLE)
def watermark_ingest_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest cycle: per-series watermark -> contract-gated
    new rows -> bounds refresh -> daily tail trim
    (streaming/incremental.py + sources/registry.validate_contract)."""
    from ..streaming.incremental import (
        high_watermarks, series_bounds, trim_daily_tail,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.col("ts").alias("datetime"), "value", "event_id"
    )
    existing = ev.where(F.col("datetime") < F.lit(_WM_CUTOFF).cast("timestamp"))
    wm = high_watermarks(existing, ts_col="event_type")
    remote = ev.withColumn(
        "value",
        F.when(F.col("event_id") % 97 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value")),
    )
    new_rows = (
        remote.join(F.broadcast(wm), "event_type")
        .where(
            (F.col("datetime") > F.col("last_data_point"))
            & F.col("value").isNotNull()
        )
        .select("event_type", "datetime", "value")
    )
    merged = existing.select("event_type", "datetime").unionByName(
        new_rows.select("event_type", "datetime")
    )
    bounds = series_bounds(merged, ts_col="event_type")
    daily = ev.select(
        "event_type", F.to_date("datetime").alias("date")
    ).distinct()
    trims = (
        trim_daily_tail(daily, existing, ts_col="event_type",
                        dt_col="datetime")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_trim"))
    )
    counts = new_rows.groupBy("event_type").agg(F.count("*").alias("n_new"))
    return (
        wm.join(bounds, "event_type")
        .join(counts, "event_type", "left")
        .join(trims, "event_type", "left")
        .select(
            "event_type", "last_data_point",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            "start_datetime", "end_datetime",
            F.coalesce("n_trim", F.lit(0)).alias("n_trim"),
        )
    )


# ---------------------------------------------------------------------------
# Raster x vector composition: per-polygon (basin) raster statistics —
# ST_SummaryStats(ST_Clip(rast, geom)) over tiled storage. The oracle
# proves containment through independent half-plane math on the CCW
# triangles (as in vector_point_in_polygon), not a mirrored ray cast.
# ---------------------------------------------------------------------------

_BASIN_ORACLE = f"""
    WITH cells AS ({_RASTER_CELLS_SQL}),
    tri AS (
      SELECT n_nationkey AS poly_id,
             CAST((n_nationkey * 11) % 70 AS DOUBLE) AS ax,
             CAST((n_nationkey * 23) % 70 AS DOUBLE) AS ay,
             CAST((n_nationkey * 11) % 70 + 20 + n_nationkey % 7 AS DOUBLE) AS bx,
             CAST((n_nationkey * 23) % 70 + 4 + n_nationkey % 5 AS DOUBLE) AS by,
             CAST((n_nationkey * 11) % 70 + 6 + n_nationkey % 4 AS DOUBLE) AS cx,
             CAST((n_nationkey * 23) % 70 + 24 + n_nationkey % 6 AS DOUBLE) AS cy
      FROM nation
    )
    , pts AS (
      SELECT x + 0.137 AS sx, y + 0.269 AS sy, value FROM cells
    )
    SELECT poly_id,
           {R(DSUM('c.value') + ' / count(*)', 6)} AS zmean,
           min(c.value) AS zmin, max(c.value) AS zmax,
           count(*) AS zcount
    FROM tri JOIN pts c
      ON (bx - ax) * (c.sy - ay) - (by - ay) * (c.sx - ax) > 0
     AND (cx - bx) * (c.sy - by) - (cy - by) * (c.sx - bx) > 0
     AND (ax - cx) * (c.sy - cy) - (ay - cy) * (c.sx - cx) > 0
    GROUP BY poly_id
"""


@register("raster_basin_stats", oracle=_BASIN_ORACLE)
def raster_basin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basin-averaged raster values: tiles bbox-pruned against
    broadcast CCW triangle basins, ray-cast refine on cell centers
    (operators/raster.zonal_stats_polygon)."""
    from ..operators.raster import tile_cells, zonal_stats_polygon

    nation = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    ax, ay = (k * 11) % 70, (k * 23) % 70
    verts = [
        (ax, ay),
        (ax + 20 + k % 7, ay + 4 + k % 5),
        (ax + 6 + k % 4, ay + 24 + k % 6),
    ]
    polys = nation.select(
        k.cast("int").alias("poly_id"),
        F.array(*[
            F.struct(x.cast("double").alias("x"), y.cast("double").alias("y"))
            for x, y in verts
        ]).alias("ring"),
    )
    tiles = tile_cells(_raster_cells(spark, sf_dir), tile=16)
    out = zonal_stats_polygon(tiles, polys)
    return _round(out, {"zmean": 6})


# ---------------------------------------------------------------------------
# Sensor-QC spike detection: Hampel identifier (rolling median ± MAD)
# per series — the automated detector in front of the reference's
# manual grade/qualifier workflow (operators/spike.py).
# ---------------------------------------------------------------------------

_HAMPEL_ORACLE = f"""
    WITH s AS (
      SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value,
             list_sort(list_filter(list(value) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING),
               x -> x IS NOT NULL)) AS win
      FROM events
    ), m AS (
      SELECT *,
             CASE WHEN len(win) % 2 = 1 THEN win[len(win) // 2 + 1]
                  ELSE (win[len(win) // 2] + win[len(win) // 2 + 1]) / 2.0
             END AS wmed
      FROM s
    ), d AS (
      SELECT *, list_sort(list_transform(win, x -> abs(x - wmed))) AS devs
      FROM m
    ), md AS (
      SELECT *,
             CASE WHEN len(devs) % 2 = 1 THEN devs[len(devs) // 2 + 1]
                  ELSE (devs[len(devs) // 2] + devs[len(devs) // 2 + 1]) / 2.0
             END AS mad
      FROM d
    )
    SELECT event_id, event_type, ts,
           {R('wmed', 6)} AS window_median, {R('mad', 6)} AS mad,
           coalesce(CASE WHEN value IS NOT NULL
                         THEN abs(value - wmed) > 3.0 * 1.4826 * mad END,
                    false) AS is_spike
    FROM md
"""


@register("hampel_spike_flags", oracle=_HAMPEL_ORACLE)
def hampel_spike_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel spike flags over events, ±5-point windows, t=3."""
    from ..operators.spike import hampel_flags

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    out = hampel_flags(
        ev, keys=["event_type"], dt_col="ts", value_col="value", k=5,
        t=3.0, tiebreak_cols=["event_id"],
    ).select("event_id", "event_type", "ts", "window_median", "mad",
             "is_spike")
    return _round(out, {"window_median": 6, "mad": 6})


# NULL-bearing variant: events.value has zero NULLs at every fixture
# scale factor, so the NULL path of the detector (collect_list drops
# NULLs; the oracle's list() must list_filter them) was latent — this
# query nullifies a deterministic slice so both engines exercise it.
_HAMPEL_NULLS_ORACLE = _HAMPEL_ORACLE.replace(
    "FROM events",
    "FROM (SELECT event_id, event_type, ts,"
    " CASE WHEN event_id % 37 = 0 THEN NULL ELSE value END AS value"
    " FROM events)",
)


@register("hampel_spike_nulls", oracle=_HAMPEL_NULLS_ORACLE)
def hampel_spike_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel flags with every 37th value NULLed: NULLs are excluded
    from the median/MAD window and never flag as spikes."""
    from ..operators.spike import hampel_flags

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts",
        F.when(F.col("event_id") % 37 == 0, F.lit(None))
        .otherwise(F.col("value")).alias("value"),
    )
    out = hampel_flags(
        ev, keys=["event_type"], dt_col="ts", value_col="value", k=5,
        t=3.0, tiebreak_cols=["event_id"],
    ).select("event_id", "event_type", "ts", "window_median", "mad",
             "is_spike")
    return _round(out, {"window_median": 6, "mad": 6})


# ---------------------------------------------------------------------------
# Automated QC proposal: Hampel spike flags -> run-length spike
# segments — the interval rows adjust() would then reconcile into the
# qualifier table (detector in front of adjust_functions.R).
# ---------------------------------------------------------------------------

_SPIKE_SEG_ORACLE = f"""
    WITH s AS (
      SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value,
             list_sort(list_filter(list(value) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING),
               x -> x IS NOT NULL)) AS win
      FROM events
    ), m AS (
      SELECT *,
             CASE WHEN len(win) % 2 = 1 THEN win[len(win) // 2 + 1]
                  ELSE (win[len(win) // 2] + win[len(win) // 2 + 1]) / 2.0
             END AS wmed
      FROM s
    ), d AS (
      SELECT *, list_sort(list_transform(win, x -> abs(x - wmed))) AS devs
      FROM m
    ), md AS (
      SELECT event_id, event_type, ts,
             coalesce(CASE WHEN value IS NOT NULL
                  THEN abs(value - (CASE WHEN len(win) % 2 = 1
                                    THEN win[len(win) // 2 + 1]
                                    ELSE (win[len(win) // 2]
                                          + win[len(win) // 2 + 1]) / 2.0 END))
                       > 3.0 * 1.4826
                         * (CASE WHEN len(devs) % 2 = 1
                            THEN devs[len(devs) // 2 + 1]
                            ELSE (devs[len(devs) // 2]
                                  + devs[len(devs) // 2 + 1]) / 2.0 END)
                  END, false) AS is_spike
      FROM d
    ), rle0 AS (
      SELECT *, CASE WHEN is_spike IS NOT DISTINCT FROM
                       lag(is_spike) OVER (PARTITION BY event_type
                                           ORDER BY ts, event_id)
                THEN 0 ELSE 1 END AS new_run
      FROM md
    ), rle1 AS (
      SELECT *, sum(new_run) OVER (
        PARTITION BY event_type ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      FROM rle0
    )
    SELECT event_type, min(ts) AS start, max(ts) AS "end",
           count(*) AS n
    FROM rle1 WHERE is_spike
    GROUP BY event_type, run
"""


@register("spike_qc_segments", oracle=_SPIKE_SEG_ORACLE)
def spike_qc_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hampel_flags -> rle_segments over the boolean flag -> proposed
    spike intervals per series."""
    from ..operators.segments import rle_segments
    from ..operators.spike import hampel_flags

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    flagged = hampel_flags(
        ev, keys=["event_type"], dt_col="ts", value_col="value", k=5,
        t=3.0, tiebreak_cols=["event_id"],
    ).select("event_type", "ts", "event_id", "is_spike")
    runs = rle_segments(flagged, keys=["event_type"],
                        order_col=["ts", "event_id"], value_col="is_spike")
    return runs.where(F.col("is_spike")).select(
        "event_type", "start", "end", "n"
    )


# ---------------------------------------------------------------------------
# Raster-reference cell-size sync (inst/patches/patch_33.R:473-560):
# the statement-level triggers keeping rasters_reference's
# cell_size_{x,y}_deg equal to MIN(ABS(scale)) over the reference's
# tiles, replayed set-wise for the whole index.
# ---------------------------------------------------------------------------

_RR_CELL_SIZE_ORACLE = """
    WITH r AS (
      SELECT CASE WHEN o_orderkey % 13 = 0 THEN NULL
                  ELSE o_custkey % 80 END AS reference_id,
             CASE WHEN o_orderkey % 2 = 0
                  THEN CAST(1 + o_orderkey % 20 AS DOUBLE) / 400
                  ELSE -CAST(1 + o_orderkey % 20 AS DOUBLE) / 400
             END AS scale_x,
             -CAST(1 + o_orderkey % 15 AS DOUBLE) / 200 AS scale_y
      FROM orders WHERE o_orderkey % 3 = 1
    ), rr AS (
      SELECT p_partkey % 100 AS reference_id,
             CASE WHEN p_partkey % 4 = 0 THEN NULL
                  ELSE CAST(p_partkey % 7 + 1 AS DOUBLE) / 100
             END AS cell_size_x_deg,
             CASE WHEN p_partkey % 4 = 0 THEN NULL
                  ELSE CAST(p_partkey % 5 + 1 AS DOUBLE) / 100
             END AS cell_size_y_deg
      FROM part WHERE p_partkey <= 100
    ), agg AS (
      SELECT reference_id, min(abs(scale_x)) AS cx, min(abs(scale_y)) AS cy
      FROM r WHERE reference_id IS NOT NULL GROUP BY 1
    )
    SELECT rr.reference_id,
           coalesce(agg.cx, rr.cell_size_x_deg) AS cell_size_x_deg,
           coalesce(agg.cy, rr.cell_size_y_deg) AS cell_size_y_deg
    FROM rr LEFT JOIN agg ON agg.reference_id = rr.reference_id
"""


@register("raster_reference_cell_size_sync", oracle=_RR_CELL_SIZE_ORACLE)
def raster_reference_cell_size_sync(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """patch_33.R:473-560 cell-size sync: references take
    MIN(ABS(scale)) over their tiles; tile-less references keep their
    existing values."""
    from ..operators.raster import sync_reference_cell_sizes

    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 3 == 1)
    k = F.col("o_orderkey")
    rasters = o.select(
        F.when(k % 13 != 0, F.col("o_custkey") % 80).alias("reference_id"),
        (F.when(k % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))
         * (1 + k % 20).cast("double") / 400).alias("scale_x"),
        (-(1 + k % 15).cast("double") / 200).alias("scale_y"),
    )
    p = _t(spark, sf_dir, "part").where(F.col("p_partkey") <= 100)
    m = F.col("p_partkey")
    references = p.select(
        (m % 100).alias("reference_id"),
        F.when(m % 4 != 0, (m % 7 + 1).cast("double") / 100)
        .alias("cell_size_x_deg"),
        F.when(m % 4 != 0, (m % 5 + 1).cast("double") / 100)
        .alias("cell_size_y_deg"),
    )
    return sync_reference_cell_sizes(rasters, references)


# ---------------------------------------------------------------------------
# Rating curves (operators/rating.apply_rating_curves): the
# continuous.rating_curves / _points / _shifts tables (patch_3.R:329,
# patch_11.R:126, patch_40.R:286-288) applied: version selection by
# validity period, period-scoped stage shifts, log-log interpolation
# between curve points. Catalog-sized dims broadcast; map-only array
# bracketing; ln/exp parity pinned by tests/test_rating.py.
# ---------------------------------------------------------------------------

_RATING_ORACLE = f"""
    WITH m AS (
      SELECT event_id, event_type AS series, CAST(ts AS TIMESTAMP) AS ts,
             value AS stage
      FROM events
    ), et AS (
      SELECT DISTINCT event_type AS series FROM events
    ), curves AS (
      SELECT series, ascii(series) * 2 + ver AS curve_id, ver,
             CASE ver WHEN 1 THEN TIMESTAMP '2024-01-05 00:00:00'
                  ELSE TIMESTAMP '2024-01-15 00:00:00' END AS c0,
             CASE ver WHEN 1 THEN TIMESTAMP '2024-01-15 00:00:00'
                  ELSE TIMESTAMP '2025-01-01 00:00:00' END AS c1
      FROM et CROSS JOIN (SELECT unnest([1, 2]) AS ver) v
    ), pts AS (
      SELECT curve_id, CAST(stage AS DOUBLE) AS stage,
             {R('CAST(ascii(series) % 7 + ver + 2 AS DOUBLE)'
                ' * CAST(stage AS DOUBLE) * sqrt(CAST(stage AS DOUBLE))',
                3)} AS discharge
      FROM curves CROSS JOIN (
        SELECT unnest([10, 25, 50, 100, 150, 250]) AS stage) s
    ), shifts AS (
      SELECT series, TIMESTAMP '2024-01-10 00:00:00' AS s0,
             TIMESTAMP '2024-01-20 00:00:00' AS s1,
             CAST(ascii(series) % 3 AS DOUBLE) * CAST(2.5 AS DOUBLE)
               AS shift
      FROM et
    ), sel AS (
      SELECT m.*, c.curve_id
      FROM m LEFT JOIN curves c
        ON c.series = m.series AND m.ts >= c.c0 AND m.ts < c.c1
    ), sh AS (
      SELECT sel.*,
             coalesce(s.shift, CAST(0 AS DOUBLE)) AS shift,
             sel.stage + coalesce(s.shift, CAST(0 AS DOUBLE)) AS adj
      FROM sel LEFT JOIN shifts s
        ON s.series = sel.series AND sel.ts >= s.s0 AND sel.ts < s.s1
    ), low AS (
      SELECT e.event_id, max(p.stage) AS s1, arg_max(p.discharge, p.stage)
               AS d1
      FROM sh e JOIN pts p ON p.curve_id = e.curve_id
                           AND p.stage <= e.adj
      GROUP BY 1
    ), up AS (
      SELECT e.event_id, min(p.stage) AS s2, arg_min(p.discharge, p.stage)
               AS d2
      FROM sh e JOIN pts p ON p.curve_id = e.curve_id AND p.stage > e.adj
      GROUP BY 1
    ), fin AS (
      SELECT sh.event_id, sh.series, sh.stage, sh.shift,
             sh.adj AS adjusted_stage, sh.curve_id,
             CASE WHEN sh.curve_id IS NULL THEN NULL
                  WHEN low.s1 = sh.adj THEN low.d1
                  WHEN low.s1 IS NOT NULL AND up.s2 IS NOT NULL THEN
                    exp(ln(low.d1)
                        + (ln(sh.adj) - ln(low.s1))
                          / (ln(up.s2) - ln(low.s1))
                          * (ln(up.d2) - ln(low.d1)))
             END AS discharge,
             (sh.curve_id IS NOT NULL
              AND ((low.s1 IS NOT NULL AND low.s1 = sh.adj)
                   OR (low.s1 IS NOT NULL AND up.s2 IS NOT NULL)))
               AS in_range
      FROM sh LEFT JOIN low USING (event_id) LEFT JOIN up USING (event_id)
    )
    SELECT event_id, series, stage, shift, adjusted_stage, curve_id,
           {R('discharge', 6)} AS discharge, in_range
    FROM fin
"""


@register("rating_curve_discharge", oracle=_RATING_ORACLE)
def rating_curve_discharge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage series converted to discharge through versioned rating
    curves with period shifts (exact-point, interpolated, below-range,
    and pre-curve rows all present in the fixture window)."""
    from ..operators.rating import apply_rating_curves

    ev = _t(spark, sf_dir, "events")
    meas = ev.select("event_id", F.col("event_type").alias("series"),
                     "ts", F.col("value").alias("stage"))
    et = ev.select(F.col("event_type").alias("series")).distinct()
    a = F.ascii(F.col("series"))
    ver = F.col("ver")
    curves = et.crossJoin(
        _ldf(spark, [(1,), (2,)], "ver int")).select(
        "series", (a * 2 + ver).alias("curve_id"), "ver",
        F.when(ver == 1, "2024-01-05 00:00:00")
        .otherwise("2024-01-15 00:00:00").cast("timestamp")
        .alias("start_dt"),
        F.when(ver == 1, "2024-01-15 00:00:00")
        .otherwise("2025-01-01 00:00:00").cast("timestamp")
        .alias("end_dt"),
    )
    st = F.col("stage")
    points = curves.crossJoin(
        _ldf(spark, [(10,), (25,), (50,), (100,), (150,), (250,)],
             "stage int")).select(
        "curve_id",
        st.cast("double").alias("stage"),
        (F.floor((a % 7 + ver + 2).cast("double")
                 * st.cast("double") * F.sqrt(st.cast("double"))
                 * 1000 + F.lit(0.5)) / 1000).alias("discharge"),
    )
    shifts = et.select(
        "series",
        F.lit("2024-01-10 00:00:00").cast("timestamp").alias("start_dt"),
        F.lit("2024-01-20 00:00:00").cast("timestamp").alias("end_dt"),
        ((a % 3).cast("double") * 2.5).alias("shift"),
    )
    out = apply_rating_curves(
        meas, curves.select("series", "curve_id", "start_dt", "end_dt"),
        points, shifts)
    out = out.select("event_id", "series", "stage", "shift",
                     "adjusted_stage", "curve_id", "discharge",
                     "in_range")
    return _round(out, {"discharge": 6})


# ---------------------------------------------------------------------------
# Flow-duration curve: per-series exceedance table at Weibull plotting
# positions (Q_p = value at the smallest descending rank m with
# 100*m >= p*(n+1), a pure integer rank test). Window bounded by
# record length per station.
# ---------------------------------------------------------------------------

_FDC_ORACLE = """
    WITH daily AS (
      SELECT o_orderpriority AS series, o_orderdate AS d,
             max(o_totalprice) AS v
      FROM orders GROUP BY 1, 2
    ), ranked AS (
      SELECT series, v,
             row_number() OVER (PARTITION BY series
                                ORDER BY v DESC, d ASC) AS m,
             count(*) OVER (PARTITION BY series) AS n
      FROM daily
    )
    SELECT series, p.pct AS exceedance_pct, max(v) AS flow
    FROM ranked CROSS JOIN (
      SELECT CAST(unnest([5, 10, 25, 50, 75, 90, 95]) AS INT) AS pct) p
    WHERE 100 * m >= p.pct * (n + 1)
    GROUP BY 1, 2
"""


@register("flow_duration_curve", oracle=_FDC_ORACLE)
def flow_duration_curve_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seven-point exceedance table per order priority over daily
    maxima."""
    from ..operators.trend import flow_duration_curve

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("series"),
        F.col("o_orderdate").alias("date"),
    ).agg(F.max("o_totalprice").alias("value"))
    return flow_duration_curve(
        daily, ["series"], [5, 10, 25, 50, 75, 90, 95])


# ---------------------------------------------------------------------------
# Bilinear raster sampling (operators/raster.bilinear_sample): gridded
# model values extracted at station coordinates — four corner keys per
# point map-side, one equi-join on the cell fact, fixed-order weighted
# sum (eighth/quarter fractional offsets keep every weight exactly
# representable).
# ---------------------------------------------------------------------------

_BILINEAR_ORACLE = f"""
    WITH cells AS ({_RASTER_CELLS_SQL}),
    pts AS (
      SELECT s_suppkey AS station_id,
             CAST(s_suppkey % 90 AS DOUBLE)
               + CAST(s_suppkey % 8 AS DOUBLE) / CAST(8 AS DOUBLE)
               AS px,
             CAST(s_suppkey % 12 AS DOUBLE)
               + CAST(s_suppkey % 4 AS DOUBLE) / CAST(4 AS DOUBLE)
               AS py
      FROM supplier
    ), corners AS (
      SELECT station_id, px, py, c.corner,
             CAST(floor(px) AS INT) + c.corner % 2 AS x,
             CAST(floor(py) AS INT) + c.corner // 2 AS y,
             CASE c.corner
               WHEN 0 THEN (1 - (px - floor(px))) * (1 - (py - floor(py)))
               WHEN 1 THEN (px - floor(px)) * (1 - (py - floor(py)))
               WHEN 2 THEN (1 - (px - floor(px))) * (py - floor(py))
               ELSE (px - floor(px)) * (py - floor(py))
             END AS w
      FROM pts CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS corner) c
    ), joined AS (
      SELECT k.station_id, k.px, k.py, k.corner,
             coalesce(k.w * cells.value,
                      CASE WHEN k.w = 0 THEN CAST(0 AS DOUBLE) END) AS t
      FROM corners k LEFT JOIN cells USING (x, y)
    ), piv AS (
      SELECT station_id, px, py,
             max(CASE WHEN corner = 0 THEN t END) AS t0,
             max(CASE WHEN corner = 1 THEN t END) AS t1,
             max(CASE WHEN corner = 2 THEN t END) AS t2,
             max(CASE WHEN corner = 3 THEN t END) AS t3
      FROM joined GROUP BY 1, 2, 3
    )
    SELECT station_id, px, py,
           {R("CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL"
              " AND t2 IS NOT NULL AND t3 IS NOT NULL"
              " THEN ((t0 + t1) + t2) + t3 END", 6)} AS value,
           (t0 IS NOT NULL AND t1 IS NOT NULL AND t2 IS NOT NULL
            AND t3 IS NOT NULL) AS complete
    FROM piv
"""


@register("raster_bilinear_sample", oracle=_BILINEAR_ORACLE)
def raster_bilinear_sample_q(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Station-point bilinear extraction from the events-backed cell
    grid (eighth/quarter fractional offsets; at sf0.001 the grid is
    100x10, so stations with py >= 9 exercise the incomplete
    branch)."""
    from ..operators.raster import bilinear_sample

    cells = _t(spark, sf_dir, "events").select(
        (F.col("event_id") % 100).alias("x"),
        F.floor(F.col("event_id") / 100).cast("int").alias("y"),
        "value")
    s = F.col("s_suppkey")
    pts = _t(spark, sf_dir, "supplier").select(
        s.alias("station_id"),
        ((s % 90).cast("double") + (s % 8).cast("double") / 8.0)
        .alias("px"),
        ((s % 12).cast("double") + (s % 4).cast("double") / 4.0)
        .alias("py"))
    out = bilinear_sample(cells, pts)
    return _round(out, {"value": 6})


# ---------------------------------------------------------------------------
# Low-flow frequency (operators/trend.low_flow_frequency): 7-day
# moving-mean annual minima with Weibull return periods — the 7Q
# statistic. Daily values micro-quantized BEFORE the moving sum so the
# window means are exact under any window evaluation strategy.
# ---------------------------------------------------------------------------

_7Q_ORACLE = f"""
    WITH daily AS (
      SELECT o_orderpriority AS series,
             CAST(year(o_orderdate) AS INT) AS yr,
             o_orderdate AS d,
             min(o_totalprice) AS v
      FROM orders GROUP BY 1, 2, 3
    ), q AS (
      SELECT series, yr, d,
             CAST(floor(CAST(v AS DOUBLE) * 1000000
                        + CAST(0.5 AS DOUBLE)) AS BIGINT) AS vq
      FROM daily
    ), rolled AS (
      SELECT series, yr,
             sum(vq) OVER (PARTITION BY series ORDER BY d
                           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
               AS s,
             count(*) OVER (PARTITION BY series ORDER BY d
                            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
               AS c
      FROM q
    ), annual AS (
      SELECT series, yr, min(s) AS smin
      FROM rolled WHERE c = 7 GROUP BY 1, 2
    ), ranked AS (
      SELECT series, yr, smin,
             row_number() OVER (PARTITION BY series
                                ORDER BY smin ASC, yr ASC) AS rank,
             count(*) OVER (PARTITION BY series) AS n
      FROM annual
    )
    SELECT series, yr,
           {R("smin / CAST(1e6 AS DOUBLE) / CAST(7 AS DOUBLE)", 6)}
             AS qn_min,
           CAST(rank AS BIGINT) AS rank,
           {R("CAST(n + 1 AS DOUBLE) / rank", 6)} AS return_period
    FROM ranked
"""


@register("low_flow_frequency", oracle=_7Q_ORACLE)
def low_flow_frequency_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day low-flow annual minima + Weibull return periods per
    order priority over daily minimum totals."""
    from ..operators.trend import low_flow_frequency

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("series"),
        F.year("o_orderdate").cast("int").alias("yr"),
        F.col("o_orderdate").alias("date"),
    ).agg(F.min("o_totalprice").alias("value"))
    out = low_flow_frequency(daily, ["series"], "yr")
    return _round(out, {"qn_min": 6, "return_period": 6})


# ---------------------------------------------------------------------------
# Double-mass consistency screen: each station's annual totals against
# the mean of the OTHER stations (the WSC homogeneity check for gauge
# relocation / datum drift). All totals are exact micro-unit integers;
# the only floats are the final slope ratios; a year is flagged when
# its slope deviates more than 20% from the station's overall ratio.
# ---------------------------------------------------------------------------

_DMASS_ORACLE = f"""
    WITH daily AS (
      SELECT o_orderpriority AS series,
             CAST(year(o_orderdate) AS INT) AS yr,
             o_orderdate AS d,
             sum(CAST(floor(o_totalprice * 1000000
                            + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS vq
      FROM orders GROUP BY 1, 2, 3
    ), annual AS (
      SELECT series, yr, sum(vq) AS a FROM daily GROUP BY 1, 2
    ), totals AS (
      SELECT yr, sum(a) AS tot, count(*) AS k FROM annual GROUP BY 1
    ), joined AS (
      SELECT an.series, an.yr, an.a,
             (t.tot - an.a) AS ref_sum, t.k - 1 AS k1
      FROM annual an JOIN totals t USING (yr)
    ), overall AS (
      SELECT series, sum(a) AS sa, sum(ref_sum) AS sr,
             min(k1) AS k1 FROM joined GROUP BY 1
    ), r AS (
      SELECT j.series, j.yr,
             CAST(j.a AS DOUBLE) * j.k1 / j.ref_sum AS slope_ratio,
             CAST(o.sa AS DOUBLE) * o.k1 / o.sr AS overall_ratio
      FROM joined j JOIN overall o USING (series)
    )
    SELECT series, yr, {R('slope_ratio', 6)} AS slope_ratio,
           {R('overall_ratio', 6)} AS overall_ratio,
           (abs(slope_ratio - overall_ratio)
            > CAST(0.2 AS DOUBLE) * overall_ratio) AS flagged
    FROM r
"""


@register("double_mass_screen", oracle=_DMASS_ORACLE)
def double_mass_screen_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annual double-mass slope ratios per order priority vs the mean
    of the other priorities, with 20%-deviation flags."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("series"),
        F.year("o_orderdate").cast("int").alias("yr"),
        F.col("o_orderdate").alias("d"),
    ).agg(F.sum(F.floor(F.col("o_totalprice") * 1e6 + F.lit(0.5))
                .cast("long")).alias("vq"))
    annual = daily.groupBy("series", "yr").agg(F.sum("vq").alias("a"))
    totals = annual.groupBy("yr").agg(
        F.sum("a").alias("tot"), F.count(F.lit(1)).alias("k"))
    joined = annual.join(F.broadcast(totals), "yr").select(
        "series", "yr", "a",
        (F.col("tot") - F.col("a")).alias("ref_sum"),
        (F.col("k") - 1).alias("k1"))
    overall = joined.groupBy("series").agg(
        F.sum("a").alias("sa"), F.sum("ref_sum").alias("sr"),
        F.min("k1").alias("ok1"))
    r = joined.join(F.broadcast(overall), "series").select(
        "series", "yr",
        (F.col("a").cast("double") * F.col("k1") / F.col("ref_sum"))
        .alias("slope_ratio"),
        (F.col("sa").cast("double") * F.col("ok1") / F.col("sr"))
        .alias("overall_ratio"))
    out = r.withColumn(
        "flagged",
        F.abs(F.col("slope_ratio") - F.col("overall_ratio"))
        > 0.2 * F.col("overall_ratio"))
    return _round(out, {"slope_ratio": 6, "overall_ratio": 6})


# ---------------------------------------------------------------------------
# Antecedent precipitation index: API_t = sum over the past 30 days of
# k^age * P. Decay weights are PYTHON-computed literals indexed by age
# (no cross-engine pow), values micro-quantized, the 30-day lookback a
# bounded self-join fan-out (30 rows per measurement) keyed per
# series. The soil-moisture proxy behind storm-response analysis.
# ---------------------------------------------------------------------------

_API_K = 0.9
_API_WINDOW = 30
_API_WEIGHTS = [(_API_K ** j) for j in range(_API_WINDOW)]

_API_W_CASE = "CASE age " + " ".join(
    f"WHEN {j} THEN CAST({w!r} AS DOUBLE)"
    for j, w in enumerate(_API_WEIGHTS)) + " END"

_API_ORACLE = f"""
    WITH daily AS (
      SELECT o_orderpriority AS series, o_orderdate AS d,
             sum(CAST(floor(o_totalprice * 1000
                            + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS pq
      FROM orders GROUP BY 1, 2
    ), bk AS (
      SELECT series, d, pq,
             datediff('day', DATE '1970-01-01', CAST(d AS DATE))
               // {_API_WINDOW} AS bucket
      FROM daily
    ), breg AS (
      -- banded join: each contributor registers in its own bucket and
      -- the next, so a target joins on an EQUI key and the per-pair
      -- filter sees only a bounded 2-bucket candidate set (never a
      -- per-series cross product)
      SELECT series, d, pq, bucket + r.o AS reg
      FROM bk CROSS JOIN (SELECT unnest([0, 1]) AS o) r
    ), pairs AS (
      SELECT a.series, a.d,
             datediff('day', b.d, a.d) AS age,
             b.pq
      FROM bk a JOIN breg b
        ON b.series = a.series AND b.reg = a.bucket
      WHERE datediff('day', b.d, a.d) BETWEEN 0 AND {_API_WINDOW - 1}
    ), terms AS (
      SELECT series, d,
             CAST(floor(pq * ({_API_W_CASE}) + CAST(0.5 AS DOUBLE))
                  AS BIGINT) AS tu
      FROM pairs
    )
    SELECT series, d AS date,
           {R('sum(tu) / CAST(1e3 AS DOUBLE)', 6)} AS api
    FROM terms GROUP BY 1, 2
"""


@register("antecedent_index", oracle=_API_ORACLE)
def antecedent_index_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-day decayed antecedent index per priority over daily totals
    (k = 0.9, literal weights, exact milli-unit accumulation)."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("series"),
        F.col("o_orderdate").alias("d"),
    ).agg(F.sum(F.floor(F.col("o_totalprice") * 1000 + F.lit(0.5))
                .cast("long")).alias("pq"))
    epoch = F.lit("1970-01-01").cast("date")
    bucket = F.floor(
        F.datediff(F.col("d").cast("date"), epoch) / _API_WINDOW)
    a = daily.select("series", F.col("d").alias("da"),
                     bucket.alias("__bk"))
    # banded join: contributors register in their bucket and the next
    b = daily.select("series", F.col("d").alias("db"), "pq",
                     bucket.alias("__b0")).select(
        "series", "db", "pq",
        F.explode(F.array(F.col("__b0"), F.col("__b0") + 1))
        .alias("__bk"))
    dd = F.datediff(F.col("da"), F.col("db"))
    pairs = a.join(b, ["series", "__bk"]).where(
        (dd >= 0) & (dd <= _API_WINDOW - 1))
    age = F.datediff(F.col("da"), F.col("db"))
    w_case = None
    for j, wgt in enumerate(_API_WEIGHTS):
        w_case = (F.when(age == j, F.lit(wgt)) if w_case is None
                  else w_case.when(age == j, F.lit(wgt)))
    tu = F.floor(F.col("pq") * w_case + F.lit(0.5)).cast("long")
    out = pairs.withColumn("__tu", tu).groupBy(
        "series", F.col("da").alias("date")).agg(
        (F.sum("__tu") / F.lit(1e3)).alias("api"))
    return _round(out, {"api": 6})


# ---------------------------------------------------------------------------
# Flood frequency (Gumbel / EV1 by method of moments over annual
# maxima): x_T = u + a*K_T with a = std*sqrt(6)/pi, u = mean -
# gamma*a, K_T = -ln(-ln(1 - 1/T)). Every transcendental constant is a
# PYTHON-inlined literal; moments come from exact centi-unit integer
# sums (annual maxima are few per series, so the squared sums stay in
# bigint range); sample variance via the integer identity
# n*Sxx - Sx^2.
# ---------------------------------------------------------------------------

_GUMBEL_A = 0.779696801233676       # sqrt(6)/pi
_GUMBEL_G = 0.5772156649015329      # Euler-Mascheroni
_GUMBEL_K = {2: 0.36651292058166435, 10: 2.2503673273124454,
             100: 4.600149226776579}

_FLOOD_ORACLE = f"""
    WITH daily AS (
      SELECT o_orderpriority AS series,
             CAST(year(o_orderdate) AS INT) AS yr,
             max(CAST(floor(o_totalprice * 100
                            + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS mq
      FROM orders GROUP BY 1, 2
    ), mom AS (
      SELECT series, CAST(count(*) AS BIGINT) AS n,
             sum(mq) AS sx, sum(mq * mq) AS sxx
      FROM daily GROUP BY 1
    ), fit AS (
      SELECT series, n,
             CAST(sx AS DOUBLE) / n / 100 AS mean,
             sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                  / (n * (n - 1))) / 100 AS std
      FROM mom WHERE n >= 2
    ), params AS (
      SELECT series, n, mean, std,
             std * CAST({_GUMBEL_A!r} AS DOUBLE) AS a,
             mean - CAST({_GUMBEL_G!r} AS DOUBLE)
               * (std * CAST({_GUMBEL_A!r} AS DOUBLE)) AS u
      FROM fit
    )
    SELECT series, n AS n_years, {R('mean', 6)} AS mean,
           {R('std', 6)} AS std,
           {R(f'u + a * CAST({_GUMBEL_K[2]!r} AS DOUBLE)', 6)} AS q2,
           {R(f'u + a * CAST({_GUMBEL_K[10]!r} AS DOUBLE)', 6)} AS q10,
           {R(f'u + a * CAST({_GUMBEL_K[100]!r} AS DOUBLE)', 6)}
             AS q100
    FROM params
"""


@register("flood_frequency_gumbel", oracle=_FLOOD_ORACLE)
def flood_frequency_gumbel_q(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Gumbel MoM flood quantiles (T = 2/10/100) per order priority
    from annual maxima."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("series"),
        F.year("o_orderdate").cast("int").alias("yr"),
    ).agg(F.max(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("long")).alias("mq"))
    mom = daily.groupBy("series").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("mq").alias("sx"),
        F.sum(F.col("mq") * F.col("mq")).alias("sxx"))
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    fit = mom.where(n >= 2).select(
        "series", n,
        (sx.cast("double") / n / 100).alias("mean"),
        (F.sqrt((n * sxx - sx * sx).cast("double") / (n * (n - 1)))
         / 100).alias("std"))
    a = F.col("std") * F.lit(_GUMBEL_A)
    u = F.col("mean") - F.lit(_GUMBEL_G) * a
    out = fit.select(
        "series", n.alias("n_years"), "mean", "std",
        (u + a * F.lit(_GUMBEL_K[2])).alias("q2"),
        (u + a * F.lit(_GUMBEL_K[10])).alias("q10"),
        (u + a * F.lit(_GUMBEL_K[100])).alias("q100"))
    return _round(out, {"mean": 6, "std": 6, "q2": 6, "q10": 6,
                        "q100": 6})


# ---------------------------------------------------------------------------
# Lyne-Hollick baseflow separation (operators/trend.baseflow_separation):
# the prefix-dependent forward filter as a per-series Arrow kernel; the
# oracle replays the recurrence row-by-row with a recursive CTE (same
# IEEE op order). One year of daily maxima keeps the recursion depth
# at ~365.
# ---------------------------------------------------------------------------

_BASEFLOW_ALPHA = 0.925
_BASEFLOW_K = (1 + _BASEFLOW_ALPHA) / 2

_BASEFLOW_ORACLE = f"""
    WITH RECURSIVE daily AS (
      SELECT o_orderpriority AS series, o_orderdate AS d,
             max(o_totalprice) AS v
      FROM orders WHERE year(o_orderdate) = 1994 GROUP BY 1, 2
    ), idx AS (
      SELECT series, d, v,
             row_number() OVER (PARTITION BY series ORDER BY d) AS rn
      FROM daily
    ), scan AS (
      SELECT series, rn, d, v, v AS f
      FROM idx WHERE rn = 1
      UNION ALL
      SELECT i.series, i.rn, i.d, i.v,
             CAST({_BASEFLOW_ALPHA!r} AS DOUBLE) * s.f
               + CAST({_BASEFLOW_K!r} AS DOUBLE) * (i.v - s.v) AS f
      FROM scan s JOIN idx i ON i.series = s.series AND i.rn = s.rn + 1
    )
    SELECT series, d AS date, v AS value,
           {R('f', 6)} AS quickflow,
           {R('least(greatest(v - greatest(f, CAST(0 AS DOUBLE)),'
              ' CAST(0 AS DOUBLE)), v)', 6)} AS baseflow
    FROM scan
"""


@register("baseflow_separation", oracle=_BASEFLOW_ORACLE)
def baseflow_separation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass Lyne-Hollick filter over 1994 daily maxima per
    priority."""
    from ..operators.trend import baseflow_separation

    o = _t(spark, sf_dir, "orders").where(
        F.year("o_orderdate") == 1994)
    daily = o.groupBy(
        F.col("o_orderpriority").alias("series"),
        F.col("o_orderdate").alias("date"),
    ).agg(F.max("o_totalprice").alias("value"))
    out = baseflow_separation(daily, ["series"],
                              alpha=_BASEFLOW_ALPHA)
    return _round(out, {"quickflow": 6, "baseflow": 6})


# ---------------------------------------------------------------------------
# Record completeness report: per series, the span, present-day count,
# completeness ratio, gap count, and longest gap — the
# data-availability table of a hydrometric publication. All integer
# day arithmetic (lag over the per-series daily dates).
# ---------------------------------------------------------------------------

_COMPLETENESS_ORACLE = """
    WITH daily AS (
      SELECT DISTINCT o_orderpriority AS series, o_orderdate AS d
      FROM orders WHERE o_orderkey % 3 != 1
    ), gaps AS (
      SELECT series, d,
             datediff('day',
                      lag(d) OVER (PARTITION BY series ORDER BY d),
                      d) AS step
      FROM daily
    ), agg AS (
      SELECT series,
             CAST(min(d) AS DATE) AS first_day,
             CAST(max(d) AS DATE) AS last_day,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(CASE WHEN step > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_gaps,
             CAST(coalesce(max(CASE WHEN step > 1 THEN step - 1 END), 0)
                  AS BIGINT) AS longest_gap_days,
             datediff('day', min(d), max(d)) + 1 AS span_days
      FROM gaps GROUP BY 1
    )
    SELECT series, first_day, last_day, n_days,
           CAST(span_days AS BIGINT) AS span_days, n_gaps,
           longest_gap_days,
           {c} AS completeness
    FROM agg
""".format(c=R("CAST(n_days AS DOUBLE) / span_days", 6))


@register("record_completeness", oracle=_COMPLETENESS_ORACLE)
def record_completeness_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority availability report over a gappy daily record
    (every third order key dropped to create holes)."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 3 != 1)
    daily = o.select(
        F.col("o_orderpriority").alias("series"),
        F.col("o_orderdate").alias("d")).distinct()
    w = Window.partitionBy("series").orderBy("d")
    gaps = daily.withColumn(
        "step", F.datediff(F.col("d"), F.lag("d").over(w)))
    agg = gaps.groupBy("series").agg(
        F.min("d").cast("date").alias("first_day"),
        F.max("d").cast("date").alias("last_day"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.when(F.col("step") > 1, 1).otherwise(0)).cast("long")
        .alias("n_gaps"),
        F.coalesce(
            F.max(F.when(F.col("step") > 1, F.col("step") - 1)),
            F.lit(0)).cast("long").alias("longest_gap_days"),
        (F.datediff(F.max("d"), F.min("d")) + 1).cast("long")
        .alias("span_days"),
    )
    out = agg.select(
        "series", "first_day", "last_day", "n_days", "span_days",
        "n_gaps", "longest_gap_days",
        (F.col("n_days").cast("double") / F.col("span_days"))
        .alias("completeness"))
    return _round(out, {"completeness": 6})


# ---------------------------------------------------------------------------
# Intensity-duration-frequency (IDF): annual maxima of 1/3/7-day
# rolling totals (micro-quantized before the window sums) fed through
# the Gumbel MoM fit -> the T=10 design intensity per duration. The
# depth-duration composition of the 7Q and flood-frequency machinery.
# ---------------------------------------------------------------------------

_IDF_DURS = [1, 3, 7]

_IDF_ROLL_SQL = " UNION ALL ".join(f"""
      SELECT series, yr, {dur} AS duration_days,
             sum(vq) OVER (PARTITION BY series ORDER BY d
                           ROWS BETWEEN {dur - 1} PRECEDING
                           AND CURRENT ROW) AS s,
             count(*) OVER (PARTITION BY series ORDER BY d
                            ROWS BETWEEN {dur - 1} PRECEDING
                            AND CURRENT ROW) AS c
      FROM q""" for dur in _IDF_DURS)

_IDF_ORACLE = f"""
    WITH daily AS (
      SELECT o_orderpriority AS series,
             CAST(year(o_orderdate) AS INT) AS yr, o_orderdate AS d,
             sum(CAST(floor(o_totalprice * 100
                            + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS vq
      FROM orders GROUP BY 1, 2, 3
    ), q AS (SELECT * FROM daily), rolls AS (
      {_IDF_ROLL_SQL}
    ), annual AS (
      SELECT series, duration_days, yr, max(s) AS mq
      FROM rolls WHERE c = duration_days GROUP BY 1, 2, 3
    ), mom AS (
      SELECT series, duration_days, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(mq AS HUGEINT)) AS sx,
             sum(CAST(mq AS HUGEINT) * mq) AS sxx
      FROM annual GROUP BY 1, 2
    ), fit AS (
      SELECT series, duration_days, n,
             CAST(sx AS DOUBLE) / n / 100 AS mean,
             sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                  / (n * (n - 1))) / 100 AS std
      FROM mom WHERE n >= 2
    )
    SELECT series, CAST(duration_days AS INT) AS duration_days,
           n AS n_years, {R('mean', 6)} AS mean_depth,
           {R(f'''mean - CAST({_GUMBEL_G!r} AS DOUBLE)
                  * (std * CAST({_GUMBEL_A!r} AS DOUBLE))
                + std * CAST({_GUMBEL_A!r} AS DOUBLE)
                  * CAST({_GUMBEL_K[10]!r} AS DOUBLE)''', 6)} AS q10_depth
    FROM fit
"""


@register("idf_design_depths", oracle=_IDF_ORACLE)
def idf_design_depths_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T=10 Gumbel design depths for 1/3/7-day durations per
    priority."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("series"),
        F.year("o_orderdate").cast("int").alias("yr"),
        F.col("o_orderdate").alias("d"),
    ).agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("long")).alias("vq"))
    parts = []
    for dur in _IDF_DURS:
        w = Window.partitionBy("series").orderBy("d") \
            .rowsBetween(-(dur - 1), 0)
        r = daily.select(
            "series", "yr", F.lit(dur).alias("duration_days"),
            F.sum("vq").over(w).alias("s"),
            F.count(F.lit(1)).over(w).alias("c"),
        ).where(F.col("c") == dur)
        parts.append(r)
    rolls = parts[0]
    for x in parts[1:]:
        rolls = rolls.unionByName(x)
    annual = rolls.groupBy("series", "duration_days", "yr").agg(
        F.max("s").alias("mq"))
    mqd = F.col("mq").cast("decimal(18,0)")
    mom = annual.groupBy("series", "duration_days").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(mqd).alias("sx"),
        F.sum(mqd * mqd).alias("sxx"))
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    fit = mom.where(n >= 2).select(
        "series", "duration_days", n,
        (sx.cast("double") / n / 100).alias("mean"),
        (F.sqrt((n * sxx - sx * sx).cast("double") / (n * (n - 1)))
         / 100).alias("std"))
    a = F.col("std") * F.lit(_GUMBEL_A)
    u = F.col("mean") - F.lit(_GUMBEL_G) * a
    out = fit.select(
        "series", F.col("duration_days").cast("int"),
        n.alias("n_years"), F.col("mean").alias("mean_depth"),
        (u + a * F.lit(_GUMBEL_K[10])).alias("q10_depth"))
    return _round(out, {"mean_depth": 6, "q10_depth": 6})


# ---------------------------------------------------------------------------
# Freshet timing: the day of year by which half the annual volume has
# passed (center-of-volume date) — the standard snowmelt-shift climate
# indicator. Pure integer rank test on exact cumulative sums.
# ---------------------------------------------------------------------------

_FRESHET_ORACLE = """
    WITH daily AS (
      SELECT o_orderpriority AS series,
             CAST(year(o_orderdate) AS INT) AS yr, o_orderdate AS d,
             sum(CAST(floor(o_totalprice * 100
                            + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS vq
      FROM orders GROUP BY 1, 2, 3
    ), cum AS (
      SELECT series, yr, d, vq,
             sum(vq) OVER (PARTITION BY series, yr ORDER BY d
                           ROWS UNBOUNDED PRECEDING) AS cs,
             sum(vq) OVER (PARTITION BY series, yr) AS tot
      FROM daily
    )
    SELECT series, yr,
           CAST(min(CASE WHEN 2 * cs >= tot
                         THEN dayofyear(d) END) AS BIGINT)
             AS half_volume_doy
    FROM cum GROUP BY 1, 2
"""


@register("freshet_timing", oracle=_FRESHET_ORACLE)
def freshet_timing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Center-of-volume day of year per (priority, year)."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("series"),
        F.year("o_orderdate").cast("int").alias("yr"),
        F.col("o_orderdate").alias("d"),
    ).agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("long")).alias("vq"))
    wc = Window.partitionBy("series", "yr").orderBy("d") \
        .rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy("series", "yr")
    cum = daily.withColumn("cs", F.sum("vq").over(wc)) \
        .withColumn("tot", F.sum("vq").over(wt))
    return cum.groupBy("series", "yr").agg(
        F.min(F.when(2 * F.col("cs") >= F.col("tot"),
                     F.dayofyear("d"))).cast("long")
        .alias("half_volume_doy"))


# ---------------------------------------------------------------------------
# IDW gridding (operators/raster.idw_interpolate): sparse station
# values interpolated to target coordinates with 1/(d^2+1) weights —
# the gauge-network gridding step. Weights/values quantize to integer
# units BEFORE the sums, so the weighted mean is an exact integer
# ratio under any station order; stations broadcast, targets map-only.
# ---------------------------------------------------------------------------

_IDW_ORACLE = f"""
    WITH st AS (
      SELECT CAST(s_suppkey % 90 AS DOUBLE)
               + CAST(s_suppkey % 8 AS DOUBLE) / CAST(8 AS DOUBLE)
               AS sx,
             CAST(s_suppkey % 50 AS DOUBLE)
               + CAST(s_suppkey % 4 AS DOUBLE) / CAST(4 AS DOUBLE)
               AS sy,
             CAST(floor(s_acctbal * 100 + CAST(0.5 AS DOUBLE))
                  AS BIGINT) AS vq
      FROM supplier
    ), tg AS (
      SELECT n_nationkey AS target_id,
             CAST(n_nationkey * 7 % 90 AS DOUBLE) AS tx,
             CAST(n_nationkey * 11 % 50 AS DOUBLE) AS ty
      FROM nation
    ), j AS (
      SELECT t.target_id, t.tx, t.ty, st.vq,
             CAST(floor(CAST(1e9 AS DOUBLE)
                        / ((t.tx - st.sx) * (t.tx - st.sx)
                           + (t.ty - st.sy) * (t.ty - st.sy)
                           + CAST(1 AS DOUBLE))
                        + CAST(0.5 AS DOUBLE)) AS BIGINT) AS wq
      FROM tg t CROSS JOIN st
    )
    SELECT target_id, tx, ty,
           {R("CASE WHEN sum(wq) > 0 THEN"
              " CAST(sum(wq * vq) AS DOUBLE) / sum(wq)"
              " / CAST(100 AS DOUBLE) END", 6)} AS value,
           CAST(count(*) AS BIGINT) AS n_stations
    FROM j GROUP BY 1, 2, 3
"""


@register("idw_station_gridding", oracle=_IDW_ORACLE)
def idw_station_gridding_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """25 target points interpolated from the supplier station set."""
    from ..operators.raster import idw_interpolate

    s = F.col("s_suppkey")
    pts = _t(spark, sf_dir, "supplier").select(
        ((s % 90).cast("double") + (s % 8).cast("double") / 8.0)
        .alias("px"),
        ((s % 50).cast("double") + (s % 4).cast("double") / 4.0)
        .alias("py"),
        F.col("s_acctbal").alias("value"))
    n = F.col("n_nationkey")
    tg = _t(spark, sf_dir, "nation").select(
        n.alias("target_id"),
        (n * 7 % 90).cast("double").alias("tx"),
        (n * 11 % 50).cast("double").alias("ty"))
    out = idw_interpolate(pts, tg)
    return _round(out, {"value": 6})


# ---------------------------------------------------------------------------
# Flood frequency via L-MOMENTS (Hosking 1990) — the modern fit next
# to the MoM version: b0 and b1 are integer-weighted sums over ranked
# annual maxima (rank weights are exact ints, so both probability-
# weighted moments are exact integer ratios), alpha = lambda2/ln2 and
# u = lambda1 - gamma*alpha with inlined literals.
# ---------------------------------------------------------------------------

_INV_LN2 = 1.4426950408889634

_FLOOD_LM_ORACLE = f"""
    WITH annual AS (
      SELECT o_orderpriority AS series,
             CAST(year(o_orderdate) AS INT) AS yr,
             max(CAST(floor(o_totalprice * 100
                            + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS mq
      FROM orders GROUP BY 1, 2
    ), ranked AS (
      SELECT series, mq,
             row_number() OVER (PARTITION BY series
                                ORDER BY mq ASC, yr ASC) AS i
      FROM annual
    ), pwm AS (
      SELECT series, CAST(count(*) AS BIGINT) AS n,
             sum(mq) AS s0, sum((i - 1) * mq) AS s1
      FROM ranked GROUP BY 1
    ), lam AS (
      SELECT series, n,
             CAST(s0 AS DOUBLE) / n / 100 AS l1,
             (2 * CAST(s1 AS DOUBLE) / (n * (n - 1))
              - CAST(s0 AS DOUBLE) / n) / 100 AS l2
      FROM pwm WHERE n >= 2
    ), params AS (
      SELECT series, n, l1, l2,
             l2 * CAST({_INV_LN2!r} AS DOUBLE) AS a,
             l1 - CAST({_GUMBEL_G!r} AS DOUBLE)
               * (l2 * CAST({_INV_LN2!r} AS DOUBLE)) AS u
      FROM lam
    )
    SELECT series, n AS n_years, {R('l1', 6)} AS lambda1,
           {R('l2', 6)} AS lambda2,
           {R(f'u + a * CAST({_GUMBEL_K[10]!r} AS DOUBLE)', 6)} AS q10,
           {R(f'u + a * CAST({_GUMBEL_K[100]!r} AS DOUBLE)', 6)}
             AS q100
    FROM params
"""


@register("flood_frequency_lmoments", oracle=_FLOOD_LM_ORACLE)
def flood_frequency_lmoments_q(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Gumbel fit from sample L-moments (exact integer
    probability-weighted moments over ranked annual maxima)."""
    o = _t(spark, sf_dir, "orders")
    annual = o.groupBy(
        F.col("o_orderpriority").alias("series"),
        F.year("o_orderdate").cast("int").alias("yr"),
    ).agg(F.max(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("long")).alias("mq"))
    w = Window.partitionBy("series").orderBy(F.asc("mq"), F.asc("yr"))
    ranked = annual.withColumn("i", F.row_number().over(w))
    pwm = ranked.groupBy("series").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("mq").alias("s0"),
        F.sum((F.col("i") - 1) * F.col("mq")).alias("s1"))
    n, s0, s1 = F.col("n"), F.col("s0"), F.col("s1")
    lam = pwm.where(n >= 2).select(
        "series", n,
        (s0.cast("double") / n / 100).alias("l1"),
        ((2 * s1.cast("double") / (n * (n - 1))
          - s0.cast("double") / n) / 100).alias("l2"))
    a = F.col("l2") * F.lit(_INV_LN2)
    u = F.col("l1") - F.lit(_GUMBEL_G) * a
    out = lam.select(
        "series", n.alias("n_years"),
        F.col("l1").alias("lambda1"), F.col("l2").alias("lambda2"),
        (u + a * F.lit(_GUMBEL_K[10])).alias("q10"),
        (u + a * F.lit(_GUMBEL_K[100])).alias("q100"))
    return _round(out, {"lambda1": 6, "lambda2": 6, "q10": 6,
                        "q100": 6})


# ---------------------------------------------------------------------------
# Lagged cross-correlation between station pairs (flood-routing
# travel-time estimation): Pearson r at lags 0..3 days over matched
# dates. All five sums are exact (centi/micro-quantized values,
# DECIMAL products <-> HUGEINT); the moment combination happens in
# doubles AFTER identical integer->double casts, so r is bit-stable.
# Pair x lag mass is bounded at n_series^2 * n_lags equi-joins on the
# shifted date key (never a band filter).
# ---------------------------------------------------------------------------

_XCORR_LAGS = [0, 1, 2, 3]

_XCORR_ORACLE = f"""
    WITH daily AS (
      SELECT o_orderpriority AS series, CAST(o_orderdate AS DATE) AS d,
             sum(CAST(floor(o_totalprice * 100
                            + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS vq
      FROM orders GROUP BY 1, 2
    ), lags AS (
      SELECT unnest([{', '.join(str(lag) for lag in _XCORR_LAGS)}])
               AS lag
    ), j AS (
      SELECT a.series AS series_a, b.series AS series_b, l.lag,
             a.vq AS va, b.vq AS vb
      FROM daily a
      CROSS JOIN lags l
      JOIN daily b
        ON b.series > a.series AND b.d = a.d + l.lag
    ), mom AS (
      SELECT series_a, series_b, lag,
             CAST(count(*) AS BIGINT) AS n,
             sum(CAST(va AS HUGEINT)) AS sa,
             sum(CAST(vb AS HUGEINT)) AS sb,
             sum(CAST(va AS HUGEINT) * vb) AS sab,
             sum(CAST(va AS HUGEINT) * va) AS saa,
             sum(CAST(vb AS HUGEINT) * vb) AS sbb
      FROM j GROUP BY 1, 2, 3
    ), r AS (
      SELECT series_a, series_b, lag, n,
             (CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
              - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                     - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                       - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))
               AS r
      FROM mom WHERE n >= 2
    )
    SELECT series_a, series_b, CAST(lag AS INT) AS lag,
           n AS n_matched, {R('r', 6)} AS r,
           (row_number() OVER (
              PARTITION BY series_a, series_b
              ORDER BY floor(r * 1000000000.0 + CAST(0.5 AS DOUBLE))
                         DESC, lag ASC) = 1) AS is_best_lag
    FROM r
"""


@register("station_lag_correlation", oracle=_XCORR_ORACLE)
def station_lag_correlation_q(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Pearson r at 0-3 day lags for every ordered priority pair,
    best lag flagged."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("series"),
        F.col("o_orderdate").cast("date").alias("d"),
    ).agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("long")).alias("vq"))
    lags = _ldf(spark, [(lag,) for lag in _XCORR_LAGS], "lag int")
    a = daily.select(F.col("series").alias("series_a"),
                     F.col("d").alias("da"), F.col("vq").alias("va"))
    b = daily.select(F.col("series").alias("series_b"),
                     F.col("d").alias("db"), F.col("vq").alias("vb"))
    j = (a.crossJoin(F.broadcast(lags))
         .join(b, (F.col("series_b") > F.col("series_a"))
               & (F.col("db") == F.date_add(F.col("da"), F.col("lag")))))
    dec = "decimal(18,0)"
    va, vb = F.col("va").cast(dec), F.col("vb").cast(dec)
    mom = j.groupBy("series_a", "series_b", "lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(va).alias("sa"), F.sum(vb).alias("sb"),
        F.sum(va * vb).alias("sab"),
        F.sum(va * va).alias("saa"),
        F.sum(vb * vb).alias("sbb"))
    n = F.col("n").cast("double")
    sa, sb = F.col("sa").cast("double"), F.col("sb").cast("double")
    sab = F.col("sab").cast("double")
    saa, sbb = F.col("saa").cast("double"), F.col("sbb").cast("double")
    r = ((n * sab - sa * sb)
         / F.sqrt((n * saa - sa * sa) * (n * sbb - sb * sb)))
    scored = mom.where(F.col("n") >= 2).withColumn("r", r)
    w = Window.partitionBy("series_a", "series_b").orderBy(
        F.desc(F.floor(F.col("r") * 1e9 + F.lit(0.5))), F.asc("lag"))
    out = scored.select(
        "series_a", "series_b", F.col("lag").cast("int"),
        F.col("n").alias("n_matched"), "r",
        (F.row_number().over(w) == 1).alias("is_best_lag"))
    return _round(out, {"r": 6})


# ---------------------------------------------------------------------------
# Standardized precipitation index, empirical variant (operators/
# trend.spi_empirical): monthly totals -> k-month accumulation ->
# per-calendar-month Weibull plotting position -> inverse-normal
# standardization via Acklam's rational approximation (bit-parity with
# DuckDB pinned over a dense grid incl. both tails in
# tests/test_trend.py). The Gamma MoM fit of McKee 1993 has no
# cross-engine-exact incomplete-gamma; the empirical CDF + exact
# integer ranks does the same standardization deterministically.
# ---------------------------------------------------------------------------

def _spi_oracle() -> str:
    from ..operators.trend import inv_normal_sql

    p = "CAST(rank AS DOUBLE) / CAST(n_years + 1 AS DOUBLE)"
    return f"""
    WITH monthly AS (
      SELECT o_orderpriority AS series,
             CAST(year(o_orderdate) AS INT) AS yr,
             CAST(month(o_orderdate) AS INT) AS mon,
             sum(CAST(floor(o_totalprice * 1000000 + CAST(0.5 AS DOUBLE))
                      AS BIGINT)) AS mq
      FROM orders GROUP BY 1, 2, 3
    ), rolled AS (
      SELECT series, yr, mon,
             sum(mq) OVER w AS sumq,
             count(*) OVER w AS nwin
      FROM monthly
      WINDOW w AS (PARTITION BY series ORDER BY yr, mon
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    ), ranked AS (
      SELECT series, yr, mon, sumq,
             CAST(row_number() OVER (PARTITION BY series, mon
                                     ORDER BY sumq, yr) AS INT) AS rank,
             count(*) OVER (PARTITION BY series, mon) AS n_years
      FROM rolled WHERE nwin = 3
    )
    SELECT series, yr, mon,
           sumq / 1000000.0 AS precip_3mo,
           rank, CAST(n_years AS BIGINT) AS n_years,
           {p} AS p,
           {R(inv_normal_sql(f'({p})'), 6)} AS spi
    FROM ranked
"""


@register("spi_empirical_3mo", oracle=_spi_oracle())
def spi_empirical_3mo_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-month SPI over priority-keyed monthly totals: exact integer
    accumulation, deterministic tie-broken ranks, Acklam
    inverse-normal."""
    from ..operators.daily import exact_sum
    from ..operators.trend import spi_empirical

    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.col("o_orderpriority").alias("series"),
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mon"),
    ).agg(exact_sum(F.col("o_totalprice")).alias("value"))
    out = spi_empirical(monthly, keys=["series"], k=3)
    return _round(out, {"spi": 6})


# ---------------------------------------------------------------------------
# Regional flood frequency (operators/trend.py): index-flood site
# quantiles + the Hosking & Wallis L-moment heterogeneity H statistic
# with a deterministic hash-driven homogeneous simulation. Sites =
# o_custkey % 15, three 5-site regions; annual maxima centi-quantized.
# Every aggregation is over exact integers; every double op is a
# scalar chain written with identical text on both sides.
# ---------------------------------------------------------------------------

_RFF_NSIM = 40

_RFF_BASE_SQL = """
    annual AS (
      SELECT (o_custkey % 15) % 3 AS region,
             o_custkey % 15 AS site,
             CAST(year(o_orderdate) AS INT) AS yr,
             max(CAST(floor(o_totalprice * 100
                            + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS mq
      FROM orders GROUP BY 1, 2, 3
    ), rk AS (
      SELECT region, site, yr, mq,
             row_number() OVER (PARTITION BY region, site
                                ORDER BY mq, yr) AS i
      FROM annual
    ), pwm AS (
      SELECT region, site, CAST(count(*) AS BIGINT) AS n,
             sum(mq) AS s0, sum((i - 1) * mq) AS s1,
             sum((i - 1) * (i - 2) * mq) AS s2
      FROM rk GROUP BY 1, 2
    ), sites AS (
      SELECT region, site, n, s0,
             CAST(floor(((2 * (CAST(s1 AS DOUBLE) / (n * (n - 1)))
                          - CAST(s0 AS DOUBLE) / n)
                         / (CAST(s0 AS DOUBLE) / n))
                        * 1000000000000 + 0.5) AS BIGINT) AS tq,
             CAST(floor(((6 * (CAST(s2 AS DOUBLE)
                               / (n * (n - 1) * (n - 2)))
                          - 6 * (CAST(s1 AS DOUBLE) / (n * (n - 1)))
                          + CAST(s0 AS DOUBLE) / n)
                         / (2 * (CAST(s1 AS DOUBLE) / (n * (n - 1)))
                            - CAST(s0 AS DOUBLE) / n))
                        * 1000000000000 + 0.5) AS BIGINT) AS t3q
      FROM pwm WHERE n >= 4
    ), regw AS (
      SELECT s.*, rr.n_tot, rr.S_t, rr.S_t3, rr.n_sites
      FROM sites s JOIN (
        SELECT region, CAST(count(*) AS BIGINT) AS n_sites,
               sum(n) AS n_tot, sum(n * tq) AS S_t,
               sum(n * t3q) AS S_t3
        FROM sites GROUP BY 1
      ) rr ON rr.region = s.region
    ), reg AS (
      SELECT region, n_sites, n_tot, S_t, S_t3,
             (CAST(S_t AS DOUBLE) / n_tot) / 1000000000000.0 AS t_r,
             (CAST(S_t3 AS DOUBLE) / n_tot) / 1000000000000.0 AS t3_r,
             sqrt(CAST(sum(CAST(n_tot * tq - S_t AS HUGEINT)
                           * (n_tot * tq - S_t) * n) AS DOUBLE)
                  / n_tot)
               / (n_tot * 1000000000000.0) AS v_obs
      FROM regw GROUP BY 1, 2, 3, 4, 5
    )
"""

_RFF_H_ORACLE = "WITH " + _RFF_BASE_SQL + """
    , jj AS (
      SELECT a.region, a.site, st.n,
             row_number() OVER (PARTITION BY a.region, a.site
                                ORDER BY a.yr) AS j,
             dense_rank() OVER (PARTITION BY a.region
                                ORDER BY a.site) AS site_ord
      FROM annual a
      JOIN sites st ON st.region = a.region AND st.site = a.site
    ), grid AS (
      SELECT jj.region, jj.site, jj.site_ord, jj.j, s.sim
      FROM jj CROSS JOIN (SELECT unnest(range(1, 41)) AS sim) s
    ), draws AS (
      SELECT g.region, g.site, g.sim, g.j,
             CAST(floor(((1.0 - 0.5772156649015329
                            * (r.t_r * 1.4426950408889634))
                         + (r.t_r * 1.4426950408889634)
                           * (-ln(-ln((CAST(CAST('0x' || substr(
                                              md5(CAST(g.sim * 1000003
                                                       + g.site_ord * 8191
                                                       + g.j AS VARCHAR)),
                                              1, 15) AS BIGINT) AS DOUBLE)
                                       + 0.5)
                                      / 1152921504606846976.0))))
                        * 1000000000.0 + 0.5) AS BIGINT) AS xq
      FROM grid g JOIN reg r ON r.region = g.region
    ), srk AS (
      SELECT region, site, sim, xq,
             row_number() OVER (PARTITION BY region, sim, site
                                ORDER BY xq, j) AS i
      FROM draws
    ), spwm AS (
      SELECT region, sim, site, CAST(count(*) AS BIGINT) AS n,
             sum(xq) AS s0, sum((i - 1) * xq) AS s1
      FROM srk GROUP BY 1, 2, 3
    ), ssites AS (
      SELECT region, sim, site, n,
             CAST(floor(((2 * (CAST(s1 AS DOUBLE) / (n * (n - 1)))
                          - CAST(s0 AS DOUBLE) / n)
                         / (CAST(s0 AS DOUBLE) / n))
                        * 1000000000000 + 0.5) AS BIGINT) AS tq
      FROM spwm
    ), sregw AS (
      SELECT s.*, rr.n_tot, rr.S_t
      FROM ssites s JOIN (
        SELECT region, sim, sum(n) AS n_tot, sum(n * tq) AS S_t
        FROM ssites GROUP BY 1, 2
      ) rr ON rr.region = s.region AND rr.sim = s.sim
    ), sv AS (
      SELECT region, sim,
             CAST(floor((sqrt(CAST(sum(CAST(n_tot * tq - S_t
                                             AS HUGEINT)
                                        * (n_tot * tq - S_t) * n)
                                   AS DOUBLE) / n_tot)
                         / (n_tot * 1000000000000.0))
                        * 1000000000000.0 + 0.5) AS BIGINT) AS vqs
      FROM sregw GROUP BY 1, 2, n_tot, S_t
    ), hsim AS (
      SELECT region, CAST(count(*) AS BIGINT) AS n_sim,
             sum(vqs) AS SV,
             sum(CAST(vqs AS HUGEINT) * vqs) AS SV2
      FROM sv GROUP BY 1
    ), final AS (
      SELECT r.region, r.n_sites, CAST(r.n_tot AS BIGINT) AS total_years,
             r.t_r, r.t3_r, r.v_obs,
             (CAST(h.SV AS DOUBLE) / h.n_sim) / 1000000000000.0 AS mu_v,
             sqrt(CAST(CAST(h.n_sim AS HUGEINT) * h.SV2
                       - CAST(h.SV AS HUGEINT) * h.SV AS DOUBLE)
                  / (h.n_sim * (h.n_sim - 1))) / 1000000000000.0
               AS sigma_v
      FROM reg r JOIN hsim h ON h.region = r.region
    )
    SELECT region, n_sites, total_years,
           floor(t_r * 1000000 + 0.5) / 1000000 AS t_r,
           floor(t3_r * 1000000 + 0.5) / 1000000 AS t3_r,
           floor(v_obs * 1000000 + 0.5) / 1000000 AS v_obs,
           floor(mu_v * 1000000 + 0.5) / 1000000 AS mu_v,
           floor(sigma_v * 1000000 + 0.5) / 1000000 AS sigma_v,
           floor(((v_obs - mu_v) / sigma_v) * 1000000 + 0.5) / 1000000
             AS h_stat,
           (v_obs - mu_v) / sigma_v > 1.0 AS possibly_heterogeneous,
           (v_obs - mu_v) / sigma_v > 2.0 AS definitely_heterogeneous
    FROM final
"""


def _rff_annual(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    site = F.col("o_custkey") % 15
    out = o.groupBy(
        (site % 3).alias("region"), site.alias("site"),
        F.year("o_orderdate").cast("int").alias("yr"),
    ).agg(F.max(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("long")).alias("mq"))
    # r12 (guide §5): the regional-frequency operators reference this
    # catalog-sized rollup (sites x years, ~1e2 rows) from many DAG
    # branches — up to 8 (gev_uncertainty) re-scans of the full orders
    # table per action without a persist, which is exactly what a
    # 100 TB orders table cannot afford. Cached blocks are shared
    # across the branches of a single action; the bench's
    # clearCache() between queries releases them.
    return out.persist()


@register("regional_flood_homogeneity", oracle=_RFF_H_ORACLE)
def regional_flood_homogeneity_q(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Hosking & Wallis heterogeneity H per 5-site region over annual
    maxima: observed weighted L-CV dispersion vs 40 deterministic
    hash-driven homogeneous Gumbel simulations (operators/trend.py
    regional_lmoment_homogeneity)."""
    from ..operators.trend import regional_lmoment_homogeneity

    out = regional_lmoment_homogeneity(_rff_annual(spark, sf_dir),
                                       nsim=_RFF_NSIM)
    return _round(out, {"t_r": 6, "t3_r": 6, "v_obs": 6, "mu_v": 6,
                        "sigma_v": 6, "h_stat": 6})


_RFF_IDX_ORACLE = "WITH " + _RFF_BASE_SQL + """
    SELECT s.region, s.site, s.n AS n_years,
           floor(((CAST(s.s0 AS DOUBLE) / s.n) / 100.0)
                 * 1000000 + 0.5) / 1000000 AS index_flood,
           floor(r.t_r * 1000000 + 0.5) / 1000000 AS t_r,
           floor((((CAST(s.s0 AS DOUBLE) / s.n) / 100.0)
                  * ((1.0 - 0.5772156649015329
                        * (r.t_r * 1.4426950408889634))
                     + (r.t_r * 1.4426950408889634)
                       * 2.2503673273124454))
                 * 1000000 + 0.5) / 1000000 AS q10,
           floor((((CAST(s.s0 AS DOUBLE) / s.n) / 100.0)
                  * ((1.0 - 0.5772156649015329
                        * (r.t_r * 1.4426950408889634))
                     + (r.t_r * 1.4426950408889634)
                       * 4.600149226776579))
                 * 1000000 + 0.5) / 1000000 AS q100
    FROM sites s JOIN reg r ON r.region = s.region
"""


@register("regional_index_flood", oracle=_RFF_IDX_ORACLE)
def regional_index_flood_q(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Index-flood site quantiles (Dalrymple 1960): the region's
    dimensionless Gumbel growth curve scaled by each site's mean
    annual maximum (operators/trend.py regional_index_flood)."""
    from ..operators.trend import regional_index_flood

    out = regional_index_flood(_rff_annual(spark, sf_dir))
    return _round(out, {"index_flood": 6, "t_r": 6, "q10": 6,
                        "q100": 6})


_RFF_D_ORACLE = """
    WITH annual AS (
      SELECT (o_custkey % 15) % 3 AS region,
             o_custkey % 15 AS site,
             CAST(year(o_orderdate) AS INT) AS yr,
             max(CAST(floor(o_totalprice * 100
                            + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS mq
      FROM orders GROUP BY 1, 2, 3
    ), rk AS (
      SELECT region, site, yr, mq,
             row_number() OVER (PARTITION BY region, site
                                ORDER BY mq, yr) AS i
      FROM annual
    ), pwm AS (
      SELECT region, site, CAST(count(*) AS BIGINT) AS n,
             sum(mq) AS s0, sum((i - 1) * mq) AS s1,
             sum((i - 1) * (i - 2) * mq) AS s2,
             sum((i - 1) * (i - 2) * (i - 3) * mq) AS s3
      FROM rk GROUP BY 1, 2
    ), sitesd AS (
      SELECT region, site, n,
             ((2 * (CAST(s1 AS DOUBLE) / (n * (n - 1)))
               - CAST(s0 AS DOUBLE) / n)
              / (CAST(s0 AS DOUBLE) / n)) AS t,
             ((6 * (CAST(s2 AS DOUBLE) / (n * (n - 1) * (n - 2)))
               - 6 * (CAST(s1 AS DOUBLE) / (n * (n - 1)))
               + CAST(s0 AS DOUBLE) / n)
              / (2 * (CAST(s1 AS DOUBLE) / (n * (n - 1)))
                 - CAST(s0 AS DOUBLE) / n)) AS t3,
             ((20 * (CAST(s3 AS DOUBLE)
                     / (n * (n - 1) * (n - 2) * (n - 3)))
               - 30 * (CAST(s2 AS DOUBLE) / (n * (n - 1) * (n - 2)))
               + 12 * (CAST(s1 AS DOUBLE) / (n * (n - 1)))
               - CAST(s0 AS DOUBLE) / n)
              / (2 * (CAST(s1 AS DOUBLE) / (n * (n - 1)))
                 - CAST(s0 AS DOUBLE) / n)) AS t4
      FROM pwm WHERE n >= 4
    ), q AS (
      SELECT region, site, n, t, t3, t4,
             CAST(floor(t * 1000000000000 + 0.5) AS BIGINT) AS tq,
             CAST(floor(t3 * 1000000000000 + 0.5) AS BIGINT) AS t3q,
             CAST(floor(t4 * 1000000000000 + 0.5) AS BIGINT) AS t4q
      FROM q0
    ), xx AS (
      SELECT q.region, q.site, q.n, q.t, q.t3, q.t4, g.ns,
             g.ns * q.tq - g.Su1 AS d1,
             g.ns * q.t3q - g.Su2 AS d2,
             g.ns * q.t4q - g.Su3 AS d3
      FROM q JOIN (
        SELECT region, CAST(count(*) AS BIGINT) AS ns,
               sum(tq) AS Su1, sum(t3q) AS Su2, sum(t4q) AS Su3
        FROM q GROUP BY 1
      ) g ON g.region = q.region
      WHERE g.ns >= 4
    ), mm AS (
      SELECT region,
             CAST(sum(CAST(d1 AS HUGEINT) * d1) AS DOUBLE) AS m11,
             CAST(sum(CAST(d1 AS HUGEINT) * d2) AS DOUBLE) AS m12,
             CAST(sum(CAST(d1 AS HUGEINT) * d3) AS DOUBLE) AS m13,
             CAST(sum(CAST(d2 AS HUGEINT) * d2) AS DOUBLE) AS m22,
             CAST(sum(CAST(d2 AS HUGEINT) * d3) AS DOUBLE) AS m23,
             CAST(sum(CAST(d3 AS HUGEINT) * d3) AS DOUBLE) AS m33
      FROM xx GROUP BY 1
    ), dcalc AS (
      SELECT xx.region, xx.site, xx.n, xx.t, xx.t3, xx.t4, xx.ns,
             CASE WHEN (m11 * (m22 * m33 - m23 * m23)
                        - m12 * (m12 * m33 - m13 * m23)
                        + m13 * (m12 * m23 - m13 * m22)) <> 0.0 THEN
             (xx.ns / 3.0) * (
               (CAST(xx.d1 AS DOUBLE) * CAST(xx.d1 AS DOUBLE)
                  * (m22 * m33 - m23 * m23)
                + CAST(xx.d2 AS DOUBLE) * CAST(xx.d2 AS DOUBLE)
                  * (m11 * m33 - m13 * m13)
                + CAST(xx.d3 AS DOUBLE) * CAST(xx.d3 AS DOUBLE)
                  * (m11 * m22 - m12 * m12)
                + 2 * (CAST(xx.d1 AS DOUBLE) * CAST(xx.d2 AS DOUBLE)
                       * (-(m12 * m33 - m13 * m23)))
                + 2 * (CAST(xx.d1 AS DOUBLE) * CAST(xx.d3 AS DOUBLE)
                       * (m12 * m23 - m13 * m22))
                + 2 * (CAST(xx.d2 AS DOUBLE) * CAST(xx.d3 AS DOUBLE)
                       * (-(m11 * m23 - m12 * m13))))
               / (m11 * (m22 * m33 - m23 * m23)
                  - m12 * (m12 * m33 - m13 * m23)
                  + m13 * (m12 * m23 - m13 * m22))) END AS d_stat,
             CASE WHEN xx.ns >= 15 THEN 3.0
                  WHEN xx.ns >= 14 THEN 2.971
                  WHEN xx.ns >= 13 THEN 2.869
                  WHEN xx.ns >= 12 THEN 2.757
                  WHEN xx.ns >= 11 THEN 2.632
                  WHEN xx.ns >= 10 THEN 2.491
                  WHEN xx.ns >= 9 THEN 2.329
                  WHEN xx.ns >= 8 THEN 2.140
                  WHEN xx.ns >= 7 THEN 1.917
                  WHEN xx.ns >= 6 THEN 1.648
                  ELSE 1.333 END AS d_critical
      FROM xx JOIN mm ON mm.region = xx.region
    )
    SELECT region, site, CAST(n AS BIGINT) AS n_years,
           floor(t * 1000000 + 0.5) / 1000000 AS t,
           floor(t3 * 1000000 + 0.5) / 1000000 AS t3,
           floor(t4 * 1000000 + 0.5) / 1000000 AS t4,
           floor(d_stat * 1000000 + 0.5) / 1000000 AS d_stat,
           d_critical,
           coalesce(d_stat > d_critical, FALSE) AS discordant
    FROM dcalc
"""
_RFF_D_ORACLE = _RFF_D_ORACLE.replace("FROM q0", "FROM sitesd")


@register("regional_discordancy", oracle=_RFF_D_ORACLE)
def regional_discordancy_q(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Hosking & Wallis per-site discordancy D_i over the 5-site
    regions (operators/trend.regional_discordancy): the (t, t3, t4)
    Mahalanobis screen with the Table 3.1 critical values — the third
    member of the regional screening trio next to H."""
    from ..operators.trend import regional_discordancy

    out = regional_discordancy(_rff_annual(spark, sf_dir))
    return _round(out, {"t": 6, "t3": 6, "t4": 6, "d_stat": 6})


# ---------------------------------------------------------------------------
# Regional screening capstone: the full H&W workflow in one plan —
# discordancy screen -> drop flagged sites -> heterogeneity H over the
# survivors -> regional growth-curve factors. Fixture: 30 sites in two
# 15-site regions (15 sites => D_max = 14/3 ~ 4.67 comfortably above
# the 3.0 critical value) with one injected outlier year at site 7, so
# the drop path genuinely fires at every SF. The oracle is ASSEMBLED
# from the audited D and H oracle texts (CTEs suffix-renamed, the H
# base rebased onto the keep-filtered annual) so the two halves stay
# textually identical to their standalone, separately-verified
# queries.
# ---------------------------------------------------------------------------

_RFF_CAPSTONE_ANNUAL = """annual AS (
      SELECT region, site, yr,
             CASE WHEN site = 7 AND yr = 1995 THEN mq * 6
                  ELSE mq END AS mq
      FROM (
        SELECT (o_custkey % 30) % 2 AS region,
               o_custkey % 30 AS site,
               CAST(year(o_orderdate) AS INT) AS yr,
               max(CAST(floor(o_totalprice * 100
                              + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS mq
        FROM orders GROUP BY 1, 2, 3
      )
    ), rk AS ("""


def _build_screening_oracle() -> str:
    import re

    d_pert = re.sub(r"annual AS \(.*?\), rk AS \(",
                    _RFF_CAPSTONE_ANNUAL, _RFF_D_ORACLE, flags=re.S)
    d_body = d_pert.split(
        "    SELECT region, site, CAST(n AS BIGINT)")[0].rstrip()
    h_rest = _RFF_H_ORACLE[len("WITH " + _RFF_BASE_SQL):]
    h_sql = _RFF_BASE_SQL + h_rest
    for name in ("annual", "rk", "pwm", "sites", "regw", "reg", "jj",
                 "grid", "draws", "srk", "spwm", "ssites", "sregw",
                 "sv", "hsim", "final"):
        h_sql = re.sub(rf"\b{name}\b", name + "2", h_sql)
    h_sql = re.sub(
        r"annual2 AS \(.*?\), rk2 AS \(",
        """annual2 AS (
      SELECT a.region, a.site, a.yr, a.mq
      FROM annual a JOIN keep k
        ON k.region = a.region AND k.site = a.site
    ), rk2 AS (""", h_sql, flags=re.S)
    h_body = h_sql.split("    SELECT region, n_sites, total_years,")[0]
    h_body = h_body.rstrip()
    assert h_body.endswith(")"), h_body[-80:]
    return (d_body + """, keep AS (
      SELECT region, site FROM dcalc
      WHERE NOT coalesce(d_stat > d_critical, FALSE)
    ), dstats AS (
      SELECT region, CAST(count(*) AS BIGINT) AS n_sites_initial,
             CAST(sum(CASE WHEN coalesce(d_stat > d_critical, FALSE)
                           THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_discordant
      FROM dcalc GROUP BY 1
    ),""" + h_body + """
    SELECT f.region, d.n_sites_initial, d.n_discordant,
           f.n_sites AS n_sites_used, f.total_years,
           floor(f.t_r * 1000000 + 0.5) / 1000000 AS t_r,
           floor(((f.v_obs - f.mu_v) / f.sigma_v) * 1000000 + 0.5)
             / 1000000 AS h_stat,
           (f.v_obs - f.mu_v) / f.sigma_v > 1.0
             AS possibly_heterogeneous,
           (f.v_obs - f.mu_v) / f.sigma_v > 2.0
             AS definitely_heterogeneous,
           floor(((1.0 - 0.5772156649015329
                     * (f.t_r * 1.4426950408889634))
                  + (f.t_r * 1.4426950408889634) * 2.2503673273124454)
                 * 1000000 + 0.5) / 1000000 AS growth_q10,
           floor(((1.0 - 0.5772156649015329
                     * (f.t_r * 1.4426950408889634))
                  + (f.t_r * 1.4426950408889634) * 4.600149226776579)
                 * 1000000 + 0.5) / 1000000 AS growth_q100
    FROM final2 f JOIN dstats d ON d.region = f.region
""")


def _rff_annual_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    site = F.col("o_custkey") % 30
    a = o.groupBy(
        (site % 2).alias("region"), site.alias("site"),
        F.year("o_orderdate").cast("int").alias("yr"),
    ).agg(F.max(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("long")).alias("mq"))
    return a.select(
        "region", "site", "yr",
        F.when((F.col("site") == 7) & (F.col("yr") == 1995),
               F.col("mq") * 6)
        .otherwise(F.col("mq")).alias("mq")
    ).persist()  # r12: 28 orders re-scans in the screening plan
    # without it — see _rff_annual


@register("regional_screening_report", oracle=_build_screening_oracle())
def regional_screening_report_q(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The full H&W regional screening workflow in one plan over two
    15-site regions with an injected outlier site: discordancy ->
    drop -> heterogeneity over survivors -> growth factors
    (operators/trend.regional_screening_report)."""
    from ..operators.trend import regional_screening_report

    out = regional_screening_report(
        _rff_annual_capstone(spark, sf_dir), nsim=_RFF_NSIM)
    return _round(out, {"t_r": 6, "h_stat": 6, "growth_q10": 6,
                        "growth_q100": 6})


# ---------------------------------------------------------------------------
# Criteria applicability read API (patch_51.R:2907-3400): the
# user-facing "does this result meet guidelines?" call — per-result
# applicability star over the evaluation core, the detection-limit
# result_value/relation ladder, the rule-level comparison_status
# matrix, and the guideline-level rollup with its operator-keyed
# status ladder. Fixture values are binary-exact quarters so every
# ladder comparison (incl. the eq-operator equality) is engine-exact.
# ---------------------------------------------------------------------------

_APPLIC_RESULTS_SQL = """
      SELECT o_orderkey AS result_id,
             o_custkey % 120 AS sample_id,
             7 + o_orderkey % 3 AS parameter_id,
             o_orderkey % 2 + 1 AS matrix_state_id,
             CASE WHEN o_orderkey % 11 = 0 THEN NULL
                  ELSE o_orderkey % 3 + 1 END AS sample_fraction_id,
             CASE WHEN o_orderkey % 5 = 0 THEN NULL
                  ELSE o_orderkey % 4 + 1 END AS result_speciation_id,
             CASE o_orderkey % 4 WHEN 0 THEN 'field' WHEN 1 THEN 'lab'
                  WHEN 2 THEN 'other' END AS result_type,
             CASE WHEN o_orderkey % 19 = 0 OR o_orderkey % 23 = 0
                  THEN NULL
                  ELSE (o_orderkey % 400) * 0.25 + 0.25 END AS result,
             CASE WHEN o_orderkey % 19 = 0
                  THEN 1 + ((o_orderkey // 19) % 5) END
               AS result_condition,
             CASE WHEN o_orderkey % 19 = 0
                  THEN (o_orderkey % 50) * 0.25 + 0.25 END
               AS result_condition_value
      FROM orders
"""

_APPLIC_DERIV_SQL = (
    "'{\"algorithm\":' || "
    "coalesce('\"' || algorithm_code || '\"', 'null') || "
    "',\"input_micro\":' || "
    "coalesce(CAST(CAST(floor(input_value * 1000000 + 0.5) AS BIGINT) "
    "AS VARCHAR), 'null') || '}'"
)


_APPLIC_RULES_CTE = """\
    rules(rule_id, guideline_id, bound_code, rule_priority, algorithm_code,
          fixed_value, input_id, intercept, slope, min_output_value,
          max_output_value, rounding_digits, rounding_method) AS (
      VALUES
        (1, 1, 'upper', 1, 'constant', 25.456, NULL, NULL, NULL, NULL,
         NULL, 1, 'round'),
        (2, 1, 'lower', 2, 'narrative', NULL, NULL, NULL, NULL, NULL,
         NULL, NULL, NULL),
        (3, 2, 'upper', 1, 'linear', NULL, 1, 2.0, 0.3, 5.0, 40.0,
         1, 'floor'),
        (4, 2, 'upper', 2, 'log_linear', NULL, 2, 0.7, 0.74, NULL,
         NULL, 3, 'round'),
        (5, 3, 'lower', 1, 'constant', 18.0, NULL, NULL, NULL, NULL,
         NULL, NULL, 'none'),
        (6, 4, 'lower', 1, 'constant', 5.0, NULL, NULL, NULL, NULL,
         NULL, NULL, 'none'),
        (7, 4, 'upper', 2, 'constant', 30.0, NULL, NULL, NULL, NULL,
         NULL, NULL, 'none'),
        (8, 5, 'lower', 1, 'constant', 12.25, NULL, NULL, NULL, NULL,
         NULL, NULL, 'none'),
        (9, 5, 'upper', 2, 'constant', 12.25, NULL, NULL, NULL, NULL,
         NULL, NULL, 'none'),
        (10, 6, 'lower', 1, 'constant', 3.0, NULL, NULL, NULL, NULL,
         NULL, NULL, 'none'),
        (11, 6, 'upper', 2, 'constant', 4.0, NULL, NULL, NULL, NULL,
         NULL, NULL, 'none'),
        (12, 7, 'upper', 1, 'constant', 50.0, NULL, NULL, NULL, NULL,
         NULL, NULL, 'none'),
        (13, 8, 'upper', 1, 'constant', 80.0, NULL, NULL, NULL, NULL,
         NULL, NULL, 'none'),
        (14, 9, 'upper', 1, 'constant', 10.0, NULL, NULL, NULL, NULL,
         NULL, NULL, 'none'),
        (15, 10, 'upper', 1, 'constant', 60.0, NULL, NULL, NULL, NULL,
         NULL, NULL, 'none'),
        (16, 11, 'upper', 1, 'constant', 70.0, NULL, NULL, NULL, NULL,
         NULL, NULL, 'none'),
        (17, 12, 'lower', 1, 'constant', 2.0, NULL, NULL, NULL, NULL,
         NULL, NULL, 'none'),
        (18, 13, 'upper', 1, 'constant', 90.0, NULL, NULL, NULL, NULL,
         NULL, NULL, 'none')
    ),
"""


def _applic_cte(include_unapproved: bool,
                rules_cte: str | None = None) -> str:
    approval = ("TRUE" if include_unapproved
                else "(g.active AND g.review_status = 'approved')")
    rules_cte = rules_cte if rules_cte is not None else _APPLIC_RULES_CTE
    return f"""
    WITH res AS ({_APPLIC_RESULTS_SQL}),
    samples AS (SELECT DISTINCT sample_id FROM res),
    conds(result_condition_id, result_condition) AS (
      VALUES (1, 'Below Detection Limit'), (2, 'Above Detection Limit'),
             (3, 'below detection (estimated)'),
             (4, 'above detection (estimated)'), (5, 'not analyzed')
    ),
    inputs(input_id, parameter_id, matrix_state_id, sample_fraction_id,
           result_speciation_id, result_type, allow_condition_value,
           aggregate_method, lower_calibrated_bound, upper_calibrated_bound,
           bounds_action) AS (
      VALUES (1, 7, NULL, NULL, NULL, NULL, TRUE, 'avg', 1.0, 30.0, 'clamp'),
             (2, 8, 1, NULL, NULL, NULL, FALSE, 'single', 0.5, 35.0, 'reject'),
             (3, 9, NULL, NULL, NULL, 'field', FALSE, 'max', NULL, NULL, 'warn')
    ),
    cand AS (
      SELECT r.sample_id, i.input_id, r.result_id,
             CASE WHEN i.input_id = 1 THEN
               CASE r.result_type WHEN 'field' THEN 1 WHEN 'lab' THEN 2 END
             ELSE 1 END AS rnk,
             CASE WHEN r.result IS NOT NULL THEN r.result
                  WHEN i.allow_condition_value THEN r.result_condition_value
             END AS v
      FROM res r JOIN inputs i ON r.parameter_id = i.parameter_id
       AND (i.matrix_state_id IS NULL
            OR r.matrix_state_id = i.matrix_state_id)
       AND (i.result_type IS NULL
            OR r.result_type IS NOT DISTINCT FROM i.result_type)
       AND (i.input_id <> 1 OR r.result_type IN ('field', 'lab'))
    ),
    agg AS (
      SELECT sample_id, input_id, count(*) AS matching, count(v) AS usable,
             min(rnk) FILTER (WHERE v IS NOT NULL) AS sel_rank
      FROM cand GROUP BY 1, 2
    ),
    at_rank AS (
      SELECT c.sample_id, c.input_id, count(*) AS n_pref,
             sum(CAST(floor(c.v * 1000000 + 0.5) AS BIGINT))
               / 1000000.0 / count(*) AS vavg,
             min(c.v) AS vmin, max(c.v) AS vmax
      FROM cand c JOIN agg a USING (sample_id, input_id)
      WHERE c.v IS NOT NULL AND c.rnk = a.sel_rank
      GROUP BY 1, 2
    ),
    grid AS (
      SELECT s.sample_id, i.input_id, i.aggregate_method,
             i.lower_calibrated_bound, i.upper_calibrated_bound,
             i.bounds_action
      FROM samples s CROSS JOIN inputs i
    ),
    iv AS (
      SELECT g.sample_id, g.input_id,
             CASE WHEN st = 'value' THEN clamped END AS input_value,
             st AS status
      FROM (
        SELECT g.*, a.matching, a.usable, p.n_pref,
               CASE g.aggregate_method WHEN 'avg' THEN p.vavg
                    WHEN 'max' THEN p.vmax ELSE p.vmin END AS raw
        FROM grid g
        LEFT JOIN agg a USING (sample_id, input_id)
        LEFT JOIN at_rank p USING (sample_id, input_id)
      ) g,
      LATERAL (SELECT
        CASE WHEN g.lower_calibrated_bound IS NOT NULL
                  AND g.raw < g.lower_calibrated_bound
                  AND g.bounds_action = 'clamp'
               THEN g.lower_calibrated_bound
             WHEN g.upper_calibrated_bound IS NOT NULL
                  AND g.raw > g.upper_calibrated_bound
                  AND g.bounds_action = 'clamp'
               THEN g.upper_calibrated_bound
             ELSE g.raw END AS clamped,
        CASE WHEN g.matching IS NULL OR g.matching = 0 THEN 'missing_input'
             WHEN g.usable = 0 THEN 'missing_input_value'
             WHEN g.aggregate_method = 'single' AND g.n_pref > 1
               THEN 'ambiguous_input'
             WHEN ((g.lower_calibrated_bound IS NOT NULL
                    AND g.raw < g.lower_calibrated_bound)
                   OR (g.upper_calibrated_bound IS NOT NULL
                       AND g.raw > g.upper_calibrated_bound))
                  AND g.bounds_action = 'reject'
               THEN 'outside_calibrated_range'
             ELSE 'value' END AS st) x
    ),
    {rules_cte}
    ev0 AS (
      SELECT s.sample_id, r.*, v.input_value, v.status AS in_status
      FROM samples s CROSS JOIN rules r
      LEFT JOIN iv v ON v.sample_id = s.sample_id AND v.input_id = r.input_id
    ),
    ev1 AS (
      SELECT *,
        CASE algorithm_code
          WHEN 'constant' THEN fixed_value
          WHEN 'linear' THEN intercept + slope * input_value
          WHEN 'log_linear' THEN exp(intercept + slope * ln(input_value))
        END AS rawv
      FROM ev0
      WHERE NOT (algorithm_code = 'log_linear'
                 AND COALESCE(input_value <= 0, FALSE))
      UNION ALL
      SELECT *, NULL AS rawv FROM ev0
      WHERE algorithm_code = 'log_linear'
        AND COALESCE(input_value <= 0, FALSE)
    ),
    ev2 AS (
      SELECT *,
        CASE WHEN rawv IS NULL THEN NULL
             WHEN max_output_value IS NOT NULL
                  AND (CASE WHEN min_output_value IS NOT NULL
                                 AND rawv < min_output_value
                            THEN min_output_value ELSE rawv END)
                      > max_output_value
               THEN max_output_value
             WHEN min_output_value IS NOT NULL AND rawv < min_output_value
               THEN min_output_value
             ELSE rawv END AS capv
      FROM ev1
    ),
    ev AS (
      SELECT sample_id, rule_id, guideline_id, bound_code, rule_priority,
        CASE WHEN st = 'value' THEN rounded END AS guideline_value,
        st AS output_status, algorithm_code, input_value
      FROM (
        SELECT *,
          CASE WHEN capv IS NULL OR rounding_method IS NULL
                    OR rounding_method = 'none' THEN capv
               WHEN rounding_method = 'round'
                 THEN floor(capv * pow(10, COALESCE(rounding_digits, 0))
                            + 0.5) / pow(10, COALESCE(rounding_digits, 0))
               WHEN rounding_method = 'floor'
                 THEN floor(capv * pow(10, COALESCE(rounding_digits, 0)))
                      / pow(10, COALESCE(rounding_digits, 0))
               WHEN rounding_method = 'ceiling'
                 THEN ceiling(capv * pow(10, COALESCE(rounding_digits, 0)))
                      / pow(10, COALESCE(rounding_digits, 0))
          END AS rounded,
          CASE WHEN algorithm_code = 'narrative' THEN 'narrative'
               WHEN algorithm_code IN ('linear', 'log_linear')
                    AND in_status <> 'value' THEN in_status
               WHEN algorithm_code = 'log_linear' AND in_status = 'value'
                    AND input_value <= 0 THEN 'invalid_input_value'
               WHEN CASE WHEN capv IS NULL OR rounding_method IS NULL
                              OR rounding_method = 'none' THEN capv
                         ELSE capv END IS NULL THEN 'no_value'
               ELSE 'value' END AS st
        FROM ev2
      )
    ),
    gl(guideline_id, guideline_code, guideline_name, publisher_id,
       parameter_id, matrix_state_id, comparison_operator_code,
       result_speciation_id, valid_from, valid_to, active,
       review_status) AS (
      VALUES
        (1, 'G-CONST', 'Constant upper', 1, 7, 1, 'lte', NULL,
         DATE '2019-01-01', NULL, TRUE, 'approved'),
        (2, 'G-LIN', 'Hardness-linear', 1, 8, 1, 'lte', NULL,
         DATE '2019-01-01', NULL, TRUE, 'approved'),
        (3, 'G-LOW', 'Lower bound', 2, 9, 2, 'gte', NULL,
         DATE '2019-01-01', NULL, TRUE, 'approved'),
        (4, 'G-RANGE', 'Range', 2, 7, 1, 'range', NULL,
         DATE '2019-01-01', NULL, TRUE, 'approved'),
        (5, 'G-EQ', 'Equality', 1, 7, 1, 'eq', NULL,
         DATE '2019-01-01', NULL, TRUE, 'approved'),
        (6, 'G-EQBAD', 'Equality bad bounds', 1, 8, 2, 'eq', NULL,
         DATE '2019-01-01', NULL, TRUE, 'approved'),
        (7, 'G-INACT', 'Inactive', 2, 9, 1, 'lte', NULL,
         DATE '2019-01-01', NULL, FALSE, 'approved'),
        (8, 'G-DRAFT', 'Draft', 1, 7, 1, 'lte', NULL,
         DATE '2019-01-01', NULL, TRUE, 'draft'),
        (9, 'G-EXPIRED', 'Expired', 1, 7, 2, 'lte', NULL,
         DATE '2015-01-01', DATE '2020-12-31', TRUE, 'approved'),
        (10, 'G-SPEC', 'Speciation-specific', 2, 7, 1, 'lte', 2,
         DATE '2019-01-01', NULL, TRUE, 'approved'),
        (11, 'G-MEDIA', 'Media-restricted', 1, 8, 1, 'lte', NULL,
         DATE '2019-01-01', NULL, TRUE, 'approved'),
        (12, 'G-FRAC', 'Fraction-restricted', 2, 9, 1, 'gte', NULL,
         DATE '2019-01-01', NULL, TRUE, 'approved'),
        (13, 'G-LOC', 'Location-restricted', 1, 7, 1, 'lte', NULL,
         DATE '2019-01-01', NULL, TRUE, 'approved')
    ),
    media(guideline_id, media_id) AS (VALUES (11, 1), (11, 3)),
    fracs(guideline_id, fraction_id) AS (VALUES (12, 1), (12, NULL)),
    locs(guideline_id, location_id, active) AS (
      VALUES (13, 0, TRUE), (13, 1, TRUE), (13, 2, TRUE), (13, 3, TRUE),
             (13, 5, FALSE)
    ),
    pubs(publisher_id, publisher_name) AS (
      VALUES (1, 'CCME'), (2, 'Yukon CSR')
    ),
    punits(parameter_id, matrix_state_id, units) AS (
      VALUES (7, 1, 'mg/L'), (7, 2, 'ug/L'), (8, 1, 'mg/L'),
             (8, 2, 'mg/L'), (9, 1, 'pH units'), (9, 2, 'pH units')
    ),
    params(parameter_id, parameter_name) AS (
      VALUES (7, 'Zinc'), (8, 'Copper'), (9, 'pH')
    ),
    mstates(matrix_state_id, matrix_state_code) AS (
      VALUES (1, 'W'), (2, 'S')
    ),
    ml AS (SELECT guideline_id, list(media_id) AS mlist
           FROM media GROUP BY 1),
    fl AS (SELECT guideline_id, list(coalesce(fraction_id, -1)) AS flist
           FROM fracs GROUP BY 1),
    ll AS (SELECT guideline_id, list(location_id) AS llist
           FROM locs WHERE active GROUP BY 1),
    rres AS (
      SELECT r.*, r.sample_id % 8 AS location_id,
             r.sample_id % 3 + 1 AS media_id,
             COALESCE(r.result,
               CASE WHEN r.result_condition IN (1, 2)
                      THEN r.result_condition_value
                    WHEN lower(rc.result_condition)
                         LIKE 'below detection%'
                      THEN r.result_condition_value
                    WHEN lower(rc.result_condition)
                         LIKE 'above detection%'
                      THEN r.result_condition_value
               END) AS result_value,
             CASE WHEN r.result IS NOT NULL THEN 'actual'
                  WHEN r.result_condition = 1
                       OR lower(rc.result_condition)
                          LIKE 'below detection%' THEN 'less_than'
                  WHEN r.result_condition = 2
                       OR lower(rc.result_condition)
                          LIKE 'above detection%' THEN 'greater_than'
                  ELSE 'none' END AS result_value_relation
      FROM res r
      LEFT JOIN conds rc
        ON rc.result_condition_id = r.result_condition
    ),
    star AS (
      SELECT rr.result_id, rr.sample_id, rr.result_value,
             rr.result_value_relation,
             g.guideline_id, g.guideline_code,
             g.comparison_operator_code,
             pub.publisher_name, pu.units, pm.parameter_name,
             ms.matrix_state_code
      FROM rres rr
      JOIN gl g ON g.parameter_id = rr.parameter_id
               AND g.matrix_state_id = rr.matrix_state_id
      LEFT JOIN ml ON ml.guideline_id = g.guideline_id
      LEFT JOIN fl ON fl.guideline_id = g.guideline_id
      LEFT JOIN ll ON ll.guideline_id = g.guideline_id
      LEFT JOIN pubs pub ON pub.publisher_id = g.publisher_id
      LEFT JOIN punits pu ON pu.parameter_id = rr.parameter_id
                         AND pu.matrix_state_id = rr.matrix_state_id
      LEFT JOIN params pm ON pm.parameter_id = rr.parameter_id
      LEFT JOIN mstates ms ON ms.matrix_state_id = rr.matrix_state_id
      WHERE DATE '2024-06-15' >= g.valid_from
        AND (g.valid_to IS NULL OR DATE '2024-06-15' <= g.valid_to)
        AND {approval}
        AND (g.result_speciation_id IS NULL
             OR g.result_speciation_id IS NOT DISTINCT FROM
                rr.result_speciation_id)
        AND (ml.mlist IS NULL
             OR list_contains(ml.mlist, rr.media_id))
        AND (fl.flist IS NULL
             OR list_contains(fl.flist,
                              coalesce(rr.sample_fraction_id, -1)))
        AND (ll.llist IS NULL
             OR list_contains(ll.llist, rr.location_id))
    ),
    rulerows AS (
      SELECT s.*, e.rule_id, e.bound_code, e.guideline_value,
             e.output_status, e.algorithm_code, e.input_value,
             CASE
               WHEN e.output_status <> 'value' THEN e.output_status
               WHEN s.result_value IS NULL THEN 'no_numeric_result'
               WHEN s.result_value_relation = 'less_than'
                    AND e.bound_code = 'upper'
                    AND s.result_value <= e.guideline_value THEN 'meets'
               WHEN s.result_value_relation = 'less_than'
                 THEN 'censored_indeterminate'
               WHEN s.result_value_relation = 'greater_than'
                    AND e.bound_code = 'upper'
                    AND s.result_value > e.guideline_value THEN 'exceeds'
               WHEN s.result_value_relation = 'greater_than'
                    AND e.bound_code = 'lower'
                    AND s.result_value >= e.guideline_value THEN 'meets'
               WHEN s.result_value_relation = 'greater_than'
                 THEN 'censored_indeterminate'
               WHEN e.bound_code = 'upper'
                    AND s.result_value <= e.guideline_value THEN 'meets'
               WHEN e.bound_code = 'upper' THEN 'exceeds'
               WHEN e.bound_code = 'lower'
                    AND s.result_value >= e.guideline_value THEN 'meets'
               WHEN e.bound_code = 'lower' THEN 'below'
               ELSE 'not_evaluated'
             END AS comparison_status,
             {_APPLIC_DERIV_SQL} AS derivation_inputs
      FROM star s
      JOIN ev e ON e.guideline_id = s.guideline_id
               AND e.sample_id = s.sample_id
    )
"""


_APPLIC_RULES_ORACLE = _applic_cte(include_unapproved=True) + f"""
    SELECT result_id, sample_id, guideline_id, rule_id, guideline_code,
           publisher_name, parameter_name, matrix_state_code, units,
           bound_code, comparison_operator_code,
           {R('result_value', 6)} AS result_value,
           result_value_relation,
           {R('guideline_value', 6)} AS guideline_value,
           output_status, comparison_status, derivation_inputs
    FROM rulerows
"""


_APPLIC_READ_ORACLE = _applic_cte(include_unapproved=False) + f"""
    , grouped AS (
      SELECT result_id, sample_id, guideline_id, guideline_code,
             publisher_name, units, comparison_operator_code,
             result_value, result_value_relation,
             max(guideline_value) FILTER (
               WHERE bound_code = 'lower' AND output_status = 'value'
             ) AS lower_guideline_value,
             max(guideline_value) FILTER (
               WHERE bound_code = 'upper' AND output_status = 'value'
             ) AS upper_guideline_value,
             bool_and(output_status = 'value') AS all_resolved,
             string_agg(DISTINCT output_status, ', '
                        ORDER BY output_status)
               FILTER (WHERE output_status <> 'value')
               AS unresolved_statuses,
             '[' || string_agg(
               '{{"rule_id":' || rule_id || ',"bound":"' || bound_code
               || '","inputs":' || derivation_inputs || '}}',
               ',' ORDER BY rule_id) || ']' AS derivation_inputs
      FROM rulerows
      GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9
    )
    SELECT result_id, sample_id, guideline_id, guideline_code,
           publisher_name, units, comparison_operator_code,
           {R('result_value', 6)} AS result_value,
           result_value_relation,
           {R('lower_guideline_value', 6)} AS lower_guideline_value,
           {R('upper_guideline_value', 6)} AS upper_guideline_value,
           CASE WHEN all_resolved THEN 'value'
                ELSE unresolved_statuses END AS output_status,
           CASE
             WHEN NOT all_resolved THEN unresolved_statuses
             WHEN result_value IS NULL THEN 'no_numeric_result'
             WHEN result_value_relation = 'less_than'
                  AND comparison_operator_code = 'lte'
                  AND result_value <= upper_guideline_value THEN 'meets'
             WHEN result_value_relation = 'less_than'
               THEN 'censored_indeterminate'
             WHEN result_value_relation = 'greater_than'
                  AND comparison_operator_code = 'lte'
                  AND result_value > upper_guideline_value THEN 'exceeds'
             WHEN result_value_relation = 'greater_than'
                  AND comparison_operator_code = 'gte'
                  AND result_value >= lower_guideline_value THEN 'meets'
             WHEN result_value_relation = 'greater_than'
                  AND comparison_operator_code = 'range'
                  AND result_value > upper_guideline_value THEN 'exceeds'
             WHEN result_value_relation = 'greater_than'
               THEN 'censored_indeterminate'
             WHEN comparison_operator_code = 'lte'
                  AND result_value <= upper_guideline_value THEN 'meets'
             WHEN comparison_operator_code = 'lte' THEN 'exceeds'
             WHEN comparison_operator_code = 'gte'
                  AND result_value >= lower_guideline_value THEN 'meets'
             WHEN comparison_operator_code = 'gte' THEN 'below'
             WHEN comparison_operator_code = 'range'
                  AND result_value >= lower_guideline_value
                  AND result_value <= upper_guideline_value THEN 'meets'
             WHEN comparison_operator_code = 'range'
                  AND result_value < lower_guideline_value THEN 'below'
             WHEN comparison_operator_code = 'range'
                  AND result_value > upper_guideline_value THEN 'exceeds'
             WHEN comparison_operator_code = 'eq'
                  AND (lower_guideline_value IS NULL
                       OR upper_guideline_value IS NULL
                       OR lower_guideline_value <> upper_guideline_value)
               THEN 'invalid_guideline_bounds'
             WHEN comparison_operator_code = 'eq'
                  AND result_value = upper_guideline_value THEN 'meets'
             WHEN comparison_operator_code = 'eq' THEN 'does_not_equal'
             ELSE 'not_evaluated'
           END AS comparison_status,
           derivation_inputs
    FROM grouped
"""


def _applicability_frames(spark: SparkSession, sf_dir: str):
    import datetime as _dt

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    results = o.select(
        k.alias("result_id"),
        (F.col("o_custkey") % 120).alias("sample_id"),
        (F.lit(7) + k % 3).alias("parameter_id"),
        (k % 2 + 1).alias("matrix_state_id"),
        F.when(k % 11 != 0, k % 3 + 1).alias("sample_fraction_id"),
        F.when(k % 5 != 0, k % 4 + 1).alias("result_speciation_id"),
        F.when(k % 4 == 0, "field").when(k % 4 == 1, "lab")
        .when(k % 4 == 2, "other").alias("result_type"),
        F.when((k % 19 != 0) & (k % 23 != 0),
               (k % 400) * 0.25 + 0.25).alias("result"),
        F.when(k % 19 == 0, F.expr("o_orderkey DIV 19") % 5 + 1)
        .alias("result_condition"),
        F.when(k % 19 == 0, (k % 50) * 0.25 + 0.25)
        .alias("result_condition_value"),
    )
    conditions = _ldf(spark, [
        (1, "Below Detection Limit"), (2, "Above Detection Limit"),
        (3, "below detection (estimated)"),
        (4, "above detection (estimated)"), (5, "not analyzed"),
    ], "result_condition_id int, result_condition string")
    inputs = _ldf(spark, [
        (1, 7, None, None, None, None, ["field", "lab"], True, "avg",
         1.0, 30.0, "clamp"),
        (2, 8, 1, None, None, None, None, False, "single",
         0.5, 35.0, "reject"),
        (3, 9, None, None, None, "field", None, False, "max",
         None, None, "warn"),
    ],
        "input_id int, parameter_id int, matrix_state_id int,"
        " sample_fraction_id int, result_speciation_id int,"
        " result_type string, result_type_preference array<string>,"
        " allow_condition_value boolean, aggregate_method string,"
        " lower_calibrated_bound double, upper_calibrated_bound double,"
        " bounds_action string")
    rules = _ldf(spark, [
        (1, 1, "upper", 1, "constant", 25.456, None, None, None, None,
         None, None, 1, "round"),
        (2, 1, "lower", 2, "narrative", None, None, None, None, None,
         None, None, None, None),
        (3, 2, "upper", 1, "linear", None, 1, 2.0, 0.3, None, 5.0,
         40.0, 1, "floor"),
        (4, 2, "upper", 2, "log_linear", None, 2, 0.7, 0.74, None,
         None, None, 3, "round"),
        (5, 3, "lower", 1, "constant", 18.0, None, None, None, None,
         None, None, None, "none"),
        (6, 4, "lower", 1, "constant", 5.0, None, None, None, None,
         None, None, None, "none"),
        (7, 4, "upper", 2, "constant", 30.0, None, None, None, None,
         None, None, None, "none"),
        (8, 5, "lower", 1, "constant", 12.25, None, None, None, None,
         None, None, None, "none"),
        (9, 5, "upper", 2, "constant", 12.25, None, None, None, None,
         None, None, None, "none"),
        (10, 6, "lower", 1, "constant", 3.0, None, None, None, None,
         None, None, None, "none"),
        (11, 6, "upper", 2, "constant", 4.0, None, None, None, None,
         None, None, None, "none"),
        (12, 7, "upper", 1, "constant", 50.0, None, None, None, None,
         None, None, None, "none"),
        (13, 8, "upper", 1, "constant", 80.0, None, None, None, None,
         None, None, None, "none"),
        (14, 9, "upper", 1, "constant", 10.0, None, None, None, None,
         None, None, None, "none"),
        (15, 10, "upper", 1, "constant", 60.0, None, None, None, None,
         None, None, None, "none"),
        (16, 11, "upper", 1, "constant", 70.0, None, None, None, None,
         None, None, None, "none"),
        (17, 12, "lower", 1, "constant", 2.0, None, None, None, None,
         None, None, None, "none"),
        (18, 13, "upper", 1, "constant", 90.0, None, None, None, None,
         None, None, None, "none"),
    ],
        "rule_id int, guideline_id int, bound_code string,"
        " rule_priority int, algorithm_code string, fixed_value double,"
        " input_id int, intercept double, slope double,"
        " formula_expr string, min_output_value double,"
        " max_output_value double, rounding_digits int,"
        " rounding_method string")
    d = _dt.date
    guidelines = _ldf(spark, [
        (1, "G-CONST", "Constant upper", 1, 7, 1, "lte", None,
         d(2019, 1, 1), None, True, "approved"),
        (2, "G-LIN", "Hardness-linear", 1, 8, 1, "lte", None,
         d(2019, 1, 1), None, True, "approved"),
        (3, "G-LOW", "Lower bound", 2, 9, 2, "gte", None,
         d(2019, 1, 1), None, True, "approved"),
        (4, "G-RANGE", "Range", 2, 7, 1, "range", None,
         d(2019, 1, 1), None, True, "approved"),
        (5, "G-EQ", "Equality", 1, 7, 1, "eq", None,
         d(2019, 1, 1), None, True, "approved"),
        (6, "G-EQBAD", "Equality bad bounds", 1, 8, 2, "eq", None,
         d(2019, 1, 1), None, True, "approved"),
        (7, "G-INACT", "Inactive", 2, 9, 1, "lte", None,
         d(2019, 1, 1), None, False, "approved"),
        (8, "G-DRAFT", "Draft", 1, 7, 1, "lte", None,
         d(2019, 1, 1), None, True, "draft"),
        (9, "G-EXPIRED", "Expired", 1, 7, 2, "lte", None,
         d(2015, 1, 1), d(2020, 12, 31), True, "approved"),
        (10, "G-SPEC", "Speciation-specific", 2, 7, 1, "lte", 2,
         d(2019, 1, 1), None, True, "approved"),
        (11, "G-MEDIA", "Media-restricted", 1, 8, 1, "lte", None,
         d(2019, 1, 1), None, True, "approved"),
        (12, "G-FRAC", "Fraction-restricted", 2, 9, 1, "gte", None,
         d(2019, 1, 1), None, True, "approved"),
        (13, "G-LOC", "Location-restricted", 1, 7, 1, "lte", None,
         d(2019, 1, 1), None, True, "approved"),
    ],
        "guideline_id int, guideline_code string, guideline_name string,"
        " publisher_id int, parameter_id int, matrix_state_id int,"
        " comparison_operator_code string, result_speciation_id int,"
        " valid_from date, valid_to date, active boolean,"
        " review_status string")
    media = _ldf(spark, [(11, 1), (11, 3)],
                 "guideline_id int, media_id bigint")
    fracs = _ldf(spark, [(12, 1), (12, None)],
                 "guideline_id int, fraction_id bigint")
    locs = _ldf(spark, [(13, 0, True), (13, 1, True), (13, 2, True),
                        (13, 3, True), (13, 5, False)],
                "guideline_id int, location_id bigint, active boolean")
    pubs = _ldf(spark, [(1, "CCME"), (2, "Yukon CSR")],
                "publisher_id int, publisher_name string")
    punits = _ldf(spark, [(7, 1, "mg/L"), (7, 2, "ug/L"), (8, 1, "mg/L"),
                          (8, 2, "mg/L"), (9, 1, "pH units"),
                          (9, 2, "pH units")],
                  "parameter_id int, matrix_state_id int, units string")
    params = _ldf(spark, [(7, "Zinc"), (8, "Copper"), (9, "pH")],
                  "parameter_id int, parameter_name string")
    mstates = _ldf(spark, [(1, "W"), (2, "S")],
                   "matrix_state_id int, matrix_state_code string")
    return (results, conditions, inputs, rules, guidelines, media,
            fracs, locs, pubs, punits, params, mstates)


def _applicability_rule_rows(spark: SparkSession, sf_dir: str,
                             include_unapproved: bool) -> DataFrame:
    from ..operators.guidelines import (
        applicable_guideline_rules_for_results, evaluate_guideline_rules,
        guideline_input_values, resolve_result_values,
    )

    (results, conditions, inputs, rules, guidelines, media, fracs,
     locs, pubs, punits, params, mstates) = _applicability_frames(
        spark, sf_dir)
    resolved = (
        resolve_result_values(results, conditions)
        # the sample star: location/media are functionally dependent on
        # sample_id in this fixture (the reference joins discrete.samples)
        .withColumn("location_id", F.col("sample_id") % 8)
        .withColumn("media_id", F.col("sample_id") % 3 + 1)
        .join(F.broadcast(punits), ["parameter_id", "matrix_state_id"],
              "left")
        .join(F.broadcast(params), "parameter_id", "left")
        .join(F.broadcast(mstates), "matrix_state_id", "left")
    )
    samples = results.select("sample_id").distinct()
    iv = guideline_input_values(samples, results, inputs)
    ev = evaluate_guideline_rules(rules, iv, samples=samples)
    g = guidelines.join(F.broadcast(pubs), "publisher_id", "left")
    return applicable_guideline_rules_for_results(
        resolved, g, ev, media_types=media, fractions=fracs,
        locations=locs, as_of_date="2024-06-15",
        include_unresolved=True, include_unapproved=include_unapproved)


@register("guideline_applicability_rules", oracle=_APPLIC_RULES_ORACLE)
def guideline_applicability_rules(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """criteria.applicable_guideline_rules_for_result
    (patch_51.R:2907-3145) for every result at once, rule grain:
    the result→sample applicability star (validity window, approval —
    include_unapproved=TRUE here so the active/review_status arms are
    visible at rule grain — speciation, media/fraction/location link
    filters), the detection-limit result_value/relation COALESCE
    ladder (:2966-2990), the evaluation core, and the rule-level
    comparison_status matrix (:3025-3040)."""
    rows = _applicability_rule_rows(spark, sf_dir,
                                    include_unapproved=True)
    out = rows.select(
        "result_id", "sample_id", "guideline_id", "rule_id",
        "guideline_code", "publisher_name", "parameter_name",
        "matrix_state_code", "units", "bound_code",
        "comparison_operator_code", "result_value",
        "result_value_relation", "guideline_value", "output_status",
        "comparison_status", "derivation_inputs")
    return _round(out, {"result_value": 6, "guideline_value": 6})


@register("guideline_applicability_read", oracle=_APPLIC_READ_ORACLE)
def guideline_applicability_read(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """criteria.applicable_guidelines_for_result (patch_51.R:3162-3400),
    guideline grain: the rule rows rolled up per (result, guideline) —
    lower/upper ``max() FILTER`` bounds, bool_and resolution, the
    sorted-distinct unresolved-status list, the rule_id-ordered
    derivation-inputs JSON array — then the operator-keyed
    comparison_status ladder (lte/gte/range/eq with censored-relation
    arms, invalid_guideline_bounds, does_not_equal; :3212-3330).
    Default approval filter (include_unapproved=FALSE), so the
    inactive/draft/expired guidelines are absent from this view."""
    from ..operators.guidelines import applicable_guidelines_for_results

    rows = _applicability_rule_rows(spark, sf_dir,
                                    include_unapproved=False)
    rolled = applicable_guidelines_for_results(
        rows,
        group_cols=("result_id", "sample_id", "guideline_id"),
        carry_cols=("guideline_code", "publisher_name", "units",
                    "comparison_operator_code", "result_value",
                    "result_value_relation"))
    out = rolled.select(
        "result_id", "sample_id", "guideline_id", "guideline_code",
        "publisher_name", "units", "comparison_operator_code",
        "result_value", "result_value_relation",
        "lower_guideline_value", "upper_guideline_value",
        "output_status", "comparison_status", "derivation_inputs")
    return _round(out, {"result_value": 6, "lower_guideline_value": 6,
                        "upper_guideline_value": 6})


# ---------------------------------------------------------------------------
# Regional GEV growth curve (H&W 1997 ch. 6 / A.55): second
# distribution family for the index-flood method. The lnGamma(1+k)
# Horner text below is generated from the SAME coefficient list the
# operator uses, so both engines evaluate identical literals.
# ---------------------------------------------------------------------------

def _gev_horner_sql(kexpr: str) -> str:
    from ..operators.trend import _GEV_LNG_COEFS

    acc = repr(_GEV_LNG_COEFS[-1])
    for c in reversed(_GEV_LNG_COEFS[:-1]):
        acc = f"({c!r} + {kexpr} * {acc})"
    return f"({kexpr} * {acc})"


_GEV_Q_SQL = {
    # c_F = ln(-ln F) and the Gumbel-limit K_T = -c_F, as double
    # literals (repr round-trips exactly into both engines)
    "q10": (repr(-2.2503673273124454), repr(2.2503673273124454)),
    "q100": (repr(-4.600149226776579), repr(4.600149226776579)),
}

_RFF_GEV_ORACLE = "WITH " + _RFF_BASE_SQL + f"""
    , gev AS (
      SELECT s.region, s.site, s.n, s.s0, r.t_r, r.t3_r,
             k1.k AS k_gev, a1.alpha, x1.xi
      FROM sites s JOIN reg r ON r.region = s.region,
      LATERAL (SELECT 2.0 / (3.0 + r.t3_r) - 0.6309297535714574 AS z) z1,
      LATERAL (SELECT 7.859 * z1.z + 2.9554 * z1.z * z1.z AS k) k1,
      LATERAL (SELECT CASE
                 WHEN k1.k > 0.5
                   THEN k1.k * exp({_gev_horner_sql('(k1.k - 1)')})
                 WHEN k1.k < -0.5
                   THEN exp({_gev_horner_sql('(k1.k + 1)')})
                        / (1.0 + k1.k)
                 ELSE exp({_gev_horner_sql('k1.k')})
               END AS g1) g2,
      LATERAL (SELECT CASE WHEN abs(k1.k) < 1e-12
                    THEN r.t_r * 1.4426950408889634
                    ELSE r.t_r * k1.k
                         / ((1.0 - exp(-(k1.k) * 0.6931471805599453))
                            * g2.g1) END AS alpha) a1,
      LATERAL (SELECT CASE WHEN abs(k1.k) < 1e-12
                    THEN 1.0 - 0.5772156649015329 * a1.alpha
                    ELSE 1.0 - a1.alpha * (1.0 - g2.g1) / k1.k
               END AS xi) x1
    )
    SELECT region, site, n AS n_years,
           floor(((CAST(s0 AS DOUBLE) / n) / 100.0) * 1000000 + 0.5)
             / 1000000 AS index_flood,
           floor(t_r * 1000000 + 0.5) / 1000000 AS t_r,
           floor(t3_r * 1000000 + 0.5) / 1000000 AS t3_r,
           floor(k_gev * 1000000 + 0.5) / 1000000 AS k_gev,
           CASE WHEN k_gev > -0.9 AND k_gev <= 1.5 THEN
             floor((((CAST(s0 AS DOUBLE) / n) / 100.0)
                    * (CASE WHEN abs(k_gev) < 1e-12
                       THEN xi + alpha * {_GEV_Q_SQL['q10'][1]}
                       ELSE xi + alpha
                            * (1.0 - exp(k_gev * {_GEV_Q_SQL['q10'][0]}))
                            / k_gev END))
                   * 1000000 + 0.5) / 1000000 END AS q10,
           CASE WHEN k_gev > -0.9 AND k_gev <= 1.5 THEN
             floor((((CAST(s0 AS DOUBLE) / n) / 100.0)
                    * (CASE WHEN abs(k_gev) < 1e-12
                       THEN xi + alpha * {_GEV_Q_SQL['q100'][1]}
                       ELSE xi + alpha
                            * (1.0 - exp(k_gev * {_GEV_Q_SQL['q100'][0]}))
                            / k_gev END))
                   * 1000000 + 0.5) / 1000000 END AS q100
    FROM gev
"""


@register("regional_index_flood_gev", oracle=_RFF_GEV_ORACLE)
def regional_index_flood_gev_q(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Index-flood site quantiles under the regional GEV growth curve
    (H&W 1997 A.55 closed-form shape from t3_R; Gamma(1+k) via the
    mirrored truncated-series Horner text) — the second distribution
    family beside regional_index_flood's Gumbel."""
    from ..operators.trend import regional_index_flood_gev

    out = regional_index_flood_gev(_rff_annual(spark, sf_dir))
    return _round(out, {"index_flood": 6, "t_r": 6, "t3_r": 6,
                        "k_gev": 6, "q10": 6, "q100": 6})


# ---------------------------------------------------------------------------
# Write-side rule validation (criteria.validate_guideline_value_rule,
# patch_55.R:849-1060) — the batch ladder over a scaled rulebook.  One
# literal arm table drives BOTH engines (each structural/scan arm of
# the trigger fires at every sf); rule rows scale with orders so the
# validation pass itself is fact-sized, the arm table a broadcast.
# ---------------------------------------------------------------------------

_RULE_ARMS = [
    # (arm, algorithm_code, bound_code, fixed_value, formula_sql)
    (0, "narrative", None, None, None),                      # ok
    (1, "narrative", "upper", None, None),                   # narrative_bound_code
    (2, "constant", "upper", 0.5, None),                     # ok
    (3, "constant", "bad", 0.5, None),                       # bad_bound_code
    (4, "constant", "lower", None, None),                    # missing_fixed_value
    (5, "linear", "upper", 1.0, None),                       # unexpected_fixed_value
    (6, "sql_scalar", "upper", None, None),                  # missing_formula_sql
    (7, "sql_scalar", "lower", None, "   "),                 # missing_formula_sql
    (8, "sql_scalar", "upper", None,
     "SELECT 1; DROP TABLE criteria.guidelines"),            # semicolon
    (9, "sql_scalar", "upper", None,
     "UPDATE criteria.guidelines SET active = false"),       # not_select
    (10, "sql_scalar", "upper", None,
     "SELECT $10 + coalesce($1, 0)"),  # bad_placeholder (multi-digit:
     # $10 slipped through the r12 pre-review \$[2-9][0-9]* pattern)
    (11, "sql_scalar", "upper", None,
     "WITH q AS (SELECT 1 AS v) INSERT INTO t SELECT v FROM q"),  # forbidden_command
    (12, "sql_scalar", "upper", None,
     "SELECT pg_sleep(10)"),                                 # forbidden_command (function arm)
    (13, "sql_scalar", "upper", None,
     "SELECT random() * $1"),                                # volatile_function
    (14, "sql_scalar", "upper", None,
     "SELECT lateral_lab.adjust($1)"),                       # bad_function_schema
    (15, "linear", "upper", None, "SELECT 1"),               # unexpected_formula_sql
    (16, "sql_scalar", "upper", None,
     "SELECT criteria.hardness_adjust($1) -- CCME Cd curve"),  # ok (comment stripped)
    (17, "sql_scalar", "lower", None,
     "SELECT CASE WHEN note = 'drop it; now' THEN 1.0 ELSE 2.0 END "
     "FROM criteria.notes"),                                 # ok (string stripped)
    (18, "sql_scalar", "upper", None,
     "SELECT length($tag$delete from x;$tag$) * 0.1"),       # ok (dollar-quote stripped)
    (19, "sql_scalar", "upper", None,
     "SELECT /* truncate; */ 2.5 * $1"),                     # ok (block comment stripped)
]


def _sql_str(v) -> str:
    if v is None:
        return "CAST(NULL AS VARCHAR)"
    return "'" + str(v).replace("'", "''") + "'"


def _rule_arms_values_sql() -> str:
    rows = []
    for arm, alg, bound, fixed, formula in _RULE_ARMS:
        fx = "CAST(NULL AS DOUBLE)" if fixed is None else repr(fixed)
        rows.append(f"({arm}, {_sql_str(alg)}, {_sql_str(bound)}, {fx},"
                    f" {_sql_str(formula)})")
    return ",\n      ".join(rows)


def _rule_violation_sql() -> str:
    """The rule_violation_column ladder as DuckDB SQL text, generated
    from the SAME pattern constants as the Spark side (operators/
    guidelines.py FORMULA_*) so a pattern edit cannot diverge."""
    from ..operators.guidelines import (
        ALLOWED_FUNCTION_SCHEMAS, FORMULA_BAD_PLACEHOLDER,
        FORMULA_FORBIDDEN, FORMULA_FUNCTION_CALL, FORMULA_SELECT_PREFIX,
        FORMULA_VOLATILE,
    )

    def q(pat: str) -> str:
        return "'" + pat.replace("'", "''") + "'"

    # the ladder reads the scanned CTE's `scan` column; the strip
    # chain that builds it lives ONLY in _rule_validation_oracle
    schemas = ", ".join(f"'{s}'" for s in sorted(ALLOWED_FUNCTION_SCHEMAS))
    bad_schema = (
        f"len(list_filter(regexp_extract_all(scan, "
        f"{q(FORMULA_FUNCTION_CALL)}, 1), "
        f"s -> s <> '' AND lower(s) NOT IN ({schemas}))) > 0"
    )
    return f"""
      SELECT rule_id, algorithm_code,
        CASE
          WHEN algorithm_code = 'narrative' AND bound_code IS NOT NULL
            THEN 'narrative_bound_code'
          WHEN algorithm_code <> 'narrative'
               AND (bound_code IS NULL
                    OR bound_code NOT IN ('lower', 'upper'))
            THEN 'bad_bound_code'
          WHEN algorithm_code = 'constant' AND fixed_value IS NULL
            THEN 'missing_fixed_value'
          WHEN algorithm_code <> 'constant' AND fixed_value IS NOT NULL
            THEN 'unexpected_fixed_value'
          WHEN algorithm_code = 'sql_scalar'
               AND (formula_sql IS NULL OR trim(formula_sql) = '')
            THEN 'missing_formula_sql'
          WHEN algorithm_code = 'sql_scalar' AND contains(scan, ';')
            THEN 'semicolon'
          WHEN algorithm_code = 'sql_scalar'
               AND NOT regexp_matches(scan, {q(FORMULA_SELECT_PREFIX)})
            THEN 'not_select'
          WHEN algorithm_code = 'sql_scalar'
               AND regexp_matches(scan, {q(FORMULA_BAD_PLACEHOLDER)})
            THEN 'bad_placeholder'
          WHEN algorithm_code = 'sql_scalar'
               AND regexp_matches(scan, {q(FORMULA_FORBIDDEN)})
            THEN 'forbidden_command'
          WHEN algorithm_code = 'sql_scalar' AND {bad_schema}
            THEN 'bad_function_schema'
          WHEN algorithm_code = 'sql_scalar'
               AND regexp_matches(scan, {q(FORMULA_VOLATILE)})
            THEN 'volatile_function'
          WHEN algorithm_code <> 'sql_scalar' AND formula_sql IS NOT NULL
            THEN 'unexpected_formula_sql'
          ELSE 'ok'
        END AS violation
      FROM scanned
    """


_RULE_VALIDATION_ORACLE = f"""
    WITH arms(arm, algorithm_code, bound_code, fixed_value,
              formula_sql) AS (
      VALUES {_rule_arms_values_sql()}
    ),
    rules AS (
      SELECT o_orderkey AS rule_id, a.*
      FROM orders JOIN arms a ON a.arm = o_orderkey % 20
    ),
    scanned AS (
      SELECT *, {{scan}} AS scan FROM rules
    )
    {{ladder}}
"""


def _rule_validation_oracle() -> str:
    from ..operators.guidelines import FORMULA_STRIP_PATTERNS

    scan = "formula_sql"
    for pat in FORMULA_STRIP_PATTERNS:
        esc = pat.replace("'", "''")
        scan = f"regexp_replace({scan}, '{esc}', '', 'g')"
    return _RULE_VALIDATION_ORACLE.format(
        scan=scan, ladder=_rule_violation_sql())


@register("guideline_rule_validation", oracle=_rule_validation_oracle())
def guideline_rule_validation_q(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Batch write-side validation of a fact-sized rulebook
    (criteria.validate_guideline_value_rule, patch_55.R:849-1060):
    the 20-arm literal table (every trigger arm, violating and clean)
    fans out over orders by key mod, and the whole ladder — structural
    checks plus the comment/string-stripped formula scan — runs as one
    broadcast-joined when() chain, no shuffle after the join."""
    from ..operators.guidelines import rule_violation_column

    arms = _ldf(spark, _RULE_ARMS,
                "arm int, algorithm_code string, bound_code string,"
                " fixed_value double, formula_sql string")
    # r12 (guide §1.2: don't recompute per fact row what is a function
    # of the dimension): every input of the regex ladder comes from
    # the 20-arm literal table, so evaluate the ladder ONCE PER ARM on
    # the broadcast side and fan the precomputed code out over orders
    # — the when()-chain of ~10 regexes ran per orders row before
    # (measured the dominant cost of this query's 2.4s; the join
    # itself is unchanged, output bit-identical).
    arms_v = arms.select(
        "arm", "algorithm_code",
        rule_violation_column(
            F.col("algorithm_code"), F.col("bound_code"),
            F.col("fixed_value"), F.col("formula_sql"),
        ).alias("violation"),
    )
    o = _t(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").alias("rule_id"),
        (F.col("o_orderkey") % 20).cast("int").alias("arm"),
    ).join(F.broadcast(arms_v), "arm").select(
        "rule_id", "algorithm_code", "violation")


# ---------------------------------------------------------------------------
# Point-in-time applicability (VERDICT r11 #6): the applicability star
# over the RULE BOOK AS IT STOOD at as_of — audit.rows_as_of
# (patch_55.R:2336-2420) composed with
# applicable_guideline_rules_for_result (patch_51.R:2907-3145), the
# reference's audit-everything posture applied to the criteria tier.
# One literal log table drives both engines: an update superseding a
# rule's constant, a first-of-two update chain (first post-as_of
# change wins), a post-as_of insert (absent at as_of), and a
# post-as_of delete (resurrected at as_of).
# ---------------------------------------------------------------------------

_RULE_AUDIT_FIELDS = (
    "guideline_id", "bound_code", "rule_priority", "algorithm_code",
    "fixed_value", "input_id", "intercept", "slope",
    "min_output_value", "max_output_value", "rounding_digits",
    "rounding_method",
)
_RULE_AUDIT_AS_OF = "2024-06-15 00:00:00"
# (log_id, action_timestamp, orig_row_id,
#  orig fields in _RULE_AUDIT_FIELDS order (None tuple = insert),
#  new_row_id, row_created)
_RULE_AUDIT_LOG = [
    # rule 1 superseded after as_of: constant was 20.0 at as_of
    (1, "2024-07-01 10:00:00", 1,
     (1, "upper", 1, "constant", 20.0, None, None, None, None, None,
      1, "round"), 1, "2020-01-01 00:00:00"),
    # rule 3 changed twice post-as_of; the FIRST change's originals
    # (slope 0.25) are the as_of state, the later log row must lose
    (2, "2024-09-01 09:00:00", 3,
     (2, "upper", 1, "linear", None, 1, 2.0, 0.3, 5.0, 40.0,
      1, "floor"), 3, "2020-01-01 00:00:00"),
    (3, "2024-07-05 08:00:00", 3,
     (2, "upper", 1, "linear", None, 1, 2.0, 0.25, 5.0, 40.0,
      1, "floor"), 3, "2020-01-01 00:00:00"),
    # rule 18 inserted post-as_of: absent from the snapshot
    (4, "2024-08-01 12:00:00", None,
     (None,) * 12, 18, "2024-08-01 12:00:00"),
    # rule 19 deleted post-as_of: resurrected in the snapshot
    (5, "2024-07-15 16:00:00", 19,
     (13, "lower", 2, "constant", 1.5, None, None, None, None, None,
      None, "none"), None, "2020-01-01 00:00:00"),
]


def _rule_audit_log_values_sql() -> str:
    rows = []
    for log_id, ts, orig_id, fields, new_id, created in _RULE_AUDIT_LOG:
        def lit(v):
            if v is None:
                return "NULL"
            if isinstance(v, str):
                return "'" + v.replace("'", "''") + "'"
            return repr(v)
        cells = [str(log_id), f"TIMESTAMP '{ts}'", lit(orig_id)]
        cells += [lit(v) for v in fields]
        cells += [lit(new_id), f"TIMESTAMP '{created}'"]
        rows.append("(" + ", ".join(cells) + ")")
    return ",\n        ".join(rows)


def _rules_as_of_cte() -> str:
    """rules_current (the standard 18-rule VALUES) + the audit log
    reconstructed to a `rules` CTE with audit.rows_as_of semantics
    (operators/audit.py:35): first post-as_of change's originals win;
    current row otherwise; rows created after as_of drop."""
    fields = _RULE_AUDIT_FIELDS
    current = _APPLIC_RULES_CTE.replace("    rules(rule_id,",
                                        "    rules_current(rule_id,", 1)
    log_cols = ", ".join(f"orig_{c}" for c in fields)
    picks = ",\n             ".join(
        f"CASE WHEN f.__key IS NOT NULL THEN f.orig_{c}"
        f" ELSE c.{c} END AS {c}" for c in fields)
    return current + f"""    rules_log(log_id, action_timestamp, orig_row_id, {log_cols},
              new_row_id, row_created) AS (
      VALUES
        {_rule_audit_log_values_sql()}
    ),
    rules_fut AS (
      SELECT *, coalesce(orig_row_id, new_row_id) AS __key
      FROM rules_log
      WHERE action_timestamp > TIMESTAMP '{_RULE_AUDIT_AS_OF}'
    ),
    rules_first AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY __key ORDER BY action_timestamp, log_id) AS __rn
        FROM rules_fut) WHERE __rn = 1
    ),
    rules AS (
      SELECT coalesce(f.__key, c.rule_id) AS rule_id,
             {picks}
      FROM rules_current c
      FULL OUTER JOIN rules_first f ON c.rule_id = f.__key
      WHERE (CASE WHEN f.__key IS NOT NULL THEN f.row_created
                  ELSE TIMESTAMP '2020-01-01 00:00:00' END)
            <= TIMESTAMP '{_RULE_AUDIT_AS_OF}'
    ),
"""


_APPLIC_AT_ORACLE = _applic_cte(
    include_unapproved=True, rules_cte=_rules_as_of_cte()) + f"""
    SELECT result_id, sample_id, guideline_id, rule_id, guideline_code,
           bound_code, comparison_operator_code,
           {R('result_value', 6)} AS result_value,
           result_value_relation,
           {R('guideline_value', 6)} AS guideline_value,
           output_status, comparison_status
    FROM rulerows
"""


@register("guideline_applicability_at", oracle=_APPLIC_AT_ORACLE)
def guideline_applicability_at(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Time-travel applicability: reconstruct guideline_value_rules at
    as_of with audit.rows_as_of (operators/audit.py:35; reference
    audit.*_as_of, patch_55.R:2336-2420), then run the same
    applicability star + evaluation core + rule-grain comparison
    ladder as guideline_applicability_rules. The snapshot is a
    catalog-sized driver-side reconstruction (broadcast, no extra
    shuffle against the results fact); exercised arms: superseded
    constant (rule 1), first-of-two update chain (rule 3), post-as_of
    insert dropped (rule 18), post-as_of delete resurrected (rule
    19)."""
    import datetime as _dt

    from ..operators.audit import rows_as_of
    from ..operators.guidelines import (
        applicable_guideline_rules_for_results, evaluate_guideline_rules,
        guideline_input_values, resolve_result_values,
    )

    (results, conditions, inputs, rules, guidelines, media, fracs,
     locs, pubs, punits, params, mstates) = _applicability_frames(
        spark, sf_dir)
    fields = _RULE_AUDIT_FIELDS
    current = (rules.withColumnRenamed("rule_id", "row_id")
               .withColumn("row_created",
                           F.lit("2020-01-01 00:00:00").cast("timestamp")))
    log_rows = []
    for log_id, ts, orig_id, fvals, new_id, created in _RULE_AUDIT_LOG:
        log_rows.append((log_id, _dt.datetime.fromisoformat(ts), orig_id)
                        + tuple(fvals)
                        + (new_id, _dt.datetime.fromisoformat(created)))
    field_schema = (
        "orig_guideline_id int, orig_bound_code string,"
        " orig_rule_priority int, orig_algorithm_code string,"
        " orig_fixed_value double, orig_input_id int,"
        " orig_intercept double, orig_slope double,"
        " orig_min_output_value double, orig_max_output_value double,"
        " orig_rounding_digits int, orig_rounding_method string")
    log = _ldf(spark, log_rows,
               "log_id int, action_timestamp timestamp, orig_row_id int, "
               + field_schema + ", new_row_id int, row_created timestamp")
    rules_at = (rows_as_of(current, log, _RULE_AUDIT_AS_OF,
                           field_cols=fields)
                .withColumnRenamed("row_id", "rule_id")
                # formula_expr is not audited in this fixture (always
                # NULL); evaluate_guideline_rules expects the column
                .withColumn("formula_expr", F.lit(None).cast("string")))

    resolved = (
        resolve_result_values(results, conditions)
        .withColumn("location_id", F.col("sample_id") % 8)
        .withColumn("media_id", F.col("sample_id") % 3 + 1)
    )
    samples = results.select("sample_id").distinct()
    iv = guideline_input_values(samples, results, inputs)
    ev = evaluate_guideline_rules(rules_at, iv, samples=samples)
    g = guidelines.join(F.broadcast(pubs), "publisher_id", "left")
    rows = applicable_guideline_rules_for_results(
        resolved, g, ev, media_types=media, fractions=fracs,
        locations=locs, as_of_date="2024-06-15",
        include_unresolved=True, include_unapproved=True)
    out = rows.select(
        "result_id", "sample_id", "guideline_id", "rule_id",
        "guideline_code", "bound_code", "comparison_operator_code",
        "result_value", "result_value_relation", "guideline_value",
        "output_status", "comparison_status")
    return _round(out, {"result_value": 6, "guideline_value": 6})


# ---------------------------------------------------------------------------
# Regional GEV uncertainty (H&W 1997 ch. 6 simulation machinery;
# VERDICT r11 #8): the md5 uniform driver + mirrored GEV inverse-CDF
# make the per-sim refits cross-engine exact (integer-quantized draws
# and growth factors; rank-selected bounds, never interpolated).
# ---------------------------------------------------------------------------

def _gev_fit_laterals(t_r: str, t3_r: str) -> str:
    """The z -> k -> Gamma(1+k) -> alpha -> xi LATERAL chain over the
    given ratio expressions — same text as the regional_index_flood_gev
    oracle, shared by the point fit and the per-sim refits."""
    return f"""
      LATERAL (SELECT 2.0 / (3.0 + {t3_r}) - 0.6309297535714574 AS z) z1,
      LATERAL (SELECT 7.859 * z1.z + 2.9554 * z1.z * z1.z AS k) k1,
      LATERAL (SELECT CASE
                 WHEN k1.k > 0.5
                   THEN k1.k * exp({_gev_horner_sql('(k1.k - 1)')})
                 WHEN k1.k < -0.5
                   THEN exp({_gev_horner_sql('(k1.k + 1)')})
                        / (1.0 + k1.k)
                 ELSE exp({_gev_horner_sql('k1.k')})
               END AS g1) g2,
      LATERAL (SELECT CASE WHEN abs(k1.k) < 1e-12
                    THEN {t_r} * 1.4426950408889634
                    ELSE {t_r} * k1.k
                         / ((1.0 - exp(-(k1.k) * 0.6931471805599453))
                            * g2.g1) END AS alpha) a1,
      LATERAL (SELECT CASE WHEN abs(k1.k) < 1e-12
                    THEN 1.0 - 0.5772156649015329 * a1.alpha
                    ELSE 1.0 - a1.alpha * (1.0 - g2.g1) / k1.k
               END AS xi) x1"""


_GEVU_CF = repr(-4.600149226776579)      # c_F for F = 0.99
_GEVU_KT = repr(4.600149226776579)       # Gumbel-limit -c_F

_RFF_GEV_UNC_ORACLE = "WITH " + _RFF_BASE_SQL + f"""
    , regfit AS (
      SELECT r.region, r.n_sites, r.t_r, r.t3_r, k1.k AS k_gev,
             a1.alpha, x1.xi,
             CASE WHEN abs(k1.k) < 1e-12
                  THEN x1.xi + a1.alpha * {_GEVU_KT}
                  ELSE x1.xi + a1.alpha
                       * (1.0 - exp(k1.k * {_GEVU_CF})) / k1.k
             END AS growth_q
      FROM reg r,{_gev_fit_laterals('r.t_r', 'r.t3_r')}
    ), jj AS (
      SELECT a.region, a.site,
             row_number() OVER (PARTITION BY a.region, a.site
                                ORDER BY a.yr) AS j,
             dense_rank() OVER (PARTITION BY a.region
                                ORDER BY a.site) AS site_ord
      FROM annual a
      JOIN sites st ON st.region = a.region AND st.site = a.site
    ), grid AS (
      SELECT jj.region, jj.site, jj.site_ord, jj.j, s.sim
      FROM jj CROSS JOIN (SELECT unnest(range(1, 41)) AS sim) s
    ), draws AS (
      SELECT g.region, g.site, g.sim, g.j,
             CAST(floor(xx.x * 1000000000.0 + 0.5) AS BIGINT) AS xq
      FROM grid g JOIN regfit rf ON rf.region = g.region,
      LATERAL (SELECT (CAST(CAST('0x' || substr(md5('gevu|'
                 || CAST(g.sim * 1000003 + g.site_ord * 8191 + g.j
                         AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE)
                 + 0.5) / 1152921504606846976.0 AS u) uu,
      LATERAL (SELECT ln(-ln(uu.u)) AS y) yy,
      LATERAL (SELECT CASE WHEN abs(rf.k_gev) < 1e-12
                    THEN rf.xi + rf.alpha * (-yy.y)
                    ELSE rf.xi + rf.alpha
                         * (1.0 - exp(rf.k_gev * yy.y)) / rf.k_gev
               END AS x) xx
    ), srk AS (
      SELECT region, site, sim, xq,
             row_number() OVER (PARTITION BY region, sim, site
                                ORDER BY xq, j) AS i
      FROM draws
    ), spwm AS (
      SELECT region, sim, site, CAST(count(*) AS BIGINT) AS n,
             sum(xq) AS s0, sum((i - 1) * xq) AS s1,
             sum((i - 1) * (i - 2) * xq) AS s2
      FROM srk GROUP BY 1, 2, 3
    ), ssites AS (
      SELECT region, sim, site, n,
             CAST(floor(((2 * (CAST(s1 AS DOUBLE) / (n * (n - 1)))
                          - CAST(s0 AS DOUBLE) / n)
                         / (CAST(s0 AS DOUBLE) / n))
                        * 1000000000000 + 0.5) AS BIGINT) AS tq,
             CAST(floor(((6 * (CAST(s2 AS DOUBLE)
                               / (n * (n - 1) * (n - 2)))
                          - 6 * (CAST(s1 AS DOUBLE) / (n * (n - 1)))
                          + CAST(s0 AS DOUBLE) / n)
                         / (2 * (CAST(s1 AS DOUBLE) / (n * (n - 1)))
                            - CAST(s0 AS DOUBLE) / n))
                        * 1000000000000 + 0.5) AS BIGINT) AS t3q
      FROM spwm
    ), sreg AS (
      SELECT region, sim,
             (CAST(S_t AS DOUBLE) / n_tot) / 1000000000000.0 AS t_r,
             (CAST(S_t3 AS DOUBLE) / n_tot) / 1000000000000.0 AS t3_r
      FROM (SELECT region, sim, sum(n) AS n_tot, sum(n * tq) AS S_t,
                   sum(n * t3q) AS S_t3
            FROM ssites GROUP BY 1, 2)
    ), sfit AS (
      SELECT r.region, r.sim, k1.k AS ks,
             CASE WHEN abs(k1.k) < 1e-12
                  THEN x1.xi + a1.alpha * {_GEVU_KT}
                  ELSE x1.xi + a1.alpha
                       * (1.0 - exp(k1.k * {_GEVU_CF})) / k1.k
             END AS growth
      FROM sreg r,{_gev_fit_laterals('r.t_r', 'r.t3_r')}
    ), simg AS (
      SELECT region,
             CAST(floor(growth * 1000000000.0 + 0.5) AS BIGINT) AS gq
      FROM sfit WHERE ks > -0.9 AND ks <= 1.5
    ), agg AS (
      SELECT region, CAST(count(*) AS BIGINT) AS n_sim,
             sum(gq) AS SV, sum(CAST(gq AS HUGEINT) * gq) AS SV2,
             list(gq ORDER BY gq) AS arr
      FROM simg GROUP BY 1
    )
    SELECT rf.region, rf.n_sites, a.n_sim,
           {R('rf.t_r', 6)} AS t_r,
           {R('rf.t3_r', 6)} AS t3_r,
           {R('rf.k_gev', 6)} AS k_gev,
           {R('rf.growth_q', 6)} AS growth_q,
           {R('(CAST(a.SV AS DOUBLE) / a.n_sim) / 1000000000.0', 6)}
             AS sim_mean_q,
           CASE WHEN a.n_sim > 1 THEN
             {R('''sqrt(CAST(CAST(a.n_sim AS HUGEINT) * a.SV2
                        - CAST(a.SV AS HUGEINT) * a.SV AS DOUBLE)
                   / (a.n_sim * (a.n_sim - 1))) / 1000000000.0''', 6)}
           END AS sim_sd_q,
           {R('CAST(a.arr[greatest(1, a.n_sim // 20)] AS DOUBLE)'
              ' / 1000000000.0', 6)} AS lo90_q,
           {R('CAST(a.arr[CAST(a.n_sim + 1 '
              '- greatest(1, a.n_sim // 20) AS INT)] AS DOUBLE)'
              ' / 1000000000.0', 6)} AS hi90_q
    FROM regfit rf JOIN agg a USING (region)
"""


@register("regional_gev_uncertainty", oracle=_RFF_GEV_UNC_ORACLE)
def regional_gev_uncertainty_q(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Simulation confidence bounds for the regional GEV 100-yr growth
    factor (operators/trend.regional_gev_uncertainty): 40 homogeneous
    replicate regions drawn from the fitted curve via the md5 uniform
    driver, refit per sim, exact-integer mean/sd and rank bounds."""
    from ..operators.trend import regional_gev_uncertainty

    out = regional_gev_uncertainty(_rff_annual(spark, sf_dir),
                                   nsim=40, Fp=0.99)
    return _round(out, {"t_r": 6, "t3_r": 6, "k_gev": 6,
                        "growth_q": 6, "sim_mean_q": 6, "sim_sd_q": 6,
                        "lo90_q": 6, "hi90_q": 6})


# ---------------------------------------------------------------------------
# Distribution-FITTED W-day T-year low flow (7Q10) — the T-year
# quantile the empirical low_flow_frequency table (Weibull ranks,
# above) cannot extrapolate beyond the record; reuses the audited
# z -> k -> Gamma(1+k) GEV chain on the NEGATED annual minima of the
# 7-day moving mean, un-normalized (l1, l2) alpha/xi arms mirrored
# textually. Plus threshold-level drought runs over the same daily
# tier.
# ---------------------------------------------------------------------------

_DAILY_FLOW_SQL = """
    daily AS (
      SELECT o_orderpriority AS series, o_orderdate AS d,
             max(o_totalprice) AS v
      FROM orders GROUP BY 1, 2
    ), q AS (
      SELECT series, d,
             CAST(floor(CAST(v AS DOUBLE) * 1000000
                        + CAST(0.5 AS DOUBLE)) AS BIGINT) AS vq
      FROM daily
    )
"""

def _lowflow_fit_laterals() -> str:
    """The un-normalized GEV fit chain over (l1, l2, t3) of the
    negated minima — the z -> k -> Gamma(1+k) text is shared with the
    regional fits (_gev_horner_sql over the SAME coefficient list);
    only the alpha/xi arms differ (absolute l2/l1, not the
    index-flood-normalized ratios)."""
    return f"""
      LATERAL (SELECT 2.0 / (3.0 + lm.t3) - 0.6309297535714574 AS z) z1,
      LATERAL (SELECT 7.859 * z1.z + 2.9554 * z1.z * z1.z AS k) k1,
      LATERAL (SELECT CASE
                 WHEN k1.k > 0.5
                   THEN k1.k * exp({_gev_horner_sql('(k1.k - 1)')})
                 WHEN k1.k < -0.5
                   THEN exp({_gev_horner_sql('(k1.k + 1)')})
                        / (1.0 + k1.k)
                 ELSE exp({_gev_horner_sql('k1.k')})
               END AS g1) g2,
      LATERAL (SELECT CASE WHEN abs(k1.k) < 1e-12
                    THEN lm.l2 * 1.4426950408889634
                    ELSE lm.l2 * k1.k
                         / ((1.0 - exp(-(k1.k) * 0.6931471805599453))
                            * g2.g1) END AS alpha) a1,
      LATERAL (SELECT CASE WHEN abs(k1.k) < 1e-12
                    THEN lm.l1 - 0.5772156649015329 * a1.alpha
                    ELSE lm.l1 - a1.alpha * (1.0 - g2.g1) / k1.k
               END AS xi) x1"""


_LOWFLOW_CF = repr(-2.2503673273124454)   # c_F = ln(-ln 0.9), T = 10
_LOWFLOW_KT = repr(2.2503673273124454)

_LOWFLOW_ORACLE = "WITH " + _DAILY_FLOW_SQL + f"""
    , roll AS (
      SELECT series, d,
             sum(vq) OVER (PARTITION BY series ORDER BY d
                           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
               AS s,
             count(*) OVER (PARTITION BY series ORDER BY d
                            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
               AS c
      FROM q
    ), ann AS (
      SELECT series, CAST(year(d) AS INT) AS yr, min(s) AS m
      FROM roll WHERE c = 7 GROUP BY 1, 2
    ), rk AS (
      SELECT series, yr, -m AS y,
             row_number() OVER (PARTITION BY series ORDER BY -m, yr)
               AS i
      FROM ann
    ), pw AS (
      SELECT series, count(*) AS n, sum(y) AS s0,
             sum((i - 1) * y) AS s1,
             sum((i - 1) * (i - 2) * y) AS s2
      FROM rk GROUP BY 1
    ), lm AS (
      SELECT series, n,
             CAST(s0 AS DOUBLE) / n AS l1,
             2 * (CAST(s1 AS DOUBLE) / (n * (n - 1)))
               - CAST(s0 AS DOUBLE) / n AS l2,
             (6 * (CAST(s2 AS DOUBLE) / (n * (n - 1) * (n - 2)))
              - 6 * (CAST(s1 AS DOUBLE) / (n * (n - 1)))
              + CAST(s0 AS DOUBLE) / n)
             / (2 * (CAST(s1 AS DOUBLE) / (n * (n - 1)))
                - CAST(s0 AS DOUBLE) / n) AS t3
      FROM pw WHERE n >= 4
    ), fit AS (
      SELECT lm.series, lm.n, lm.l1, lm.t3, k1.k AS k_gev,
             CASE WHEN abs(k1.k) < 1e-12
                  THEN x1.xi + a1.alpha * {_LOWFLOW_KT}
                  ELSE x1.xi + a1.alpha
                       * (1.0 - exp(k1.k * {_LOWFLOW_CF})) / k1.k
             END AS q_y
      FROM lm,{_lowflow_fit_laterals()}
    )
    SELECT series, CAST(n AS BIGINT) AS n_years,
           {R("-(l1) / 7000000.0", 6)} AS mean_low,
           {R("-(t3)", 6)} AS t3_min,
           {R("k_gev", 6)} AS k_gev,
           CASE WHEN k_gev > -0.9 AND k_gev <= 1.5
                THEN {R("-(q_y) / 7000000.0", 6)} END AS q_low
    FROM fit
"""


@register("low_flow_7q10", oracle=_LOWFLOW_ORACLE)
def low_flow_7q10_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7Q10 per series: annual minima of the 7-day moving mean fitted
    with the reversed GEV by exact-integer L-moments, 10-year
    non-exceedance quantile (operators/trend.low_flow_gev_fit)."""
    from ..operators.trend import low_flow_gev_fit

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("series"),
        F.col("o_orderdate").alias("date"),
    ).agg(F.max("o_totalprice").alias("value"))
    out = low_flow_gev_fit(daily, ["series"])
    return _round(out, {"mean_low": 6, "t3_min": 6, "k_gev": 6,
                        "q_low": 6})


_DROUGHT_ORACLE = "WITH " + _DAILY_FLOW_SQL + """
    , thr AS (
      SELECT series,
             arr[CAST(greatest(1, ceil(0.09999999999999998
                                       * CAST(n AS BIGINT)))
                 AS INT)] AS tq
      FROM (SELECT series, count(*) AS n,
                   array_agg(vq ORDER BY vq) AS arr
            FROM q GROUP BY series)
    ), j AS (
      SELECT q.series, q.d, q.vq, thr.tq, (q.vq < thr.tq) AS b
      FROM q JOIN thr USING (series)
    ), runs AS (
      SELECT series, d, vq, tq, b,
             sum(chg) OVER (PARTITION BY series ORDER BY d
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS seg
      FROM (SELECT *, CASE WHEN b = lag(b) OVER
                        (PARTITION BY series ORDER BY d)
                      THEN 0 ELSE 1 END AS chg
            FROM j)
    ), spells AS (
      SELECT series, seg, min(d) AS start_date, max(d) AS end_date,
             CAST(count(*) AS BIGINT) AS duration_days,
             sum(tq - vq) AS def
      FROM runs WHERE b GROUP BY 1, 2
    )
    SELECT series,
           CAST(row_number() OVER (PARTITION BY series
                                   ORDER BY start_date) AS BIGINT)
             AS spell_id,
           start_date, end_date, duration_days,
           {defq} AS deficit
    FROM spells
""".format(defq=R("CAST(def AS DOUBLE) / 1000000.0", 6))


@register("drought_spells", oracle=_DROUGHT_ORACLE)
def drought_spells_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Below-Q90 drought runs per series (threshold-level run theory):
    spell start/end/duration + exact-integer cumulative deficit
    (operators/trend.drought_spells)."""
    from ..operators.trend import drought_spells

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("series"),
        F.col("o_orderdate").alias("date"),
    ).agg(F.max("o_totalprice").alias("value"))
    out = drought_spells(daily, ["series"])
    return _round(
        out.select("series", F.col("spell_id").cast("long").alias("spell_id"),
                   "start_date", "end_date", "duration_days", "deficit"),
        {"deficit": 6})
