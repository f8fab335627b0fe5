"""Connector registry: dynamic source dispatch.

Reference semantics (R/getNewContinuous.R:481-486): every timeseries
carries ``source_fx`` (a function name) + ``source_fx_args`` (jsonb),
dispatched via ``do.call``. Connectors return at least
``(datetime, value)`` plus optional grade/approval/qualifier/owner/
contributor/period columns (:489-516).

Spark port: a plain ``{name: callable}`` registry; each connector is a
function ``(spark, **args) -> DataFrame`` normalized to the contract
columns. Network connectors (WSC/Aquarius/NWIS/ECCC: R/downloadWSC.R,
R/downloadAquarius.R, R/downloadNWIS.R, R/downloadECCCwx.R) are
**stubbed at the fetch step** — no network in this environment — but
the dispatch, argument parsing, contract validation, and normalization
are real and tested. File/DB-backed connectors (csv, parquet, jdbc)
are fully functional.
"""

from __future__ import annotations

import json
from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CONTRACT_COLS = ("datetime", "value")
OPTIONAL_COLS = ("grade", "approval", "qualifier", "owner", "contributor", "period")

_REGISTRY: Dict[str, Callable[..., DataFrame]] = {}


def register_source(name: str):
    def deco(fn):
        _REGISTRY[name] = fn
        return fn

    return deco


def get_source(name: str) -> Callable[..., DataFrame]:
    try:
        return _REGISTRY[name]
    except KeyError:
        raise KeyError(
            f"unknown source_fx {name!r}; registered: {sorted(_REGISTRY)}"
        ) from None


def dispatch(spark: SparkSession, source_fx: str, source_fx_args: str | dict) -> DataFrame:
    """``do.call(source_fx, args)`` analog: parse jsonb args, call, validate."""
    args = (
        json.loads(source_fx_args)
        if isinstance(source_fx_args, str)
        else dict(source_fx_args or {})
    )
    df = get_source(source_fx)(spark, **args)
    return validate_contract(df)


def validate_contract(df: DataFrame, key_cols: tuple = ()) -> DataFrame:
    """Normalize to the connector contract (R/getNewContinuous.R:489-553):
    required (datetime, value); drop NULL values; keep known optionals.

    ``key_cols``: extra identity columns to preserve (a multi-series
    batch carries timeseries_id; the reference's per-series frames
    don't need one)."""
    missing = [c for c in CONTRACT_COLS if c not in df.columns]
    if missing:
        raise ValueError(f"connector result missing contract columns {missing}")
    keep = [c for c in df.columns
            if c in tuple(key_cols) + CONTRACT_COLS + OPTIONAL_COLS]
    return (
        df.select(*keep)
        .withColumn("datetime", F.col("datetime").cast("timestamp"))
        .withColumn("value", F.col("value").cast("double"))
        .where(F.col("value").isNotNull())
    )


@register_source("read_parquet")
def read_parquet(spark: SparkSession, path: str, dt_col: str = "datetime",
                 value_col: str = "value", **_) -> DataFrame:
    df = spark.read.parquet(path)
    return df.withColumnRenamed(dt_col, "datetime").withColumnRenamed(value_col, "value")


@register_source("read_csv")
def read_csv(spark: SparkSession, path: str, dt_col: str = "datetime",
             value_col: str = "value", **_) -> DataFrame:
    df = spark.read.option("header", "true").csv(path)
    return df.withColumnRenamed(dt_col, "datetime").withColumnRenamed(value_col, "value")


@register_source("read_jdbc")
def read_jdbc(spark: SparkSession, url: str, table: str, **opts) -> DataFrame:
    """JDBC sources (RWIS/EQWin/HYDAT analogs: R/downloadRWIS.R:16,
    R/downloadEQWin.R:43, R/update_hydat.R:18)."""
    return spark.read.format("jdbc").option("url", url).option("dbtable", table) \
        .options(**{k: str(v) for k, v in opts.items()}).load()


@register_source("downloadAquarius")
def download_aquarius_src(spark: SparkSession, location: str, parameter: str,
                          start_datetime: str, end_datetime: str,
                          payload_path: str | None = None,
                          difference: bool = False,
                          reset_drop: float = 20.0, min_pos: float = 0.0,
                          max_gap: int = 0, **_) -> DataFrame:
    """Aquarius connector (R/downloadAquarius.R:30) — payload
    normalization real (sources/aquarius.py), fetch injectable."""
    from .aquarius import download_aquarius

    return download_aquarius(
        spark, location, parameter, start_datetime, end_datetime,
        payload_path=payload_path, difference=difference,
        reset_drop=reset_drop, min_pos=min_pos, max_gap=max_gap,
    )


@register_source("downloadECCCwx")
def download_ecccwx_src(spark: SparkSession, location: str, parameter: str,
                        start_datetime: str, end_datetime: str,
                        interval: str = "hour",
                        payload_path: str | None = None,
                        organization_id: int = 2, **_) -> DataFrame:
    """ECCC weather connector (R/downloadECCCwx.R:17) — weathercan-table
    column fan-out real (sources/ecccwx.py), fetch injectable."""
    from .ecccwx import download_ecccwx

    return download_ecccwx(
        spark, location, parameter, start_datetime, end_datetime,
        interval=interval, payload_path=payload_path,
        organization_id=organization_id,
    )


@register_source("downloadWSC")
def download_wsc_src(spark: SparkSession, location: str, parameter: int,
                     start_datetime: str, end_datetime: str,
                     payload: str | None = None,
                     payload_path: str | None = None,
                     organization_id: int = 1, fetcher=None, **_) -> DataFrame:
    """WSC realtime connector (R/downloadWSC.R:16) — payload parsing and
    code mapping real (sources/wsc.py), fetch injectable."""
    from .dims import default_type_dims
    from .wsc import download_wsc

    if payload is None and payload_path:
        with open(payload_path, encoding="utf-8") as fh:
            payload = fh.read()
    d = default_type_dims(spark)
    return download_wsc(
        spark, location, parameter, start_datetime, end_datetime,
        d["qualifier_types"], d["approval_types"], d["grade_types"],
        organization_id, payload=payload, fetcher=fetcher,
    )


@register_source("downloadNWIS")
def download_nwis_src(spark: SparkSession, location: str, parameter: str,
                      start_datetime: str, end_datetime: str,
                      payload: str | None = None,
                      payload_path: str | None = None,
                      fetcher=None, **_) -> DataFrame:
    """NWIS connector (R/downloadNWIS.R:17) — RDB parsing, metric
    conversions, and code extraction real (sources/nwis.py)."""
    from .dims import default_type_dims
    from .nwis import download_nwis

    if payload is None and payload_path:
        with open(payload_path, encoding="utf-8") as fh:
            payload = fh.read()
    d = default_type_dims(spark)
    return download_nwis(
        spark, location, parameter, start_datetime, end_datetime,
        d["approval_types"], d["qualifier_types"],
        payload=payload, fetcher=fetcher,
    )


@register_source("downloadECCCwxMinute")
def download_ecccwx_minute_src(spark: SparkSession, location: str,
                               parameter: str, start_datetime: str,
                               end_datetime: str, path: str | None = None,
                               fetcher=None, **kw) -> DataFrame:
    """SWOB-ML minute connector (R/downloadECCCwxMinute.R:36) — XML
    parsing, alias resolution, and keep-last dedupe real
    (sources/xml_swob.py)."""
    from .dims import (APPROVAL_CODES, GRADE_CODES, QUALIFIER_CODES,
                       type_code_to_id)
    from .xml_swob import download_ecccwx_minute

    return download_ecccwx_minute(
        spark, location, parameter, start_datetime, end_datetime, path=path,
        grade=kw.get("grade", type_code_to_id(GRADE_CODES)["UNS"]),
        approval=kw.get("approval", type_code_to_id(APPROVAL_CODES)["UNS"]),
        qualifier=kw.get("qualifier", type_code_to_id(QUALIFIER_CODES)["UNS"]),
        organization_id=kw.get("organization_id", 2),
        fetcher=fetcher,
    )


@register_source("readSnowWorkbook")
def read_snow_workbook_src(spark: SparkSession, path: str, **kwargs) -> DataFrame:
    """Excel snow-survey workbook ingestion (R/readSnowWorkbook.R:20) —
    real: a pure-stdlib xlsx parser (functions/xlsx.py) feeds the QC
    rules in sources/snow_workbook.py. Returns the measurements frame
    normalized to the connector contract (survey target date as the
    datetime, SWE as the value)."""
    from .snow_workbook import read_snow_workbook

    out = read_snow_workbook(spark, path, **kwargs)
    surveys = out["surveys"].select("sheet", "target_date")
    return (
        out["measurements"]
        .where(~F.col("excluded"))
        .join(surveys, "sheet")
        .select(
            F.col("target_date").cast("timestamp").alias("datetime"),
            F.col("swe").alias("value"),
        )
    )


@register_source("downloadECCCwq")
def download_ecccwq_src(spark: SparkSession, location: str, key_path: str,
                        start_datetime: str, end_datetime: str,
                        tz: str = "UTC", payload_path: str | None = None,
                        **kw) -> DataFrame:
    """ECCC water-quality connector (R/downloadECCCwq.R:23) — CSV
    transform, import-key mapping, and censoring-flag dispatch real
    (sources/ecccwq.py), fetch injectable. Returns the results frame;
    use sources.ecccwq.download_ecccwq directly for samples+rejects."""
    from .ecccwq import download_ecccwq

    key = spark.read.option("header", True).option("inferSchema", True) \
        .csv(key_path)
    out = download_ecccwq(spark, location, key, start_datetime, end_datetime,
                          tz=tz, payload_path=payload_path, **kw)
    return out["results"]


@register_source("downloadSnowCourse")
def download_snowcourse_src(spark: SparkSession, location: str,
                            start_datetime: str, end_datetime: str,
                            payload_path: str | None = None,
                            **_) -> DataFrame:
    """Snow-course connector (R/downloadSnowCourse.R:88) — survey-mean
    aggregation and unpivot real (sources/snowcourse.py); the snow DB
    read is injectable (CSV/parquet with the measurements columns)."""
    from .snowcourse import survey_means

    if payload_path is None:
        raise NotImplementedError(
            "snow-course fetch requires the snow survey database; pass "
            "payload_path with a measurements extract"
        )
    m = spark.read.option("header", True).option("inferSchema", True) \
        .csv(payload_path)
    out = survey_means(m.where(F.col("location") == location))
    return out.where(
        (F.col("datetime") >= F.to_timestamp(F.lit(start_datetime)))
        & (F.col("datetime") <= F.to_timestamp(F.lit(end_datetime)))
    )


@register_source("downloadERA5")
def download_era5_src(spark: SparkSession, parameter: str, start_datetime: str,
                      end_datetime: str, payload_path: str | None = None,
                      **kw) -> DataFrame:
    """ERA5 reanalysis raster connector (R/downloadERA5.R:17) — decoded-
    grid normalization real (sources/raster.py), CDS fetch injectable."""
    from .raster import download_era5

    return download_era5(spark, parameter, start_datetime, end_datetime,
                         payload_path=payload_path, **kw)


@register_source("downloadHRDPA")
def download_hrdpa_src(spark: SparkSession, parameter: str, start_datetime: str,
                       end_datetime: str, payload_path: str | None = None,
                       **kw) -> DataFrame:
    """HRDPA precip-analysis raster connector (R/downloadHRDPA.R:11)."""
    from .raster import download_hrdpa

    return download_hrdpa(spark, parameter, start_datetime, end_datetime,
                          payload_path=payload_path, **kw)


@register_source("downloadHRDPS")
def download_hrdps_src(spark: SparkSession, parameter: str, start_datetime: str,
                       end_datetime: str, payload_path: str | None = None,
                       **kw) -> DataFrame:
    """HRDPS forecast raster connector (R/downloadHRDPS.R)."""
    from .raster import download_hrdps

    return download_hrdps(spark, parameter, start_datetime, end_datetime,
                          payload_path=payload_path, **kw)


@register_source("downloadCaLDAS")
def download_caldas_src(spark: SparkSession, parameter: str, start_datetime: str,
                        end_datetime: str, payload_path: str | None = None,
                        **kw) -> DataFrame:
    """CaLDAS snow-analysis raster connector (R/downloadCaLDAS.R)."""
    from .raster import download_caldas

    return download_caldas(spark, parameter, start_datetime, end_datetime,
                           payload_path=payload_path, **kw)


def fetch_task_groups(catalog_df: DataFrame) -> DataFrame:
    """Cache-sharing fetch groups for parallel ingest.

    Reference (get_parallel_group_key / build_parallel_groups,
    R/getNewContinuous.R:286-345): series whose connector can reuse one
    remote response — same (source_fx, station, interval) — must land
    on the same worker so the session HTTP cache (downloadECCCwx.R:5,
    193-230) is hit. Spark analog: derive the group key and use it as a
    ``repartition`` key so all series of a group execute in one task;
    ordering within a group follows staleness (oldest watermark first).

    Input: catalog rows with at least (timeseries_id, source_fx,
    source_fx_args json, last_data_point). Output adds ``group_key``.
    """
    station = F.get_json_object("source_fx_args", "$.location")
    interval = F.coalesce(
        F.get_json_object("source_fx_args", "$.interval"), F.lit("")
    )
    shared_cache = F.col("source_fx").isin("downloadECCCwx", "downloadECCCwxMinute")
    key = F.when(
        shared_cache, F.concat_ws("|", "source_fx", station, interval)
    ).otherwise(F.concat_ws("|", F.lit("solo"), F.col("timeseries_id").cast("string")))
    return catalog_df.withColumn("group_key", key).repartition("group_key") \
        .sortWithinPartitions("group_key", "last_data_point")
