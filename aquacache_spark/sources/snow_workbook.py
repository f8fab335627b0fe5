"""Snow-survey workbook connector (real, not stubbed).

Reference semantics (R/readSnowWorkbook.R:20, sheet layout from the
openxlsx read calls at :44-96 and QC rules at :98-141):

- every sheet except ``Summary`` is one survey;
- survey metadata block at rows 5-11, cols B-D (location name row 5,
  survey/target dates, sampler);
- a sheet whose "sampled" flag (row 9, col C) equals ``no sample`` is
  skipped;
- measurement block rows 13-22: sample depth (col C) and SWE (col G),
  exclude flag (col J), notes (col K); header row 12;
- rows with depth AND swe both empty are dropped (:98-101);
- if depth == 0 the SWE is forced to 0 (:139-141);
- empty sheets (no metadata, no measurements) are skipped (:109-119);
- the location name must resolve against the locations dimension —
  unresolved sheets are rejected, not imported (:142-176).

The per-workbook parse is the pure-python kernel in functions/xlsx.py
(driver-sized artifacts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.xlsx import read_xlsx_cells, serial_to_date

SURVEY_FIELDS = [
    ("workbook", T.StringType()),
    ("sheet", T.StringType()),
    ("location_name", T.StringType()),
    ("survey_date", T.StringType()),
    ("target_date", T.StringType()),
    ("sampler", T.StringType()),
]
MEASUREMENT_FIELDS = SURVEY_FIELDS[:2] + [
    ("location_name", T.StringType()),
    ("sample_no", T.IntegerType()),
    ("depth", T.DoubleType()),
    ("swe", T.DoubleType()),
    ("excluded", T.BooleanType()),
    ("note", T.StringType()),
]
SURVEY_SCHEMA = T.StructType([T.StructField(n, t) for n, t in SURVEY_FIELDS])
MEASUREMENT_SCHEMA = T.StructType(
    [T.StructField(n, t) for n, t in MEASUREMENT_FIELDS]
)


def _as_date_str(v) -> str | None:
    if v is None:
        return None
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return serial_to_date(float(v)).isoformat()
    return str(v)


def parse_snow_workbook(path: str) -> tuple[list[dict], list[dict]]:
    """Pure-python kernel: one workbook -> (survey rows, measurement rows)."""
    surveys: list[dict] = []
    measurements: list[dict] = []
    for sheet, cells in read_xlsx_cells(path).items():
        if sheet == "Summary":
            continue
        sampled = cells.get((9, 3))
        if isinstance(sampled, str) and sampled.strip().lower() == "no sample":
            continue
        meta = {
            "workbook": path,
            "sheet": sheet,
            "location_name": cells.get((5, 3)),
            "survey_date": _as_date_str(cells.get((6, 3))),
            "target_date": _as_date_str(cells.get((7, 3))),
            "sampler": cells.get((8, 3)),
        }
        rows = []
        for r in range(13, 23):
            depth, swe = cells.get((r, 3)), cells.get((r, 7))
            if depth is None and swe is None:
                continue  # readSnowWorkbook.R:98-101
            if depth == 0:
                swe = 0.0  # readSnowWorkbook.R:139-141
            rows.append({
                "workbook": path,
                "sheet": sheet,
                "location_name": meta["location_name"],
                "sample_no": r - 12,
                "depth": None if depth is None else float(depth),
                "swe": None if swe is None else float(swe),
                "excluded": str(cells.get((r, 10), "")).strip().lower() == "x",
                "note": cells.get((r, 11)),
            })
        if meta["location_name"] is None and not rows:
            continue  # empty sheet (readSnowWorkbook.R:109-119)
        surveys.append(meta)
        measurements.extend(rows)
    return surveys, measurements


def read_snow_workbook(
    spark: SparkSession,
    path: str,
    locations: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """One workbook -> {'surveys', 'measurements', 'rejected'} frames.

    When a ``locations`` dimension (column ``name``) is given, sheets
    whose location name does not resolve are diverted to ``rejected``
    (readSnowWorkbook.R:142-176) instead of imported.
    """
    surveys, measurements = parse_snow_workbook(path)
    from ..session import local_df
    sdf = local_df(spark, surveys, SURVEY_SCHEMA)
    mdf = local_df(spark, measurements, MEASUREMENT_SCHEMA)
    if locations is None:
        rejected = spark.createDataFrame([], SURVEY_SCHEMA)
    else:
        known = locations.select(F.col("name").alias("location_name")).distinct()
        rejected = sdf.join(F.broadcast(known), "location_name", "left_anti")
        sdf = sdf.join(F.broadcast(known), "location_name", "left_semi")
        mdf = mdf.join(F.broadcast(known), "location_name", "left_semi")
    return {"surveys": sdf, "measurements": mdf, "rejected": rejected}


def qc_survey_batch(
    surveys: DataFrame,
    measurements: DataFrame,
    id_col: str = "survey_id",
) -> tuple[DataFrame, DataFrame]:
    """Set-wise QA/QC + derivation over parsed survey batches — the
    rules readSnowWorkbook.R applies per sheet, applied to any number
    of workbooks in one pass:

    - apostrophes stripped from sampler/notes (:287-289);
    - method resolution (:186-193): the workbook's method, overridden
      to 'average' when an estimated average exists and the method is
      not 'bulk sample';
    - missing target/survey date -> survey rejected (:291-310);
    - no measurements & method != 'no sample' -> method forced to
      'no sample' (:313-320); measurements present & method
      'no sample' -> rejected (:322-328; the reference stop()s the
      sheet — set-wise we mark it so one bad sheet cannot abort a
      bulk import);
    - measurement derivation (:629-700): note-only rows (depth AND swe
      both NULL) dropped, depth == 0 forces swe = 0 (:139-141), SWE
      cm -> mm via round(swe*10) (:648; half-up floor idiom rather
      than R's half-even — documented divergence on exact .5 values).

    ``surveys``: (survey_id, location_name, target_date, survey_date,
    sampler, method, est_avg, notes); ``measurements``: (survey_id,
    depth, swe, excluded).  Returns (surveys + method_resolved/status/
    cleaned strings, measurements cleaned for accepted surveys).
    """
    m_clean = (
        measurements
        .where(F.col("depth").isNotNull() | F.col("swe").isNotNull())
        .withColumn(
            "swe",
            F.when(F.col("depth") == 0, F.lit(0.0)).otherwise(F.col("swe")),
        )
        .withColumn(
            "swe_mm",
            F.floor(F.col("swe") * 10 + F.lit(0.5)).cast("long"),
        )
    )
    counts = m_clean.groupBy(id_col).agg(F.count("*").alias("__n_meas"))

    s = (
        surveys.join(counts, id_col, "left")
        .withColumn("__n_meas", F.coalesce("__n_meas", F.lit(0)))
        .withColumn(
            "__method0",
            F.when(
                F.col("est_avg").isNotNull()
                & (F.lower(F.col("method")) != "bulk sample"),
                F.lit("average"),
            ).otherwise(F.col("method")),
        )
        .withColumn(
            "status",
            F.when(F.col("target_date").isNull(),
                   F.lit("rejected_missing_target_date"))
            .when(F.col("survey_date").isNull(),
                  F.lit("rejected_missing_survey_date"))
            .when(
                (F.col("__n_meas") > 0)
                & (F.lower(F.col("__method0")) == "no sample"),
                F.lit("rejected_no_sample_conflict"),
            )
            .otherwise(F.lit("ok")),
        )
        .withColumn(
            "method_resolved",
            F.when(
                (F.col("__n_meas") == 0)
                & (F.lower(F.col("__method0")) != "no sample"),
                F.lit("no sample"),
            ).otherwise(F.col("__method0")),
        )
        .withColumn("sampler", F.regexp_replace(F.col("sampler"), "'", ""))
        .withColumn("notes", F.regexp_replace(F.col("notes"), "'", ""))
        .drop("__method0", "__n_meas")
    )
    # accepted ids are survey-cardinality (data) — shuffle semi-join
    accepted = s.where(F.col("status") == "ok").select(id_col)
    return s, m_clean.join(accepted, id_col, "left_semi")
