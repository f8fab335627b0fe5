"""Catalog: load the driver-provided parquet star schema.

Mirrors the reference's catalog-driven design (``continuous.timeseries``
dimension + ``measurements_continuous`` fact, reference
R/create_test_DB.R:722-898) on the driver's TPC-H-ish tables:

- ``events``  — the continuous-measurement fact analog
  ``(ts, user_id, event_type, value)`` ≈ ``(datetime, timeseries_id
  grouping keys, value)``.
- ``orders``/``lineitem`` — multi-year facts used for day-of-year
  historical statistics (reference inst/patches/patch_48.R:416-494).
- ``documents``/``embeddings`` — training-data pipeline tables.

Scale notes: reads are plain ``spark.read.parquet`` so Catalyst keeps
predicate pushdown + column pruning; at 100 TB these become partitioned
Delta tables clustered on ``(timeseries_id, datetime)`` and every
operator below already groups/filters on those keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table, normalizing parquet TIMESTAMP(NANOS) columns.

    Spark has no nanosecond TimestampType; with
    ``spark.sql.legacy.parquet.nanosAsLong`` the column arrives as long
    nanos, which we floor-divide to microseconds — exactly what DuckDB's
    ``CAST(ts AS TIMESTAMP)`` does (truncation), so oracle comparisons
    agree. The conversion is a codegen'd projection, free at scale.
    """
    # timestamp rendering must agree with the (TZ-naive) DuckDB oracle
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from .session import ensure_package_on_workers

    ensure_package_on_workers(spark)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Parquet files written without isAdjustedToUTC arrive as
    # TIMESTAMP_NTZ when inferTimestampNTZ is on (the default in some
    # harness sessions). DuckDB reads the same column as a naive
    # timestamp; with the session tz pinned to UTC above, a cast to
    # TIMESTAMP is wall-clock-preserving and keeps both engines and all
    # downstream ops (unix_micros, window ranges) on one type.
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz_cols:
        from pyspark.sql import functions as F

        for c in ntz_cols:
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df
