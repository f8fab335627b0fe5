"""Structured Streaming front-end for the ingest path.

The reference is batch-incremental (SURVEY §2.12: no event-time
watermarks or stream state) — its analog here is the natural Spark
extension: ``readStream`` over a landing directory of connector drops,
event-time watermarking for late data, tumbling-window aggregation
(the resample/daily analog), and ``foreachBatch`` feeding the
incremental refresh machinery (streaming/incremental.py) so each
micro-batch recomputes only the touched daily slices.

At scale: the stateful windowed aggregation keys on
(timeseries_id, window) — the same key layout as the batch rollup — so
state distributes across executors; the watermark bounds state size.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEASUREMENT_SCHEMA = T.StructType([
    T.StructField("timeseries_id", T.LongType()),
    T.StructField("datetime", T.TimestampType()),
    T.StructField("value", T.DoubleType()),
])


def read_measurement_stream(
    spark: SparkSession, landing_dir: str, fmt: str = "parquet"
) -> DataFrame:
    """File-source stream of connector drops (the getNewContinuous
    landing zone)."""
    return (
        spark.readStream.format(fmt)
        .schema(MEASUREMENT_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .load(landing_dir)
    )


def windowed_rollup(
    stream: DataFrame,
    window_seconds: int = 3600,
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling-window per-series stats with late-data watermark —
    the streaming resample (§2.5 patch_53.R:2024-2085 analog)."""
    return (
        stream.withWatermark("datetime", watermark)
        .groupBy(
            "timeseries_id",
            F.window("datetime", f"{window_seconds} seconds").alias("win"),
        )
        .agg(
            F.count("value").alias("n"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
            F.avg("value").alias("mean"),
        )
        .select(
            "timeseries_id",
            F.col("win.start").alias("bin_start"),
            "n", "min", "max", "mean",
        )
    )


def start_incremental_sink(
    rolled: DataFrame,
    process_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    output_mode: str = "update",
):
    """foreachBatch sink: each micro-batch carries only changed window
    rows (update mode), i.e. the changed-range feed for
    incremental_daily_refresh — Delta CDF's role in production."""
    return (
        rolled.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(process_batch)
        .start()
    )


def sessionize_stream(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    key_col: str = "timeseries_id",
) -> DataFrame:
    """Streaming gap-sessionization: Spark's native session_window
    with a late-data watermark. Sessions MERGE across micro-batches
    while open; in append mode a session emits exactly once, when the
    watermark passes its end — the streaming twin of the batch
    event_sessionization query, state bounded by the watermark."""
    return (
        stream.withWatermark("datetime", watermark)
        .groupBy(key_col, F.session_window("datetime", gap).alias("win"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            key_col,
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )
