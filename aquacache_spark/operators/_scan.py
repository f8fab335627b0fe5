"""Scan-parallelism helper shared by hash- and codec-heavy map stages."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_scan(df: DataFrame, key: str) -> DataFrame:
    """Decouple compute parallelism from file splits for hash-heavy
    map stages (one md5 per shingle/token/char-gram): a small or
    single-row-group parquet reads as ONE task, which would serialize
    the hashing before the first shuffle. Redistributing the raw text
    once is cheap relative to the hashing; left alone when the scan
    already yields enough splits (the 100 TB case).

    No-op on streaming frames: .rdd is illegal on a streaming plan
    (AnalysisException), and micro-batch parallelism is governed by
    the source's maxFilesPerTrigger/partitioning, not file splits."""
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        df = df.repartition(sc.defaultParallelism, key)
    return df
