"""Segment id recycling — ported from the reference's own split
scenario for positional recycling (tests/testthat/
test-adjust_functions.R:356)."""

from pyspark.sql import functions as F

from aquacache_spark.operators.segments import (recycle_split_ids,
                                                split_segments)


def _iv(spark, rows, with_id=False):
    schema = (
        "segment_id int, series int, start_dt string, end_dt string,"
        " value string" if with_id
        else "series int, start_dt string, end_dt string, value string"
    )
    return spark.createDataFrame(rows, schema).select(
        *( ["segment_id"] if with_id else [] ), "series", "value",
        F.col("start_dt").cast("timestamp").alias("start_dt"),
        F.col("end_dt").cast("timestamp").alias("end_dt"),
    )


def test_split_recycles_ids_positionally(spark):
    # adjust_grade mid-period insert (test-adjust_functions.R:356):
    # one existing segment splits into A|B|A — first rebuilt row keeps
    # the existing id, the two new rows get NULL ids, nothing deleted
    existing = _iv(
        spark,
        [(1, 1, "2024-01-01 00:00:00", "2024-01-10 00:00:00", "A")],
        with_id=True,
    )
    new = _iv(spark, [(1, "2024-01-03 00:00:00", "2024-01-05 00:00:00", "B")])
    final = split_segments(
        existing.drop("segment_id"), new, keys=["series"],
        start_col="start_dt", end_col="end_dt", value_col="value",
    )
    out = recycle_split_ids(
        existing, final, keys=["series"], id_col="segment_id",
    ).orderBy("start_dt").collect()
    assert [r["action"] for r in out] == ["upsert"] * 3
    assert [r["segment_id"] for r in out] == [1, None, None]
    assert [r["value"] for r in out] == ["A", "B", "A"]


def test_split_overflow_existing_rows_deleted(spark):
    # more existing rows than rebuilt ones: extras are delete-marked
    existing = _iv(
        spark,
        [
            (1, 1, "2024-01-01 00:00:00", "2024-01-05 00:00:00", "A"),
            (2, 1, "2024-01-05 00:00:00", "2024-01-10 00:00:00", "B"),
            (3, 1, "2024-01-10 00:00:00", "2024-01-15 00:00:00", "A"),
        ],
        with_id=True,
    )
    # new segment covers everything with one value -> 1 rebuilt row
    new = _iv(spark, [(1, "2024-01-01 00:00:00", "2024-01-15 00:00:00", "C")])
    final = split_segments(
        existing.drop("segment_id"), new, keys=["series"],
        start_col="start_dt", end_col="end_dt", value_col="value",
    )
    out = recycle_split_ids(
        existing, final, keys=["series"], id_col="segment_id",
    ).collect()
    ups = [r for r in out if r["action"] == "upsert"]
    dels = sorted(r["segment_id"] for r in out if r["action"] == "delete")
    assert len(ups) == 1 and ups[0]["segment_id"] == 1
    assert ups[0]["value"] == "C"
    assert dels == [2, 3]
