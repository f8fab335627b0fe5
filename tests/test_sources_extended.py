"""Tests: XML connector, discrete pipeline, fetch groups, salting."""

import pytest
from pyspark.sql import functions as F

from aquacache_spark.sources import registry
from aquacache_spark.sources.discrete import (
    DiscreteBatch, map_parameters, results_wide, validate_batch,
)

SWOB_DIR = "fixtures/connectors/swob"


def test_swob_xml_connector(spark, repo_root):
    import aquacache_spark.sources.xml_swob  # noqa: F401  (registers)

    path = str(repo_root / SWOB_DIR)
    df = registry.get_source("read_swob_xml")(spark, path, element="rel_hum")
    rows = df.orderBy("datetime").collect()
    assert len(rows) == 12  # one per observed minute across 3 files
    assert rows[0]["value"] == 60.0
    assert rows[0]["uom"] == "%"
    # and through the generic dispatch + contract validation:
    out = registry.dispatch(
        spark, "read_swob_xml", {"path": path, "element": "air_temp"}
    )
    vals = [r["value"] for r in out.orderBy("datetime", "value").collect()]
    assert len(vals) == 13  # 12 minutes + the revised re-observation
    assert vals[:2] == [1.0, 9.9]  # both observations of minute 0


@pytest.fixture()
def discrete_batch(spark):
    samples = spark.createDataFrame(
        [
            (1, 10, "2023-01-15 10:00:00", 1, None),
            (2, 10, "2023-04-12 09:30:00", 1, None),
            (3, 10, "2023-04-12 09:31:00", 1, 2),  # field replicate of 2
        ],
        ["sample_id", "location_id", "datetime", "media_id", "linked_with"],
    )
    results = spark.createDataFrame(
        [
            (100, 1, "pH", "field", 7.8, None),
            (101, 1, "Cl", "lab", 12.0, None),
            (102, 2, "Cl", "lab", None, 0.01),  # below detection limit
            (103, 3, "Cl", "lab", 11.8, None),
        ],
        ["result_id", "sample_id", "parameter_id", "result_type",
         "result", "result_condition_value"],
    )
    return DiscreteBatch(samples, results)


def test_discrete_contract_valid(discrete_batch):
    validate_batch(discrete_batch)  # does not raise


def test_discrete_orphan_results_rejected(spark, discrete_batch):
    bad = DiscreteBatch(
        discrete_batch.samples.where(F.col("sample_id") != 1),
        discrete_batch.results,
    )
    with pytest.raises(ValueError, match="unknown samples"):
        validate_batch(bad)


def test_discrete_below_detection_requires_condition(spark, discrete_batch):
    bad = DiscreteBatch(
        discrete_batch.samples,
        discrete_batch.results.withColumn(
            "result_condition_value", F.lit(None).cast("double")
        ),
    )
    with pytest.raises(ValueError, match="detection condition"):
        validate_batch(bad)


def test_parameter_mapping_with_fallback(spark, discrete_batch):
    mapping = spark.createDataFrame(
        [("CL-D", "Cl_dissolved")], ["source_parameter", "parameter_id"]
    )
    r = discrete_batch.results.withColumn(
        "source_parameter",
        F.when(F.col("result_id") == 101, "CL-D").otherwise("UNKNOWN"),
    )
    out = map_parameters(r, mapping)
    got = {row["result_id"]: row["parameter_id"] for row in out.collect()}
    assert got[101] == "Cl_dissolved"  # mapped
    assert got[100] == "pH"  # fallback to original


def test_results_wide_pivot(discrete_batch):
    wide = results_wide(discrete_batch, parameters=["pH", "Cl"])
    row = {r["sample_id"]: r for r in wide.collect()}
    assert row[1]["pH"] == 7.8 and row[1]["Cl"] == 12.0
    assert row[2]["Cl"] is None  # below detection


def test_fetch_task_groups(spark):
    cat = spark.createDataFrame(
        [
            (1, "downloadECCCwx", '{"location": "2100800", "interval": "hour"}', "2024-01-01"),
            (2, "downloadECCCwx", '{"location": "2100800", "interval": "hour"}', "2023-12-01"),
            (3, "downloadECCCwx", '{"location": "2100800", "interval": "day"}', "2024-01-01"),
            (4, "downloadWSC", '{"location": "09AB001"}', "2024-01-01"),
            (5, "downloadWSC", '{"location": "09AB001"}', "2024-01-01"),
        ],
        ["timeseries_id", "source_fx", "source_fx_args", "last_data_point"],
    )
    out = registry.fetch_task_groups(cat).collect()
    groups = {}
    for r in out:
        groups.setdefault(r["group_key"], []).append(r["timeseries_id"])
    # cache-sharing series grouped; others solo
    assert sorted(groups["downloadECCCwx|2100800|hour"]) == [1, 2]
    assert groups["downloadECCCwx|2100800|day"] == [3]
    assert len([k for k in groups if k.startswith("solo|")]) == 2
