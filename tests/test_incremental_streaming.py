"""Tests for the incremental recompute cascade and the Structured
Streaming front-end."""

import time

import pytest
from pyspark.sql import functions as F

from aquacache_spark.operators.daily import daily_rollup
from aquacache_spark.streaming.incremental import (
    downstream_closure,
    expand_changed_ranges,
    high_watermarks,
    incremental_daily_refresh,
    series_bounds,
    trim_daily_tail,
)


@pytest.fixture()
def compound_members(spark):
    # ts6 depends on ts1+ts2; ts10 on ts2+ts9; ts20 on ts10 (nested)
    return spark.createDataFrame(
        [(6, 1), (6, 2), (10, 2), (10, 9), (20, 10)],
        ["timeseries_id", "member_timeseries_id"],
    )


def test_downstream_closure_transitive(spark, compound_members):
    seeds = spark.createDataFrame([(2,)], ["id"])
    got = sorted(
        r["id"] for r in downstream_closure(compound_members, seeds).collect()
    )
    assert got == [2, 6, 10, 20]  # nested compound 20 reached through 10


def test_downstream_closure_starts_one_spark_job(spark, compound_members):
    """The closure is a driver-side BFS: one job collects the edges and
    the seeds, and none runs per level or to pick a path."""
    import uuid

    sc = spark.sparkContext
    group = f"closure-{uuid.uuid4().hex}"
    seeds = spark.createDataFrame([(2,), (9,)], ["id"])
    sc.setJobGroup(group, "downstream_closure")
    try:
        out = downstream_closure(compound_members, seeds)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert sorted(r["id"] for r in out.collect()) == [2, 6, 9, 10, 20]


def test_expand_changed_ranges_fans_out(spark, compound_members):
    changes = spark.createDataFrame(
        [(2, "2024-01-01 00:00:00", "2024-01-02 00:00:00")],
        ["timeseries_id", "min_dt", "max_dt"],
    )
    out = expand_changed_ranges(changes, compound_members)
    ids = sorted(r["timeseries_id"] for r in out.collect())
    assert ids == [2, 6, 10, 20]


@pytest.fixture()
def member_chain(spark):
    # series k + 1 has series k as its only member: 40 series, 39 links
    return spark.createDataFrame(
        [(k + 1, k) for k in range(1, 40)],
        ["timeseries_id", "member_timeseries_id"],
    )


def test_downstream_closure_has_no_depth_cap(spark, member_chain):
    seeds = spark.createDataFrame([(1,)], ["id"])
    got = sorted(
        r["id"] for r in downstream_closure(member_chain, seeds).collect())
    assert got == list(range(1, 41))


def test_expand_changed_ranges_has_no_depth_cap(spark, member_chain):
    changes = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "2024-01-02 00:00:00")],
        ["timeseries_id", "min_dt", "max_dt"],
    )
    out = expand_changed_ranges(changes, member_chain)
    assert sorted(r["timeseries_id"] for r in out.collect()) == list(
        range(1, 41))


def test_incremental_refresh_touches_only_changed_slices(spark):
    meas = spark.createDataFrame(
        [(1, f"2024-01-0{d} 0{h}:00:00", float(10 * d + h))
         for d in (1, 2, 3) for h in (0, 1)],
        ["timeseries_id", "datetime", "value"],
    ).withColumn("datetime", F.col("datetime").cast("timestamp"))
    existing = spark.createDataFrame(
        [(1, "2024-01-01", 10.5), (1, "2024-01-02", 99.0)],  # day2 stale
        ["timeseries_id", "date", "value"],
    ).withColumn("date", F.col("date").cast("date"))
    changes = spark.createDataFrame(
        [(1, "2024-01-02 00:00:00", "2024-01-02 23:59:59")],
        ["timeseries_id", "min_dt", "max_dt"],
    )

    def rollup(df):
        return daily_rollup(df, keys=["timeseries_id"], dt_col="datetime",
                            value_col="value", agg_type="mean")

    out = incremental_daily_refresh(meas, changes, existing, rollup)
    rows = {str(r["date"]): r for r in out.collect()}
    assert list(rows) == ["2024-01-02"]  # only the changed slice recomputed
    assert rows["2024-01-02"]["merge_action"] == "update"
    assert rows["2024-01-02"]["value"] == 20.5


def test_incremental_refresh_classifies_on_every_shared_column(spark):
    """A revision that keeps the daily value but moves min/max (points
    [1, 2, 3] -> [0, 2, 4]) or only the count (a point equal to the
    mean added to [1, 3]) must be an update: a value-only comparison
    leaves stale min/max/count in the daily store."""
    new_points = {1: [0.0, 2.0, 4.0], 2: [1.0, 2.0, 3.0], 3: [5.0, 5.0],
                  4: [7.0]}
    meas = spark.createDataFrame(
        [(1, f"2024-01-0{d} 0{h}:00:00", v)
         for d, vs in new_points.items() for h, v in enumerate(vs)],
        ["timeseries_id", "datetime", "value"],
    ).withColumn("datetime", F.col("datetime").cast("timestamp"))
    # the stored rows, written from the old points: day 1 [1, 2, 3],
    # day 2 [1, 3], day 3 [5, 5] (untouched); day 4 is new
    existing = spark.createDataFrame(
        [(1, "2024-01-01", 2.0, 1.0, 3.0, 2.0, 3),
         (1, "2024-01-02", 2.0, 1.0, 3.0, 2.0, 2),
         (1, "2024-01-03", 5.0, 5.0, 5.0, 5.0, 2)],
        "timeseries_id long, date string, value double, min double, "
        "max double, mean double, count long",
    ).withColumn("date", F.col("date").cast("date"))
    changes = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "2024-01-04 23:59:59")],
        ["timeseries_id", "min_dt", "max_dt"],
    )

    def rollup(df):
        return daily_rollup(df, keys=["timeseries_id"], dt_col="datetime",
                            value_col="value", agg_type="mean")

    out = incremental_daily_refresh(meas, changes, existing, rollup)
    rows = {str(r["date"]): r for r in out.collect()}
    assert {d: r["merge_action"] for d, r in rows.items()} == {
        "2024-01-01": "update", "2024-01-02": "update",
        "2024-01-03": "unchanged", "2024-01-04": "insert"}
    assert [rows["2024-01-01"][c] for c in ("value", "min", "max")] == \
        [2.0, 0.0, 4.0]
    assert (rows["2024-01-02"]["value"], rows["2024-01-02"]["count"]) == \
        (2.0, 3)
    assert not any(c.startswith("__old") for c in out.columns)


def test_incremental_refresh_inserts_only_absent_days(spark):
    """A stored day with a NULL value (the dense spine
    refresh_calculated_daily writes) is matched, so its recompute is
    an update; only a day missing from the store is an insert."""
    meas = spark.createDataFrame(
        [(1, "2024-01-02 00:00:00", 5.0), (1, "2024-01-03 00:00:00", 6.0)],
        ["timeseries_id", "datetime", "value"],
    ).withColumn("datetime", F.col("datetime").cast("timestamp"))
    existing = spark.createDataFrame(
        [(1, "2024-01-02", None, 0)],
        "timeseries_id long, date string, value double, count long",
    ).withColumn("date", F.col("date").cast("date"))
    changes = spark.createDataFrame(
        [(1, "2024-01-02 00:00:00", "2024-01-03 23:59:59")],
        ["timeseries_id", "min_dt", "max_dt"],
    )

    def rollup(df):
        return daily_rollup(df, keys=["timeseries_id"], dt_col="datetime",
                            value_col="value", agg_type="mean")

    out = incremental_daily_refresh(meas, changes, existing, rollup)
    assert {str(r["date"]): r["merge_action"] for r in out.collect()} == {
        "2024-01-02": "update", "2024-01-03": "insert"}
    assert "__present" not in out.columns


def test_trim_tail_and_bounds_and_watermarks(spark):
    meas = spark.createDataFrame(
        [(1, "2024-01-01 05:00:00", 1.0), (1, "2024-01-02 07:00:00", 2.0)],
        ["timeseries_id", "datetime", "value"],
    ).withColumn("datetime", F.col("datetime").cast("timestamp"))
    daily = spark.createDataFrame(
        [(1, "2024-01-02", 2.0), (1, "2024-01-05", 9.0)],
        ["timeseries_id", "date", "value"],
    ).withColumn("date", F.col("date").cast("date"))
    trimmed = trim_daily_tail(daily, meas).collect()
    assert [str(r["date"]) for r in trimmed] == ["2024-01-05"]
    b = series_bounds(meas).collect()[0]
    assert str(b["start_datetime"]).startswith("2024-01-01 05")
    w = high_watermarks(meas).collect()[0]
    assert str(w["last_data_point"]).startswith("2024-01-02 07")


def test_structured_stream_end_to_end(spark, tmp_path):
    from aquacache_spark.streaming.structured import (
        read_measurement_stream, start_incremental_sink, windowed_rollup,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    batch1 = spark.createDataFrame(
        [(1, "2024-01-01 00:10:00", 5.0), (1, "2024-01-01 00:40:00", 7.0),
         (2, "2024-01-01 01:05:00", 1.0)],
        ["timeseries_id", "datetime", "value"],
    ).withColumn("datetime", F.col("datetime").cast("timestamp"))
    batch1.write.mode("append").parquet(str(landing))

    seen = []

    def process(df, epoch_id):
        seen.append(df.collect())

    stream = read_measurement_stream(spark, str(landing))
    rolled = windowed_rollup(stream, window_seconds=3600, watermark="10 minutes")
    q = start_incremental_sink(rolled, process, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = [r for batch in seen for r in batch]
    agg = {(r["timeseries_id"], str(r["bin_start"])): r for r in rows}
    assert agg[(1, "2024-01-01 00:00:00")]["n"] == 2
    assert agg[(1, "2024-01-01 00:00:00")]["mean"] == 6.0
    assert agg[(2, "2024-01-01 01:00:00")]["n"] == 1


def test_stateful_streaming_increments_match_batch(spark, tmp_path):
    """applyInPandasWithState carries the scan state across micro-batches
    AND across a query restart (checkpointed state store): the streamed
    increments must equal a batch recompute over the full history."""
    from aquacache_spark.operators.increments import compute_increments
    from aquacache_spark.streaming.stateful import streaming_increments
    from aquacache_spark.streaming.structured import read_measurement_stream

    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def mk(rows):
        return spark.createDataFrame(
            rows, ["timeseries_id", "datetime", "value"]
        ).withColumn("datetime", F.col("datetime").cast("timestamp"))

    # gauge fills 5->8, resets to 1 (drop >= 3), refills; series 2 has a
    # chain-breaking 3h gap — the reset and the gap straddle the batch
    # boundary so correctness requires carried state.
    batch1 = [(1, "2024-01-01 00:00:00", 5.0), (1, "2024-01-01 00:15:00", 8.0),
              (2, "2024-01-01 00:00:00", 10.0)]
    batch2 = [(1, "2024-01-01 00:30:00", 1.0), (1, "2024-01-01 00:45:00", 2.5),
              (2, "2024-01-01 03:30:00", 11.0)]

    seen = []

    def run_one(rows):
        mk(rows).coalesce(1).write.mode("append").parquet(str(landing))
        stream = read_measurement_stream(spark, str(landing))
        inc = streaming_increments(
            stream, reset_drop=3.0, min_pos=0.0,
            period_seconds=900.0, max_gap=4,
        )
        q = (inc.writeStream
             .foreachBatch(lambda df, _eid: seen.extend(df.collect()))
             .option("checkpointLocation", ckpt)
             .outputMode("append").start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_one(batch1)
    run_one(batch2)

    batch_out = compute_increments(
        mk(batch1 + batch2), keys=["timeseries_id"],
        reset_drop=3.0, min_pos=0.0, period_seconds=900.0, max_gap=4,
    ).collect()
    expect = {(r["timeseries_id"], str(r["datetime"])): r["increment"]
              for r in batch_out}
    got = {(r["timeseries_id"], str(r["datetime"])): r["increment"]
           for r in seen}
    assert got == expect
    # sanity on the semantics themselves
    assert expect[(1, "2024-01-01 00:30:00")] == 0.0   # reset detected
    assert expect[(1, "2024-01-01 00:45:00")] == 1.5   # post-reset refill
    assert expect[(2, "2024-01-01 03:30:00")] is None  # gap broke chain


def test_streaming_rollup_merges_into_store(spark, tmp_path):
    """The production write path end to end: windowed streaming rollup
    -> foreachBatch -> ParquetMergeStore MERGE keyed on (series, bin).
    Late rows inside the watermark re-emit their window (update mode)
    and the merge overwrites the stale store row, so after both
    micro-batches the store equals a batch recompute over all data."""
    from aquacache_spark.sources.store import ParquetMergeStore
    from aquacache_spark.streaming.structured import (
        read_measurement_stream, start_incremental_sink, windowed_rollup,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    store = ParquetMergeStore(
        spark, str(tmp_path / "store"),
        key_cols=["timeseries_id", "bin_start"], n_buckets=4,
    )

    def mk(rows):
        return spark.createDataFrame(
            rows, ["timeseries_id", "datetime", "value"]
        ).withColumn("datetime", F.col("datetime").cast("timestamp"))

    def process(df, epoch_id):
        if df.isEmpty():
            return
        store.merge(
            df.select("timeseries_id", "bin_start", "n", "min", "max", "mean"))

    stream = read_measurement_stream(spark, str(landing))
    rolled = windowed_rollup(stream, window_seconds=3600, watermark="10 minutes")
    q = start_incremental_sink(rolled, process, ckpt)
    try:
        mk([(1, "2024-01-01 00:10:00", 4.0),
            (1, "2024-01-01 00:40:00", 8.0),
            (2, "2024-01-01 01:05:00", 1.0)]).write.mode("append").parquet(
            str(landing))
        q.processAllAvailable()
        # late row lands inside series 1's 00:00 window + a new window
        mk([(1, "2024-01-01 00:50:00", 9.0),
            (2, "2024-01-01 02:30:00", 3.0)]).write.mode("append").parquet(
            str(landing))
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["timeseries_id"], str(r["bin_start"])): r
        for r in store.read().collect()
    }
    assert got[(1, "2024-01-01 00:00:00")]["n"] == 3  # late row merged in
    assert got[(1, "2024-01-01 00:00:00")]["mean"] == 7.0
    assert got[(1, "2024-01-01 00:00:00")]["max"] == 9.0
    assert got[(2, "2024-01-01 01:00:00")]["n"] == 1
    assert got[(2, "2024-01-01 02:00:00")]["n"] == 1
    assert len(got) == 3


def test_streaming_merge_survives_restart(spark, tmp_path):
    """Kill the query between micro-batches and restart from the same
    checkpoint: the merge-keyed sink is idempotent on (series, bin), so
    the store converges to the batch-equivalent answer with no dupes."""
    from aquacache_spark.sources.store import ParquetMergeStore
    from aquacache_spark.streaming.structured import (
        read_measurement_stream, start_incremental_sink, windowed_rollup,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    store = ParquetMergeStore(
        spark, str(tmp_path / "store"),
        key_cols=["timeseries_id", "bin_start"], n_buckets=4,
    )

    def mk(rows):
        return spark.createDataFrame(
            rows, ["timeseries_id", "datetime", "value"]
        ).withColumn("datetime", F.col("datetime").cast("timestamp"))

    def process(df, epoch_id):
        if not df.isEmpty():
            store.merge(
                df.select("timeseries_id", "bin_start", "n", "min", "max",
                          "mean"))

    def start():
        stream = read_measurement_stream(spark, str(landing))
        rolled = windowed_rollup(stream, window_seconds=3600,
                                 watermark="10 minutes")
        return start_incremental_sink(rolled, process, ckpt)

    q = start()
    try:
        mk([(1, "2024-01-01 00:10:00", 2.0),
            (1, "2024-01-01 00:20:00", 4.0)]).write.mode("append").parquet(
            str(landing))
        q.processAllAvailable()
    finally:
        q.stop()

    # second file lands while the query is DOWN; restart picks it up
    mk([(1, "2024-01-01 00:30:00", 6.0),
        (1, "2024-01-01 01:10:00", 8.0)]).write.mode("append").parquet(
        str(landing))
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["timeseries_id"], str(r["bin_start"])): r
        for r in store.read().collect()
    }
    assert got[(1, "2024-01-01 00:00:00")]["n"] == 3
    assert got[(1, "2024-01-01 00:00:00")]["mean"] == 4.0
    assert got[(1, "2024-01-01 01:00:00")]["n"] == 1
    assert len(got) == 2


def test_cdf_drives_scoped_daily_refresh(spark, tmp_path):
    """merge -> changes(v1, v2) -> changed ranges -> scoped daily
    recompute: the CDF-scoped result must equal a full recompute on
    the changed slices, and untouched (series, date) slices are never
    recomputed."""
    from pyspark.sql import functions as F

    from aquacache_spark.operators.daily import daily_rollup
    from aquacache_spark.sources.store import ParquetMergeStore
    from aquacache_spark.streaming.incremental import (
        changed_ranges_from_cdf, incremental_daily_refresh,
    )

    def mk(rows):
        return spark.createDataFrame(
            rows, ["timeseries_id", "datetime", "value"]
        ).withColumn("datetime", F.col("datetime").cast("timestamp"))

    store = ParquetMergeStore(
        spark, str(tmp_path / "cdfstore"), ["timeseries_id", "datetime"],
        n_buckets=4)
    base = mk([(s, f"2024-01-{d:02d} {h:02d}:00:00", float(s * 100 + d + h))
               for s in (1, 2, 3) for d in (1, 2) for h in (0, 12)])
    store.merge(base)

    def rollup(df):
        return daily_rollup(df, keys=["timeseries_id"], dt_col="datetime",
                            value_col="value", agg_type="mean")

    daily_v1 = rollup(store.read(1))

    # v2: series 1 day 1 gets a corrected hour; series 3 gets a new day
    store.merge(mk([(1, "2024-01-01 00:00:00", 999.0),
                    (3, "2024-01-03 00:00:00", 7.0)]))

    ranges = changed_ranges_from_cdf(store.changes(1, 2))
    got = {(r["timeseries_id"], str(r["min_dt"])[:10], str(r["max_dt"])[:10])
           for r in ranges.collect()}
    assert got == {(1, "2024-01-01", "2024-01-01"),
                   (3, "2024-01-03", "2024-01-03")}

    out = incremental_daily_refresh(
        store.read(), ranges, daily_v1, rollup)
    rows = {(r["timeseries_id"], str(r["date"])): r
            for r in out.collect()}
    # only the two changed slices appear
    assert set(rows) == {(1, "2024-01-01"), (3, "2024-01-03")}
    assert rows[(1, "2024-01-01")]["merge_action"] == "update"
    assert rows[(1, "2024-01-01")]["value"] == (999.0 + 113.0) / 2
    assert rows[(3, "2024-01-03")]["merge_action"] == "insert"
    assert rows[(3, "2024-01-03")]["value"] == 7.0

