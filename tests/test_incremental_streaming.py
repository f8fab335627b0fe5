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


def test_streaming_sessionization_matches_batch(spark, tmp_path):
    """Append-mode session_window: sessions merge across micro-batches
    while open and emit exactly once when the watermark passes their
    end — the emitted set must equal the batch sessionization of the
    closed history, and the still-open tail must NOT emit."""
    from aquacache_spark.streaming.structured import (
        read_measurement_stream, sessionize_stream, start_incremental_sink,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def write(rows):
        spark.createDataFrame(
            rows, ["timeseries_id", "datetime", "value"],
        ).withColumn("datetime", F.col("datetime").cast("timestamp")) \
         .write.mode("append").parquet(str(landing))

    seen = []

    def process(df, epoch_id):
        seen.append(df.collect())

    stream = read_measurement_stream(spark, str(landing))
    rolled = sessionize_stream(stream, gap="30 minutes",
                               watermark="1 hour")
    q = start_incremental_sink(rolled, process, ckpt,
                               output_mode="append")
    try:
        # two sessions for series 1 (gap > 30 min), one for series 2;
        # the second event of session A arrives in a LATER micro-batch
        # and must merge into the open session
        write([(1, "2024-01-01 00:00:00", 1.0),
               (2, "2024-01-01 00:05:00", 1.0)])
        q.processAllAvailable()
        write([(1, "2024-01-01 00:10:00", 1.0),
               (1, "2024-01-01 01:30:00", 1.0)])
        q.processAllAvailable()
        # watermark pusher: 10:00 - 1h closes everything above
        write([(1, "2024-01-01 10:00:00", 1.0)])
        q.processAllAvailable()
        # far-future tail: closes the 10:00 session, stays open itself
        write([(2, "2024-01-02 12:00:00", 1.0)])
        q.processAllAvailable()
    finally:
        q.stop()

    got = {(r["timeseries_id"], str(r["session_start"]),
            str(r["session_end"]), r["n_events"])
           for batch in seen for r in batch}
    assert got == {
        (1, "2024-01-01 00:00:00", "2024-01-01 00:40:00", 2),
        (1, "2024-01-01 01:30:00", "2024-01-01 02:00:00", 1),
        (2, "2024-01-01 00:05:00", "2024-01-01 00:35:00", 1),
        (1, "2024-01-01 10:00:00", "2024-01-01 10:30:00", 1),
    }  # the 2024-01-02 session is still open -> not emitted


def test_streaming_hll_matches_batch(spark, tmp_path):
    """The HLL register vector as applyInPandasWithState state: 2^p
    ints per group FOREVER (bounded-state streaming distinct-count).
    After two micro-batch phases the last emission per group must
    equal the batch sketch over the full history — s_units
    bit-identical, not just the estimate."""
    from aquacache_spark.operators.sketch import hll_distinct
    from aquacache_spark.streaming.stateful import streaming_hll_distinct

    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "source string, k string"

    def write(lo, hi):
        spark.range(lo, hi).select(
            F.when(F.col("id") % 2 == 0, "a").otherwise("b")
            .alias("source"),
            (F.col("id") % 700).cast("string").alias("k"),
        ).write.mode("append").parquet(str(landing))

    latest = {}

    def process(df, epoch_id):
        for r in df.collect():
            latest[r["source"]] = r

    stream = (spark.readStream.format("parquet").schema(schema)
              .option("maxFilesPerTrigger", 4).load(str(landing)))
    q = (streaming_hll_distinct(stream, "k", group_col="source")
         .writeStream.outputMode("update")
         .option("checkpointLocation", ckpt)
         .foreachBatch(process).start())
    try:
        write(0, 600)
        q.processAllAvailable()
        write(600, 2000)
        q.processAllAvailable()
    finally:
        q.stop()

    full = spark.range(0, 2000).select(
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("source"),
        (F.col("id") % 700).cast("string").alias("k"))
    batch = {r["source"]: r for r in hll_distinct(
        full, "k", group_cols=["source"]).collect()}
    for g in ("a", "b"):
        assert latest[g]["s_units"] == batch[g]["s_units"], g
        assert latest[g]["estimate"] == batch[g]["estimate"], g
        assert latest[g]["n_registers"] == batch[g]["n_registers"], g


def test_streaming_countmin_matches_batch(spark, tmp_path):
    """The d x w count-min counter matrix as per-sketch-row streaming
    state (w bigints per row forever). After two micro-batch phases
    the final counters must equal the batch sketch counter-for-counter
    and the probe estimates must agree."""
    from aquacache_spark.operators.sketch import countmin_build
    from aquacache_spark.streaming.stateful import streaming_countmin

    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "k string"
    d, w = 4, 64

    def write(lo, hi):
        spark.range(lo, hi).select(
            (F.col("id") % 37).cast("string").alias("k"),
        ).write.mode("append").parquet(str(landing))

    latest = {}

    def process(df, epoch_id):
        for r in df.collect():
            latest[r["row"]] = r

    stream = (spark.readStream.format("parquet").schema(schema)
              .option("maxFilesPerTrigger", 4).load(str(landing)))
    q = (streaming_countmin(stream, "k", d=d, w=w)
         .writeStream.outputMode("update")
         .option("checkpointLocation", ckpt)
         .foreachBatch(process).start())
    try:
        write(0, 300)
        q.processAllAvailable()
        write(300, 1000)
        q.processAllAvailable()
    finally:
        q.stop()

    full = spark.range(0, 1000).select(
        (F.col("id") % 37).cast("string").alias("k"))
    batch = {}
    for r in countmin_build(full, "k", d=d, w=w).collect():
        batch.setdefault(r["row"], {})[r["cell"]] = r["cnt"]
    assert set(latest) == set(range(d))
    for i in range(d):
        got = {j: c for j, c in enumerate(latest[i]["counters"]) if c}
        assert got == batch[i], f"row {i}"
        assert latest[i]["total"] == 1000 * 1  # every key hits every row


def test_streaming_funnel_matches_batch(spark, tmp_path):
    """Per-user funnel state (len(steps) bigints, no event history)
    across two in-order micro-batch phases must equal the batch
    funnel_steps over the full history."""
    from aquacache_spark.operators.funnel import funnel_steps
    from aquacache_spark.streaming.stateful import streaming_funnel

    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id long, event_type string, ts timestamp"
    steps = ["view", "click", "purchase"]

    def frame(lo, hi):
        return spark.range(lo, hi).select(
            (F.col("id") % 40).alias("user_id"),
            F.when(F.col("id") % 3 == 0, "view")
            .when(F.col("id") % 3 == 1, "click")
            .otherwise("purchase").alias("event_type"),
            F.timestamp_seconds(F.lit(1700000000)
                                + F.col("id") * 1800).alias("ts"),
        )

    latest = {}

    def process(df, epoch_id):
        for r in df.collect():
            latest[r["user_id"]] = r

    # one file per phase + one file per trigger: the in-order-arrival
    # contract the operator documents (file-source tie order between
    # same-mtime part files is not name-sorted)
    stream = (spark.readStream.format("parquet").schema(schema)
              .option("maxFilesPerTrigger", 1).load(str(landing)))
    q = (streaming_funnel(stream, steps, max_gap_hours=24)
         .writeStream.outputMode("update")
         .option("checkpointLocation", ckpt)
         .foreachBatch(process).start())
    try:
        frame(0, 300).coalesce(1).write.mode("append") \
            .parquet(str(landing))
        q.processAllAvailable()
        frame(300, 900).coalesce(1).write.mode("append") \
            .parquet(str(landing))
        q.processAllAvailable()
    finally:
        q.stop()

    batch = {r["user_id"]: r for r in
             funnel_steps(frame(0, 900), steps,
                          max_gap_hours=24).collect()}
    # streaming emits a row per touched user incl. those that never
    # reached step 1; the batch frame starts at step-1 users
    stream_started = {u: r for u, r in latest.items()
                      if r["t1"] is not None}
    assert set(stream_started) == set(batch)
    for u, b in batch.items():
        s = stream_started[u]
        for c in ("t1", "t2", "t3", "steps_completed"):
            assert s[c] == b[c], (u, c, s[c], b[c])


def test_streaming_kmv_matches_batch(spark, tmp_path):
    """KMV as bounded streaming state (k hash/key pairs per group
    forever): after two micro-batch phases the last emission per
    group equals the batch sketch over the full history — v_k and
    the estimate bit-identical."""
    from aquacache_spark.operators.sketch import kmv_bottom_k
    from aquacache_spark.streaming.stateful import streaming_kmv_distinct

    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "source string, k string"

    def write(lo, hi):
        spark.range(lo, hi).select(
            F.when(F.col("id") % 2 == 0, "a").otherwise("b")
            .alias("source"),
            (F.col("id") % 900).cast("string").alias("k"),
        ).write.mode("append").parquet(str(landing))

    latest = {}

    def process(df, epoch_id):
        for r in df.collect():
            latest[r["source"]] = r

    stream = (spark.readStream.format("parquet").schema(schema)
              .option("maxFilesPerTrigger", 4).load(str(landing)))
    q = (streaming_kmv_distinct(stream, "k", group_col="source")
         .writeStream.outputMode("update")
         .option("checkpointLocation", ckpt)
         .foreachBatch(process).start())
    try:
        write(0, 500)
        q.processAllAvailable()
        write(500, 2400)
        q.processAllAvailable()
    finally:
        q.stop()

    full = spark.range(0, 2400).select(
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("source"),
        (F.col("id") % 900).cast("string").alias("k"))
    batch = kmv_bottom_k(full, "k", group_col="source", k=64)
    bagg = {r["source"]: r for r in batch.groupBy("source").agg(
        F.max("h").alias("vk"),
        F.max("distinct_estimate").alias("est")).collect()}
    for g in ("a", "b"):
        assert latest[g]["vk"] == bagg[g]["vk"], g
        assert latest[g]["distinct_estimate"] == bagg[g]["est"], g
        assert latest[g]["n_kept"] == 64
