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


def test_distribution_psi_closed_form(spark):
    from aquacache_spark.operators.sketch import distribution_psi
    import math

    # group "a" mirrors the corpus exactly at half mass; group "b" is
    # shifted entirely into the top bin
    rows = ([("a", float(v)) for v in (10, 10, 500, 500)]
            + [("b", 1000.0)] * 4)
    df = spark.createDataFrame(rows, "src string, v double")
    out = {r["src"]: r for r in distribution_psi(
        df, "v", "src", lo=0.0, hi=1024.0, bins=4).collect()}
    assert out["a"]["n_rows"] == 4 and out["b"]["n_rows"] == 4

    def psi(counts_g, counts_all, n_g, n_all, bins=4):
        tot = 0
        for i in range(bins):
            p = (counts_g.get(i, 0) + 1) / (n_g + bins)
            q = (counts_all.get(i, 0) + 1) / (n_all + bins)
            tot += math.floor((p - q) * math.log(p / q) * 1e9 + 0.5)
        return tot / 1e9

    ca = {0: 2, 1: 2, 3: 4}  # corpus: bins of 10->0, 500->1, 1000->3
    assert out["a"]["psi"] == psi({0: 2, 1: 2}, ca, 4, 8)
    assert out["b"]["psi"] == psi({3: 4}, ca, 4, 8)
    assert out["a"]["psi"] > 0 and out["b"]["psi"] > 0
    # NULL values drop from bins AND totals
    df2 = spark.createDataFrame(
        rows + [("a", None)], "src string, v double")
    out2 = {r["src"]: r for r in distribution_psi(
        df2, "v", "src", lo=0.0, hi=1024.0, bins=4).collect()}
    assert out2["a"]["n_rows"] == 4
    assert out2["a"]["psi"] == out["a"]["psi"]


def test_kmv_estimate_and_merge(spark):
    from aquacache_spark.operators.sketch import kmv_bottom_k

    # ~1500 distinct keys, one group: (k-1)/v_k lands within the
    # expected O(1/sqrt(k)) band of the truth
    df = spark.range(1500).select(
        F.lit("g").alias("grp"), F.col("id").cast("string").alias("k"))
    out = kmv_bottom_k(df, "k", group_col="grp", k=64).collect()
    assert len(out) == 64
    est = out[0]["distinct_estimate"]
    assert abs(est - 1500) / 1500 < 0.35
    # below-k group: the estimate is the exact count
    small = spark.range(10).select(
        F.lit("g").alias("grp"), F.col("id").cast("string").alias("k"))
    souts = kmv_bottom_k(small, "k", group_col="grp", k=64).collect()
    assert len(souts) == 10
    assert souts[0]["distinct_estimate"] == 10.0
    # mergeability: bottom-k of the union == bottom-k over the merged
    # per-shard bottom-ks
    a = spark.range(0, 800).select(
        F.lit("g").alias("grp"), F.col("id").cast("string").alias("k"))
    b = spark.range(400, 1500).select(
        F.lit("g").alias("grp"), F.col("id").cast("string").alias("k"))
    direct = {(r["k"], r["rank"]) for r in kmv_bottom_k(
        a.unionByName(b), "k", group_col="grp", k=64).collect()}
    ka = kmv_bottom_k(a, "k", group_col="grp", k=64) \
        .select("grp", "k")
    kb = kmv_bottom_k(b, "k", group_col="grp", k=64) \
        .select("grp", "k")
    remerged = {(r["k"], r["rank"]) for r in kmv_bottom_k(
        ka.unionByName(kb), "k", group_col="grp", k=64).collect()}
    assert direct == remerged


def test_kmv_rank_filter_uses_window_group_limit(spark):
    from aquacache_spark import queries as Q

    df = Q.QUERIES["kmv_distinct_sample"](
        spark, "/root/testdata/sf0.001")
    p = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "WindowGroupLimit" in p
    assert "SinglePartition" not in p
