"""Behavioral-soundness pins for every mirrored-construction family
(VERDICT r11 #1, the r2-minhash risk class): each assert is against
GROUND TRUTH (closed-form probability, combinatorial property, or an
independent numpy Monte Carlo), never against the DuckDB mirror — so
a degenerate-but-mirrored construction (the r2 minhash family, the
r11 Weyl H-driver) fails here even while the cross-engine hash gate
stays green.  Companion pins elsewhere:
test_regional_h_driver_matches_iid_ground_truth (trend),
test_minhash_family_has_independent_argmins (dedup).
"""

import pytest
from pyspark.sql import functions as F


def test_kmv_bottom_k_estimator_accuracy(spark):
    """KMV distinct-count: D_hat = (k-1) * 2^60 / v_k must land within
    the Bar-Yossef relative-error envelope (~1/sqrt(k-1), generous 4x
    band) on a known-cardinality key space, and the bottom-k must be
    a genuinely uniform sample of it (parity mix ~ Binomial(k, 1/2)).
    A monotone-in-key 'hash' (the r2-style degeneracy) packs v_k at
    ~k/2^60 or at key-order minima and fails the ratio band by orders
    of magnitude."""
    from aquacache_spark.operators.sketch import kmv_bottom_k

    n, k = 50_000, 64
    df = spark.range(n).select(
        F.concat(F.lit("key-"), F.col("id")).alias("key"))
    rows = kmv_bottom_k(df, "key", k=k).collect()
    assert len(rows) == k
    est = rows[0]["distinct_estimate"]
    assert 0.6 * n < est < 1.6 * n, est          # ~4.8 sigma band
    # sample uniformity: the parity of the sampled key indices mixes
    evens = sum(1 for r in rows
                if int(r["key"].split("-")[1]) % 2 == 0)
    assert 16 <= evens <= 48, evens               # 4 sigma around 32
    # and the k minima are spread, not clustered: v_1/v_k << 1
    hs = sorted(r["h"] for r in rows)
    assert hs[0] < 0.2 * hs[-1]


def test_hilbert_key_bijective_and_adjacent(spark):
    """Hilbert curve ground truth at bits=4: the 16x16 grid's keys are
    a PERMUTATION of 0..255 and consecutive keys are always L1-grid
    neighbors (the no-long-jumps property that distinguishes Hilbert
    from Morton — a broken state table or a Morton fallback fails
    adjacency at every quadrant seam)."""
    from aquacache_spark.operators.vector import hilbert_key

    cells = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)],
        "x int, y int")
    # bounds [0, 15]: qx = floor(clamp(x/15)*15) = x exactly
    out = cells.select(
        "x", "y",
        hilbert_key(F.col("x").cast("double"), F.col("y").cast("double"),
                    0.0, 15.0, 0.0, 15.0, bits=4).alias("hk")).collect()
    keys = sorted(r["hk"] for r in out)
    assert keys == list(range(256))
    by_key = {r["hk"]: (r["x"], r["y"]) for r in out}
    for d in range(255):
        (x1, y1), (x2, y2) = by_key[d], by_key[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, (d, by_key[d], by_key[d + 1])


def test_morton_key_matches_closed_form(spark):
    """Morton key ground truth: the operator's key equals the Python
    bit-interleave for every cell of the 16x16 grid (and is therefore
    bijective)."""
    from aquacache_spark.operators.vector import zorder_key

    def interleave(qx, qy):
        z = 0
        for i in range(4):
            z |= ((qx >> i) & 1) << (2 * i)
            z |= ((qy >> i) & 1) << (2 * i + 1)
        return z

    cells = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)],
        "x int, y int")
    out = cells.select(
        "x", "y",
        zorder_key(F.col("x").cast("double"), F.col("y").cast("double"),
                   0.0, 15.0, 0.0, 15.0, bits=4).alias("zk")).collect()
    for r in out:
        assert r["zk"] == interleave(r["x"], r["y"]), (r["x"], r["y"])
