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

import math

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


def test_winnowing_density_and_guarantee(spark):
    """Winnowing (SWA'03): (a) expected fingerprint density 2/(w+1)
    on incompressible text — a degenerate gram hash (monotone in
    position, or constant) lands near 1.0 or near 1/n instead of
    0.4; (b) the guarantee: any common substring of length >=
    k + w - 1 between two documents shares at least one fingerprint."""
    import hashlib

    from aquacache_spark.operators.dedup import winnow_fingerprints

    k, w = 8, 4
    # incompressible text: md5-derived hex chars, no repeats
    text = "".join(
        hashlib.md5(f"chunk{i}".encode()).hexdigest() for i in range(64))
    n_grams = len(text) - k + 1
    common = "zqj" + hashlib.md5(b"shared").hexdigest()[:8]  # 11 chars
    assert len(common) == k + w - 1
    docs = spark.createDataFrame(
        [(1, text), (2, text[: len(text) // 2] + common),
         (3, common + "".join(
             hashlib.md5(f"other{i}".encode()).hexdigest()
             for i in range(16)))],
        "doc_id long, text string")
    fps = winnow_fingerprints(docs, k=k, window=w).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    density = len(by_doc[1]) / (n_grams - w + 1)
    assert 0.25 < density < 0.55, density         # E = 2/(w+1) = 0.4
    # guarantee: docs 2 and 3 share only `common` -> >= 1 shared fp
    assert by_doc[2] & by_doc[3]


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


def test_simhash_bit_balance_and_distance(spark):
    """SimHash distributional pins: over unrelated incompressible
    docs, (a) each signature bit is ~Bernoulli(1/2) (a stuck or
    correlated bit plane — e.g. all bit lanes reading the same md5
    bits — pins far from n/2), and (b) pairwise Hamming distance
    concentrates at bits/2; identical docs hash identically."""
    import hashlib

    from aquacache_spark.operators.dedup import simhash

    # ODD token count: an even count ties the +/-1 bit vote at zero
    # with P = C(2m, m)/4^m (~0.14 at 30) and ties resolve to bit 0,
    # making each bit Bernoulli(0.43), not 0.5 — with 31 tokens the
    # vote cannot tie and the Bernoulli(1/2) model is exact
    n, bits = 200, 32
    rows = [(i, " ".join(
        hashlib.md5(f"{i}-{j}".encode()).hexdigest() for j in range(31)))
        for i in range(n)]
    rows.append((n, rows[0][1]))                   # clone of doc 0
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(
        spark.createDataFrame(rows, "doc_id long, text string"),
        bits=bits).collect()}
    assert sigs[n] == sigs[0]
    for j in range(bits):
        ones = sum(1 for i in range(n) if (sigs[i] >> j) & 1)
        # 4.5 sigma around 100 (sigma ~ 7.1)
        assert 68 <= ones <= 132, (j, ones)
    dists = [bin(sigs[i] ^ sigs[i + 1]).count("1")
             for i in range(0, n - 1, 2)]
    mean_d = sum(dists) / len(dists)
    assert 14.0 < mean_d < 18.0, mean_d            # E = 16


def test_weighted_sample_inclusion_probabilities(spark):
    """A-ES weighted sampling, closed form at k=1: P(win) = w_i/sum(w)
    within each stratum. 1000 independent strata of weights (1, 2, 4)
    must select the classes in ~(1/7, 2/7, 4/7) proportions (4-sigma
    binomial bands). A degenerate u (monotone in id — the r2 class)
    gives a near-deterministic winner pattern far outside the bands."""
    from aquacache_spark.operators.dedup import weighted_stratified_sample

    n_strata = 1000
    rows = [(3 * g + c, g, float(1 << c))
            for g in range(n_strata) for c in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, grp int, w double")
    won = weighted_stratified_sample(
        df, k=1, weight_col="w", id_col="doc_id",
        strata_col="grp").collect()
    assert len(won) == n_strata
    counts = [0, 0, 0]
    for r in won:
        counts[r["doc_id"] % 3] += 1
    for c, p in enumerate((1 / 7, 2 / 7, 4 / 7)):
        sd = math.sqrt(p * (1 - p) / n_strata)
        assert abs(counts[c] / n_strata - p) < 4 * sd, (c, counts)
