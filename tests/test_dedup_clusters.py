"""Closed-form tests for the MinHash-LSH operators behind the
``minhash_lsh_pairs`` probe: the hot-bucket star cap and the hash
family."""


def test_lsh_hot_bucket_cap_star_semantics(spark):
    from aquacache_spark.operators.dedup import lsh_candidate_pairs

    # 6 docs with identical signatures (one hot bucket in every band)
    # plus a small 2-doc bucket in band 0 only
    hot = [(i, [7, 7, 7, 7, 7, 7, 7, 7]) for i in range(6)]
    small = [(10, [1, 2, 9, 9, 9, 9, 9, 9]), (11, [1, 2, 8, 8, 8, 8, 8, 8])]
    sig = spark.createDataFrame(hot + small,
                                "doc_id bigint, sig array<bigint>")
    capped = lsh_candidate_pairs(sig, num_hashes=8, bands=4, max_bucket=4)
    got = sorted((r["id_a"], r["id_b"]) for r in capped.collect())
    # hot bucket -> star on min id (5 edges, not 15); small bucket ->
    # its one true pair
    assert got == [(0, 1), (0, 2), (0, 3), (0, 4), (0, 5), (10, 11)]
    # connectivity for clustering is preserved exactly
    parent = {i: i for i in (*range(6), 10, 11)}

    def find(i):
        while parent[i] != i:
            i = parent[i]
        return i

    for a, b in got:
        parent[max(find(a), find(b))] = min(find(a), find(b))
    assert all(find(i) == 0 for i in range(6))
    assert find(10) == find(11) == 10
    # uncapped baseline still emits all 15 + 1 pairs
    full = lsh_candidate_pairs(sig, num_hashes=8, bands=4, max_bucket=None)
    assert full.count() == 16


def test_minhash_family_has_independent_argmins(spark):
    # r11 regression pin: the pre-fix family h_i = (a_i*base + b_i)
    # mod 2^61-1 never wrapped (a_i*base < 2^58), so every h_i was a
    # monotone map of the same md5 base — for ANY doc pair the
    # signature positions matched all-or-nothing (argmin shared or
    # not), collapsing banded-LSH recall from 1-(1-J^w)^b to J. With a
    # genuinely wrapping family, a pair with fractional Jaccard must
    # show a MIX of matching and differing positions across 16 hashes.
    from aquacache_spark.operators.dedup import minhash_signatures

    half_a = " ".join(f"shared{j}" for j in range(30))
    docs = spark.createDataFrame(
        [(1, half_a + " " + " ".join(f"a{j}" for j in range(30))),
         (2, half_a + " " + " ".join(f"b{j}" for j in range(30)))],
        "doc_id long, text string")
    sig = {r["doc_id"]: r["sig"] for r in
           minhash_signatures(docs, num_hashes=16).collect()}
    matches = sum(x == y for x, y in zip(sig[1], sig[2]))
    # J ~ 0.45 here; all-16 or zero-16 is exactly the broken-family
    # signature (P < 1e-4 for a real family), a mid-range count is not
    assert 0 < matches < 16, f"degenerate family: {matches}/16 match"
