"""Closed-form tests for duplicate_clusters (connected components) and
stratified_split determinism."""

from pyspark.sql import functions as F

from aquacache_spark.operators.dedup import duplicate_clusters, stratified_split


def test_chain_and_singleton_components(spark):
    # chain 1-2-3-4 (diameter 3 -> needs >1 propagation round),
    # pair 10-11, singleton 20
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a bigint, id_b bigint")
    ids = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 10, 11, 20)],
                                "doc_id bigint")
    out = {r["doc_id"]: (r["cluster_rep"], r["cluster_size"])
           for r in duplicate_clusters(pairs, ids).collect()}
    assert out[1] == (1, 4) and out[4] == (1, 4)
    assert out[10] == (10, 2) and out[11] == (10, 2)
    assert out[20] == (20, 1)


def test_split_deterministic_and_stratified(spark):
    docs = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(200)],
        "doc_id bigint, source string",
    )
    out1 = stratified_split(docs, fractions={"a": (50, 25)}).collect()
    out2 = stratified_split(docs, fractions={"a": (50, 25)}).collect()
    assert sorted(map(str, out1)) == sorted(map(str, out2))  # no RNG anywhere
    rows = {r["doc_id"]: r for r in out1}
    for r in rows.values():
        tr, va = (50, 25) if r["source"] == "a" else (90, 5)
        expected = ("train" if r["__bucket"] < tr
                    else "val" if r["__bucket"] < tr + va else "test")
        assert r["split"] == expected
    # both strata must see every split class at these sizes
    for src in ("a", "b"):
        got = {r["split"] for r in rows.values() if r["source"] == src}
        assert got == {"train", "val", "test"}


def test_lsh_hot_bucket_cap_star_semantics(spark):
    from aquacache_spark.operators.dedup import (duplicate_clusters,
                                                 lsh_candidate_pairs)

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
    ids = sig.select("doc_id")
    out = {r["doc_id"]: (r["cluster_rep"], r["cluster_size"])
           for r in duplicate_clusters(capped, ids).collect()}
    assert all(out[i] == (0, 6) for i in range(6))
    assert out[10] == (10, 2) and out[11] == (10, 2)
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
    from aquacache_spark.operators.dedup import (
        minhash_signatures, minhash_signatures_maponly)

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
    # map-only twin stays bit-identical to the groupBy form
    sig2 = {r["doc_id"]: r["sig"] for r in
            minhash_signatures_maponly(docs, num_hashes=16).collect()}
    assert sig == sig2


def test_paragraph_dedup_keep_first(spark):
    """Keep-first paragraph dedup: the first corpus occurrence (by
    (doc_id, pos)) of a repeated paragraph survives, every later copy
    is dropped; a doc of pure boilerplate collapses to ''."""
    from aquacache_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha beta\n\nSHARED FOOTER\n\ngamma delta"),
            (2, "epsilon zeta\n\nshared   footer"),  # ws/case-normalized dup
            (3, "Shared Footer"),                    # pure boilerplate
            (4, "unique paragraph only"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in paragraph_dedup(docs).collect()}
    assert out[1]["cleaned_text"] == (
        "alpha beta\n\nSHARED FOOTER\n\ngamma delta")
    assert (out[1]["n_kept"], out[1]["n_dropped"]) == (3, 0)
    assert out[2]["cleaned_text"] == "epsilon zeta"
    assert (out[2]["n_kept"], out[2]["n_dropped"]) == (1, 1)
    assert out[3]["cleaned_text"] == ""
    assert (out[3]["n_kept"], out[3]["n_dropped"]) == (0, 1)
    assert out[4]["cleaned_text"] == "unique paragraph only"
    # document order is preserved through the fingerprint shuffle
    assert out[1]["cleaned_text"].split("\n\n")[2] == "gamma delta"


def test_edit_distance_verify_cap(spark):
    """Threshold-capped Levenshtein verify: pairs within max_dist
    survive with their exact distance; pairs above it are dropped
    (the -1 early-exit), and a negative cap is rejected."""
    import pytest

    from aquacache_spark.operators.dedup import edit_distance_verify

    docs = spark.createDataFrame(
        [(1, "kitten small"), (2, "sitting small"),
         (3, "a wholly different document body")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "id_a long, id_b long")
    rows = edit_distance_verify(docs, pairs, max_dist=5).collect()
    assert [(r["id_a"], r["id_b"], r["edit_dist"]) for r in rows] == [
        (1, 2, 3)]  # kitten->sitting = 3 edits; (1,3) capped out
    # tight cap drops everything
    assert edit_distance_verify(docs, pairs, max_dist=2).count() == 0
    with pytest.raises(ValueError, match="max_dist"):
        edit_distance_verify(docs, pairs, max_dist=-1)


def test_paragraph_dedup_randomized_vs_reference(spark):
    """Randomized differential vs an INDEPENDENT pure-Python keep-first
    implementation (not the DuckDB mirror), plus idempotence: re-running
    on the cleaned corpus drops nothing."""
    import random
    import re

    from aquacache_spark.operators.dedup import paragraph_dedup

    rng = random.Random(1234)
    vocab = ["alpha", "beta", "Gamma", "delta  x", "epsilon"]
    rows = []
    for doc in range(40):
        paras = []
        for _ in range(rng.randint(0, 5)):
            # small paragraph space forces plenty of cross-doc repeats;
            # mixed case + double spaces exercise normalization
            paras.append(" ".join(rng.choices(vocab, k=rng.randint(1, 3))))
        rows.append((doc, "\n\n".join(paras)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def norm(p):
        return re.sub(r"\s+", " ", p.strip()).lower()

    # independent reference: first (doc, pos) per normalized paragraph
    seen, ref = set(), {}
    for doc, text in rows:
        kept = []
        n_all = 0
        for p in re.split(r"\n{2,}", text):
            if not p.strip():
                continue
            n_all += 1
            key = norm(p)
            if key not in seen:
                seen.add(key)
                kept.append(p)
        ref[doc] = ("\n\n".join(kept), len(kept), n_all - len(kept))

    out = {r["doc_id"]: (r["cleaned_text"], r["n_kept"], r["n_dropped"])
           for r in paragraph_dedup(docs).collect()}
    assert out == ref
    # idempotence: a second pass over the cleaned corpus is a no-op
    cleaned = spark.createDataFrame(
        [(d, t) for d, (t, _, _) in ref.items()],
        "doc_id long, text string")
    again = paragraph_dedup(cleaned).collect()
    assert all(r["n_dropped"] == 0 for r in again)
    assert {r["doc_id"]: r["cleaned_text"] for r in again} == \
        {d: t for d, (t, _, _) in ref.items()}


def test_edit_distance_verify_randomized_vs_reference(spark):
    """Randomized differential vs an independent pure-Python
    Levenshtein (classic DP, no banding): the JVM threshold-capped
    implementation must agree exactly on kept pairs and distances,
    and drop precisely the pairs whose true distance exceeds the
    cap."""
    import random

    from aquacache_spark.operators.dedup import edit_distance_verify

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rng = random.Random(99)
    alphabet = "abcd "
    texts = {}
    for i in range(30):
        base = "".join(rng.choices(alphabet, k=rng.randint(0, 25)))
        texts[i] = base
    docs = spark.createDataFrame(list(texts.items()),
                                 "doc_id long, text string")
    pairs = [(a, b) for a in range(30) for b in range(30) if a < b]
    cand = spark.createDataFrame(pairs, "id_a long, id_b long")
    max_dist = 6
    got = {(r["id_a"], r["id_b"]): r["edit_dist"]
           for r in edit_distance_verify(docs, cand, max_dist).collect()}
    want = {(a, b): d for a, b in pairs
            if (d := lev(texts[a], texts[b])) <= max_dist}
    assert got == want
    assert want and len(want) < len(pairs)  # both arms exercised
