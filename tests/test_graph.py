"""Connected components by pointer jumping (operators/graph.py)."""

from pyspark.sql import functions as F


def _union_find_reps(edges, nodes):
    """Reference components: min node id per component."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_pointer_jumping_converges_on_deep_chain(spark):
    """A 5000-node path has diameter 5000 — plain min-label would need
    5000 rounds; pointer jumping must resolve it inside 16 (log-depth)
    and agree with a union-find reference on a random shallow graph."""
    from aquacache_spark.operators.graph import connected_components

    ids = spark.range(5_000).select(F.col("id").alias("doc_id"))
    chain = spark.range(4_999).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    out = connected_components(chain, ids, max_iters=16)
    rows = out.collect()
    assert all(r["component_rep"] == 0 for r in rows)
    assert all(r["component_size"] == 5_000 for r in rows)

    # random shallow graph: parity with the union-find reference
    pairs = spark.range(300).select(
        (F.col("id") * 7919 % 500).alias("id_a"),
        (F.col("id") * 104729 % 500).alias("id_b"),
    ).where(F.col("id_a") != F.col("id_b"))
    nodes = spark.range(500).select(F.col("id").alias("doc_id"))
    got = {(r["doc_id"], r["component_rep"]) for r in
           connected_components(pairs, nodes).collect()}
    ref = _union_find_reps(
        [(r["id_a"], r["id_b"]) for r in pairs.collect()], range(500))
    assert got == set(ref.items())
