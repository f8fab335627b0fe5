"""Link-graph operators for web-corpus curation.

Web-scale training pipelines weight and filter documents by the HOST
graph (which sites link which): PageRank-style centrality is the
classic quality prior (seed lists, crawl frontiers, spam demotion).
The reference has no link data (it is a hydrometric store); this
module belongs to the training-data extension tier (SURVEY north
star).

Determinism (the repo-wide exact-sum idiom, taken further): the whole
power iteration runs in INTEGER arithmetic — ranks are bigint
micro-units, per-edge contributions are integer divisions of the
source rank by its out-degree, damping is `85 * x // 100`. Integer
addition is associative and both engines floor-divide positives
identically, so every iteration is bit-equal between Spark and the
DuckDB oracle under ANY partitioning — no float accumulation-order
hazard, which a naive double-valued PageRank has in every reducer.

Scale shape: each iteration is one equi-join (ranks x edges on src)
plus one partial-aggregable groupBy(dst) — the canonical iterative
Spark pattern. The edge list is data-cardinality (never broadcast,
never collected); per-iteration driver work is O(1) (one 1-row agg
for the dangling mass, broadcast back). Iterations are a fixed small
count; at 100 TB each iteration's lineage should be cut with a
checkpoint/write every few rounds (documented, not needed at bench
scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: rank unit: 1.0 of probability mass == 10^9 units
PR_UNIT = 1_000_000_000


def host_pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
    initial_ranks: DataFrame | None = None,
) -> DataFrame:
    """Integer-exact PageRank over a (src, dst) edge list.

    Every node starts at ``PR_UNIT`` (mass is unnormalized: total ~=
    n * PR_UNIT; divide by n * PR_UNIT for probabilities). One update:

        pr'(v) = (100 - damping_pct) * PR_UNIT // 100
                 + damping_pct * ( sum_{u -> v} pr(u) // outdeg(u)
                                   + dangling // n ) // 100

    where ``dangling`` is the summed rank of zero-out-degree nodes,
    shared uniformly. All divisions are floor divisions of
    non-negative bigints, so the fixpoint trajectory is bit-identical
    in any engine and under any partitioning (truncation dust — at
    most outdeg units per node per round — is deliberately dropped
    identically on both sides rather than redistributed).

    Output: (node, rank_units bigint, rank double = units / PR_UNIT).
    Self-loops count as ordinary edges; duplicate (src, dst) rows
    should be de-duplicated by the caller if multi-edges are not
    intended.
    """
    nodes = (
        edges.select(F.col(src_col).alias("node"))
        .unionByName(edges.select(F.col(dst_col).alias("node")))
        .distinct()
    )
    outdeg = edges.groupBy(F.col(src_col).alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg"))
    # degree table rides every iteration: materialize it once.
    # localCheckpoint, not persist — blocks are released by the
    # ContextCleaner when the frame goes out of scope (persist would
    # pin it in the CacheManager across battery runs), and a lost
    # block fails loudly instead of silently recomputing.
    deg = nodes.join(outdeg, "node", "left").select(
        "node", F.coalesce("outdeg", F.lit(0)).alias("outdeg")
    ).localCheckpoint(eager=True)
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n"))
    e = edges.select(F.col(src_col).alias("src"),
                     F.col(dst_col).alias("dst"))

    base_u = (100 - damping_pct) * PR_UNIT // 100
    if initial_ranks is None:
        pr = deg.select("node", "outdeg",
                        F.lit(PR_UNIT).cast("long").alias("pr"))
    else:
        # warm start (incremental maintenance over an edge delta /
        # change feed): seed from a previous run's ranks; nodes new
        # to this graph fall back to PR_UNIT. A few iterations from a
        # warm seed converge where a cold start needs the full count.
        # node-cardinality frame: plain equi-join on node (AQE picks
        # broadcast when it fits), never a forced broadcast
        init = initial_ranks.select(
            F.col("node"), F.col("rank_units").alias("__init"))
        pr = deg.join(init, "node", "left").select(
            "node", "outdeg",
            F.coalesce("__init", F.lit(PR_UNIT)).cast("long").alias("pr"))
    for _ in range(iterations):
        # truncate the lineage each round: the dangling-mass agg and
        # the next iteration's join must read THIS round's ranks, not
        # replay every earlier round (O(iters^2) work and a driver
        # broadcast round trip per replay otherwise)
        pr = pr.localCheckpoint(eager=True)
        dang = (
            pr.where(F.col("outdeg") == 0)
            .agg(F.coalesce(F.sum("pr"), F.lit(0)).alias("dang"))
        )
        contrib = (
            e.join(pr.where(F.col("outdeg") > 0), e.src == F.col("node"))
            .select(F.col("dst").alias("node"),
                    F.expr("pr div outdeg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("insum"))
        )
        pr = (
            deg.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .crossJoin(F.broadcast(n_nodes))
            .select(
                "node", "outdeg",
                (F.lit(base_u)
                 + F.expr(f"{damping_pct} * (coalesce(insum, 0)"
                          " + dang div n) div 100")
                 ).cast("long").alias("pr"),
            )
        )
    return pr.select(
        "node", F.col("pr").alias("rank_units"),
        (F.col("pr") / F.lit(float(PR_UNIT))).alias("rank"),
    )


def connected_components(
    edges: DataFrame,
    ids: DataFrame,
    max_iters: int = 25,
) -> DataFrame:
    """Connected components with POINTER JUMPING — the deep-graph
    complement to plain min-label propagation, which needs DIAMETER
    rounds: fine for LSH's shallow near-cliques but hopeless for
    chain-shaped graphs (containment chains, citation paths, redirect
    chains). Each round combines

    - neighbor-min: l(u) <- min(l(u), min over neighbors' labels), and
    - path halving: l(u) <- min(l(u), l(l(u))),

    so label trees halve in depth every round: O(log diameter) rounds
    total (a 100k-node chain converges in ~17 instead of 100k).

    ``edges``: (id_a, id_b) undirected; ``ids``: one column of node
    ids (isolated nodes become singletons). Output: (node,
    component_rep, component_size) with rep = min id in the component.

    Scale shape per round: one equi-join (edges x labels) + one
    partial-aggregable min, plus one labels-x-labels equi-join for the
    jump — all shuffles on node keys, localCheckpoint truncates the
    plan per round, and the driver sees only a 1-row convergence
    count.
    """
    id_col = ids.columns[0]
    e = (
        edges.select(F.col("id_a").alias("src"),
                     F.col("id_b").alias("dst"))
        .unionByName(edges.select(F.col("id_b").alias("src"),
                                  F.col("id_a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = ids.select(F.col(id_col).alias("node"),
                        F.col(id_col).alias("lab"))
    for _ in range(max_iters):
        labels = labels.localCheckpoint(eager=True)
        neigh = (
            e.join(labels.withColumnRenamed("node", "dst")
                   .withColumnRenamed("lab", "__nl"), "dst")
            .groupBy("src").agg(F.min("__nl").alias("__nmin"))
            .withColumnRenamed("src", "node")
        )
        l1 = (
            labels.join(neigh, "node", "left")
            .select("node",
                    F.least(F.col("lab"),
                            F.coalesce("__nmin", F.col("lab")))
                    .alias("lab"))
        )
        jump = (
            l1.join(labels.select(F.col("node").alias("lab"),
                                  F.col("lab").alias("__ll")),
                    "lab", "left")
            .select("node",
                    F.least(F.col("lab"),
                            F.coalesce("__ll", F.col("lab")))
                    .alias("lab"))
        )
        changed = (
            jump.withColumnRenamed("lab", "__new")
            .join(labels, "node")
            .where(F.col("__new") != F.col("lab"))
            .count()
        )
        labels = jump
        if changed == 0:
            break
    sizes = labels.groupBy("lab").agg(
        F.count(F.lit(1)).alias("component_size"))
    return (
        labels.join(sizes, "lab")
        .select(F.col("node").alias(id_col),
                F.col("lab").alias("component_rep"),
                "component_size")
    )
