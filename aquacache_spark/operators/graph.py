"""Graph operators: connected components by pointer jumping.

Determinism: labels are node ids and every round is an integer
``min`` over equi-join results, which is associative, so the labels
are identical under any partitioning and match the DuckDB oracle.

Scale shape: each round is a few equi-joins plus partial-aggregable
``min`` groupBys on node keys. The edge list is data-cardinality
(never broadcast, never collected); per-round driver work is one
1-row convergence count, and ``localCheckpoint`` cuts the lineage
every round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
