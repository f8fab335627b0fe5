"""Exact brute-force cosine top-k over embedding columns.

Broadcast the (small) query set against the corpus; cosine in pure JVM
expressions (``zip_with`` product + ``aggregate`` sum — sequential fold,
so the result is deterministic and engine-portable); top-k via
per-query ``row_number``. One pass over the corpus, no shuffle of the
corpus itself.

Not part of the AquaCache surface: the module holds only the operator
of perfbench's ``embedding_cosine_topk`` probe (``queries/ann.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _as_double(arr):
    return F.transform(arr, lambda x: x.cast("double"))


def _qrank(c):
    """1e-9 quantization of a similarity used as a RANKING/THRESHOLD
    key (not an output value): structure-determining comparisons must
    not flip on last-ulp differences between engine dot-product
    implementations (Spark's sequential fold vs the oracle's
    list_dot_product)."""
    return F.floor(c * 1e9 + F.lit(0.5))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self-matches excluded).

    Norms are computed once per corpus/query row in the projections
    (not per scored pair — the corpus norm would otherwise be
    recomputed n_queries times per row).

    Output: query_id, neighbor_id, cosine, rank.
    """
    from ._scan import spread_scan

    # the n_corpus x n_queries interpreted scoring fold runs in the
    # SCAN stage: a single-row-group parquet reads as one task and
    # serializes it on one core (r12, guide §2.5 input skew); spread
    # the narrow (id, vec) projection when the scan is under-split —
    # a no-op at real split counts
    c = spread_scan(corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("__cv"),
    ), "neighbor_id")
    c = c.withColumn("__nc", F.sqrt(_dot(F.col("__cv"), F.col("__cv"))))
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qv")
    )
    q = q.withColumn("__nq", F.sqrt(_dot(F.col("__qv"), F.col("__qv"))))
    dot = _dot(F.col("__qv"), F.col("__cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", dot / (F.col("__nq") * F.col("__nc")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(_qrank(F.col("cosine"))), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
