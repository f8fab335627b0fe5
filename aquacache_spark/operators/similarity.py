"""Similarity search over embedding columns.

- **Brute-force cosine top-k** (the exactness baseline): broadcast the
  (small) query set against the corpus; cosine in pure JVM expressions
  (``zip_with`` product + ``aggregate`` sum — sequential fold, so the
  result is deterministic and engine-portable); top-k via per-query
  ``row_number``. One pass over the corpus, no shuffle of the corpus
  itself.
- **LSH / IVF / PQ ANN**: random-hyperplane buckets, nearest-centroid
  inverted lists and product-quantized codes, all seeded from md5 so
  every operator is deterministic and oracle-checkable.

Not part of the AquaCache surface: reached only from
``queries/{ann,dedup}.py`` — perfbench's ``embedding_cosine_topk``
probe and the ANN-tier queries a later change still has to cut.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import md5_int


def _as_double(arr):
    return F.transform(arr, lambda x: x.cast("double"))


def _seed_order(id_col: str):
    """Seed-selection order: md5-hash of the id, id tiebreak.

    ``orderBy(id).limit(k)`` seeds are deterministic but BIASED on
    id-correlated corpora (crawl-order ids put all seeds in one
    neighborhood); hashing first spreads the seeds uniformly while
    staying RNG-free and exactly replayable in the DuckDB oracle
    (same md5-prefix integer both engines)."""
    return [md5_int(F.col(id_col).cast("string"), 15), F.col(id_col)]


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
    exclude: DataFrame | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self-matches excluded).

    ``exclude``: optional (query_id, neighbor_id) pairs anti-joined
    out of the SCORED candidates before the rank window (the
    hard-negative-mining hook — excluding after the window would
    undercount whenever excluded pairs crowd the head).

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
    if exclude is not None:
        scored = scored.join(
            exclude.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"], "left_anti")
    w = Window.partitionBy("query_id").orderBy(
        F.desc(_qrank(F.col("cosine"))), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def knn_topk(
    corpus: DataFrame,
    queries: DataFrame,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors under any of the three FAISS metric
    families: ``cosine``, ``ip`` (inner product, MIPS), or ``l2``
    (SQUARED euclidean — the monotone surrogate FAISS also ranks by;
    skipping the sqrt keeps the arithmetic exactly mirrorable).
    Ranking uses the 1e-9-quantized score (engine-wide idiom) with
    neighbor-id ties, ascending for l2, descending otherwise.

    Same scale shape as :func:`cosine_topk`: queries broadcast against
    the corpus scan (the brute-force baseline the IVF/PQ tier
    approximates). Output: query_id, neighbor_id, score, rank.
    """
    if metric not in ("cosine", "ip", "l2"):
        raise ValueError(f"unknown metric {metric!r}")
    # Self-norms are per-ROW quantities: compute them in the side
    # projections before the crossJoin (r12, guide §2.3/§4.1 — the
    # former inline form re-evaluated the interpreted
    # aggregate(zip_with(...)) fold n_queries (resp. n_corpus) times
    # per row, 3x the higher-order-function mass for l2). The fold
    # runs on the identical array with the identical operation order,
    # so every score double is bit-identical to the inline form —
    # same restructure cosine_topk already carries.
    from ._scan import spread_scan

    # spread the under-split corpus scan (see cosine_topk): the
    # per-pair fold work otherwise serializes on the single scan task
    c = spread_scan(corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("__cv")), "neighbor_id")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("__qv"))
    if metric == "cosine":
        c = c.withColumn(
            "__cn", F.sqrt(_dot(F.col("__cv"), F.col("__cv"))))
        q = q.withColumn(
            "__qn", F.sqrt(_dot(F.col("__qv"), F.col("__qv"))))
    elif metric == "l2":
        c = c.withColumn("__cc", _dot(F.col("__cv"), F.col("__cv")))
        q = q.withColumn("__qq", _dot(F.col("__qv"), F.col("__qv")))
    dot = _dot(F.col("__qv"), F.col("__cv"))
    if metric == "cosine":
        score = dot / (F.col("__qn") * F.col("__cn"))
    elif metric == "ip":
        score = dot
    else:  # l2 (squared)
        score = F.col("__qq") - 2 * dot + F.col("__cc")
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", score)
    )
    order = (F.asc(_qrank(F.col("score"))) if metric == "l2"
             else F.desc(_qrank(F.col("score"))))
    w = Window.partitionBy("query_id").orderBy(order, F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def _md5_py(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def hyperplanes(planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random directions, no RNG state: plane p
    component d = (md5_int('p|d') % 2001 - 1000)/1000. Exposed so the
    DuckDB oracle can inline the exact same literals."""
    return [
        [((_md5_py(f"{p}|{d}") % 2001) - 1000) / 1000.0 for d in range(dim)]
        for p in range(planes)
    ]


def lsh_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector: sign-bit string of
    the projections onto `hyperplanes`."""
    v = _as_double(F.col(vec_col))
    bits = []
    for comps_vals in hyperplanes(planes, dim):
        comps = F.array(*[F.lit(c) for c in comps_vals])
        proj = F.aggregate(
            F.zip_with(v, comps, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
        )
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return df.select(
        F.col(id_col), F.concat(*bits).alias("bucket")
    )


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: brute force only within the query's bucket."""
    cb = lsh_buckets(corpus, id_col, vec_col, planes, dim).join(
        corpus.select(id_col, vec_col), id_col
    )
    qb = lsh_buckets(queries, id_col, vec_col, planes, dim).join(
        queries.select(id_col, vec_col), id_col
    )
    c = cb.select(
        F.col("bucket"), F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("__cv"),
    )
    q = qb.select(
        F.col("bucket"), F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("__qv"),
    )
    dot = _dot(F.col("__qv"), F.col("__cv"))
    nq = F.sqrt(_dot(F.col("__qv"), F.col("__qv")))
    nc = F.sqrt(_dot(F.col("__cv"), F.col("__cv")))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", dot / (nq * nc))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(_qrank(F.col("cosine"))), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _cosine(a, b):
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def ivf_centroids(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    nlist: int = 16,
) -> DataFrame:
    """Deterministic centroid seeds: the ``nlist`` hash-first corpus
    vectors (md5(id) order — uniform spread on id-correlated corpora,
    see ``_seed_order``). Production would refine these with MLlib
    k-means|| — the assignment/probe machinery below is identical
    either way, and the deterministic seed keeps the operator RNG-free
    and DuckDB-checkable.

    Output: ``centroid_id``, ``__centv``.
    """
    return (
        corpus.orderBy(*_seed_order(id_col)).limit(nlist)
        .select(
            F.col(id_col).alias("centroid_id"),
            _as_double(F.col(vec_col)).alias("__centv"),
        )
    )


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    iters: int = 3,
    dim: int = 64,
) -> DataFrame:
    """Deterministic Lloyd refinement of the IVF seed centroids.

    k-means with a fixed seed set (the ``nlist`` hash-first vectors,
    quantized to 1e-6), a fixed iteration count, and 1e-6 quantization
    of every centroid update. The update is then an integer sum /
    count — order-independent, so the trained centroids are
    bit-reproducible across engines and runs (the DuckDB oracle replays
    the same iterations). Per iteration: one map-only assignment pass
    (centroids are literals — no join, no corpus shuffle) and one
    ``groupBy(nlist)`` aggregation; the driver holds nlist × dim
    numbers. At 100 TB this is exactly MLlib's k-means shape (per-pass
    assignment + tree-aggregated sums), minus RNG.
    """
    import math

    Q = 1000000.0
    vec = _as_double(F.col(vec_col))
    seeds = (
        corpus.orderBy(*_seed_order(id_col))
        .limit(nlist)
        .select(vec.alias("__cv"))
        .collect()
    )
    cents: list[list[float]] = [
        [math.floor(x * Q + 0.5) / Q for x in row["__cv"]] for row in seeds
    ]

    nv = F.sqrt(_dot(vec, vec))
    qarr = F.transform(vec, lambda x: F.floor(x * Q + F.lit(0.5)))
    for _ in range(iters):
        choices = []
        for cid, cv in enumerate(cents):
            carr = F.array(*[F.lit(c) for c in cv])
            sim = _dot(vec, carr) / (nv * F.sqrt(_dot(carr, carr)))
            # 1e-9 quantization before the argmax: assignment decisions
            # survive sub-quantum engine drift (belt-and-suspenders; the
            # arithmetic is already written to be bit-identical on both
            # engines, and the oracle quantizes the same way)
            qsim = F.floor(sim * 1e9 + F.lit(0.5))
            choices.append(
                F.struct(qsim.alias("s"), F.lit(-cid).alias("nc"))
            )
        best = F.array_max(F.array(*choices))
        rows = (
            corpus.select((-best["nc"]).alias("cid"), qarr.alias("__q"))
            .groupBy("cid")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[F.sum(F.col("__q")[i]).alias(f"s{i}") for i in range(dim)],
            )
            .collect()
        )
        by_cid = {r["cid"]: r for r in rows}
        cents = [
            (
                [
                    math.floor(by_cid[cid][f"s{i}"] / by_cid[cid]["n"] + 0.5) / Q
                    for i in range(dim)
                ]
                if cid in by_cid
                else cv  # empty cluster keeps its previous centroid
            )
            for cid, cv in enumerate(cents)
        ]

    spark = corpus.sparkSession
    from ..session import local_df
    return local_df(
        spark, [(cid, cv) for cid, cv in enumerate(cents)],
        "centroid_id bigint, __centv array<double>",
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    out_id: str = "vec_id",
) -> DataFrame:
    """Top-``nprobe`` nearest centroids per vector (``nprobe=1`` is the
    build-side inverted-list assignment). Centroids are catalog-sized →
    broadcast; the scoring is a map-only pass over ``df``.

    r13 (guide §4.1): each side's self-norm fold is computed ONCE per
    row before the crossJoin instead of per (vector, centroid) pair —
    the identical ``sqrt(dot(x, x))`` fold over the identical array,
    so the cosine doubles are bit-identical (the r12 knn_topk
    restructure). The ``nprobe=1`` build-side assignment is an argmin,
    not a ranking: a min(struct) aggregation replaces the row_number
    window — partial aggregation collapses the nlist rows per vector
    map-side (the exchange shrinks ~nlist x and the per-vector sort
    disappears), and the (-qrank, centroid_id) struct ordering is
    exactly the window's (qrank DESC, centroid_id ASC) tie-break.
    ``__v`` rides along via first(): every row in a group carries the
    same source vector, so the value is deterministic."""
    vn = F.sqrt(_dot(F.col("__v"), F.col("__v")))
    cn = F.sqrt(_dot(F.col("__centv"), F.col("__centv")))
    scored = (
        df.select(F.col(id_col).alias(out_id),
                  _as_double(F.col(vec_col)).alias("__v"))
        .withColumn("__vn", vn)
        .crossJoin(F.broadcast(centroids.withColumn("__cn", cn)))
        .withColumn("__sim", _dot(F.col("__v"), F.col("__centv"))
                    / (F.col("__vn") * F.col("__cn")))
    )
    if nprobe == 1:
        picked = scored.groupBy(out_id).agg(
            F.min(F.struct((-_qrank(F.col("__sim"))).alias("nq"),
                           F.col("centroid_id").alias("c"))).alias("__b"),
            F.first("__v").alias("__v"),
        )
        return picked.select(out_id, F.col("__b.c").alias("centroid_id"),
                             "__v")
    w = Window.partitionBy(out_id).orderBy(
        F.desc(_qrank(F.col("__sim"))), F.asc("centroid_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= nprobe)
        .select(out_id, "centroid_id", "__v")
    )


def ann_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    train_iters: int = 0,
) -> DataFrame:
    """IVF approximate top-k: brute force only within the query's
    ``nprobe`` probed inverted lists.

    Each corpus vector lives in exactly one list, so the probe join
    yields each (query, neighbor) pair at most once — no dedupe needed.
    The probe join shuffles the corpus on ``centroid_id`` once
    (query side broadcast), which is exactly the IVF partitioning a
    1000-executor cluster wants; each query then touches ~nprobe/nlist
    of the data instead of all of it.

    ``train_iters > 0`` refines the seed centroids with that many
    deterministic Lloyd iterations (``kmeans_centroids``) before
    assignment — better-balanced lists, higher recall at the same
    nprobe.
    """
    from ._scan import spread_scan

    if train_iters > 0:
        cent = kmeans_centroids(corpus, id_col, vec_col, nlist, train_iters)
    else:
        cent = ivf_centroids(corpus, id_col, vec_col, nlist)
    corpus = spread_scan(corpus, id_col)
    lists = ivf_assign(corpus, cent, id_col, vec_col, nprobe=1,
                       out_id="neighbor_id").withColumn(
        "__vn", F.sqrt(_dot(F.col("__v"), F.col("__v"))))
    probes = _q_prep(ivf_assign(
        queries, cent, id_col, vec_col, nprobe=nprobe, out_id="query_id"
    ).withColumnRenamed("__v", "__qv"))
    # per-side self-norms precomputed once per row (r13, guide §4.1 —
    # identical folds over identical arrays, bit-identical cosines)
    scored = (
        lists.join(F.broadcast(probes), "centroid_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", _dot(F.col("__qv"), F.col("__v"))
                    / (F.col("__qn") * F.col("__vn")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(_qrank(F.col("cosine"))), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-side scale path for embedding
# stores. A 64-dim float corpus is 256 bytes/vector; m=4 one-byte codes
# are 4 — the compression that lets a 100 TB embedding store's index
# live in cluster RAM. Jegou/Douze/Schmid, "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011.
# ---------------------------------------------------------------------------


def pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    ksub: int = 8,
) -> list:
    """Deterministic PQ codebooks: the ``ksub`` hash-first corpus
    vectors, sliced into ``m`` contiguous subspaces, 1e-6-quantized
    (same seed-and-quantize discipline as ``ivf_centroids`` /
    ``kmeans_centroids`` — RNG-free, replayable in SQL; the per-
    subspace Lloyd refinement hook is the identical update rule).

    Returns driver-side ``cw[s][c] -> list[float]`` (codebooks are
    m*ksub*(dim/m) numbers — catalog-sized, like centroids)."""
    import math

    Q = 1000000.0
    rows = (
        corpus.orderBy(*_seed_order(id_col)).limit(ksub)
        .select(_as_double(F.col(vec_col)).alias("__v"))
        .collect()
    )
    dim = len(rows[0]["__v"])
    width = dim // m
    return [
        [
            [math.floor(x * Q + 0.5) / Q for x in row["__v"][s * width:(s + 1) * width]]
            for row in rows
        ]
        for s in range(m)
    ]


def pq_encode(
    df: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "vec_id",
    keep: Sequence[str] = (),
) -> DataFrame:
    """Map-only PQ encoding: per subspace, the argmin-L2 codeword
    (squared distance quantized to 1e-6 before the argmin so the
    choice is engine-independent; ties break on the lower code id).

    Output: ``(out_id, *keep, code_0 .. code_{m-1})`` — no shuffle,
    whole-stage codegen; at scale this is the one full read of the raw
    embeddings, everything downstream touches only the codes."""
    vec = _as_double(F.col(vec_col))
    width = len(codebooks[0][0])
    cols = [F.col(id_col).alias(out_id), *[F.col(c) for c in keep]]
    for s, cws in enumerate(codebooks):
        sub = F.slice(vec, s * width + 1, width)
        choices = []
        for c, cw in enumerate(cws):
            carr = F.array(*[F.lit(x) for x in cw])
            d2 = F.aggregate(
                F.zip_with(sub, carr, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            d2q = F.floor(d2 * 1000000.0 + F.lit(0.5)).cast("long")
            choices.append(F.struct(d2q.alias("d"), F.lit(c).alias("c")))
        cols.append(F.array_min(F.array(*choices))["c"].alias(f"code_{s}"))
    return df.select(*cols)


def ann_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 4,
    ksub: int = 8,
) -> DataFrame:
    """Asymmetric PQ top-k: queries stay full-precision, corpus vectors
    are reconstructed from their codes (codebook lookup per subspace,
    concatenated), cosine against the reconstruction, exact top-k.

    Scale shape: the ranking pass reads only ``(id, m codes)`` rows —
    ~64x less I/O/memory than the raw embeddings — plus the broadcast
    codebooks; classic ADC replaces the reconstruction dot with
    per-query lookup tables, an executor-local constant-fold of the
    same expression. Composes with the IVF partitioner
    (``ann_topk_ivf``) for the probe-pruned variant
    (``ann_topk_ivfpq``)."""
    from ._scan import spread_scan

    corpus = spread_scan(corpus, id_col)
    codes = pq_encode(corpus, codebooks := pq_codebooks(
        corpus, id_col, vec_col, m, ksub), id_col, vec_col, out_id="neighbor_id")
    q = _q_prep(queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qv")
    ))
    scored = _pq_prep(codes, codebooks).crossJoin(F.broadcast(q)).where(
        F.col("query_id") != F.col("neighbor_id")
    )
    return _pq_rank(scored, k)


def _pq_reconstruction(codebooks: list):
    """``xhat`` = per-subspace codebook lookup, concatenated. The
    codebooks are literal 2D arrays (catalog-sized broadcast-by-plan)."""
    parts = []
    for s, cws in enumerate(codebooks):
        table = F.array(*[F.array(*[F.lit(x) for x in cw]) for cw in cws])
        parts.append(F.element_at(table, F.col(f"code_{s}") + 1))
    return F.concat(*parts)


def _pq_prep(codes: DataFrame, codebooks: list) -> DataFrame:
    """Reconstruction + its norm, computed ONCE per corpus row (r13,
    guide §4.1): ``xhat`` and ``sqrt(dot(xhat, xhat))`` depend only on
    the codes, so evaluating them on the codes frame instead of per
    (query, neighbor) pair saves a 64-element interpreted fold per
    probe collision — same expressions over the same arrays, so every
    downstream cosine double is bit-identical."""
    xhat = _pq_reconstruction(codebooks)
    return codes.withColumn("__xh", xhat).withColumn(
        "__xn", F.sqrt(_dot(F.col("__xh"), F.col("__xh"))))


def _q_prep(q: DataFrame) -> DataFrame:
    """Query-side self-norm, once per probe row before the broadcast
    (same bit-identity argument as :func:`_pq_prep`)."""
    return q.withColumn(
        "__qn", F.sqrt(_dot(F.col("__qv"), F.col("__qv"))))


def _pq_rank(scored: DataFrame, k: int) -> DataFrame:
    """Cosine(query, reconstruction) + per-query exact top-k over a
    frame carrying ``__qv``/``__qn``, ``query_id``, ``neighbor_id``,
    ``__xh``/``__xn`` (from :func:`_pq_prep` / :func:`_q_prep`)."""
    scored = scored.withColumn(
        "cosine",
        _dot(F.col("__qv"), F.col("__xh"))
        / (F.col("__qn") * F.col("__xn")),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(_qrank(F.col("cosine"))), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivfpq_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    m: int = 4,
    ksub: int = 8,
) -> tuple:
    """Build the IVF x PQ index: ``(centroids_df, codebooks, codes_df)``.

    ``codes_df`` is the whole serving state — (neighbor_id,
    centroid_id, m byte-codes), one shuffle-free pass over the raw
    embeddings after the centroid/codebook collects. In production it
    is written once (partitioned by centroid_id) and re-read by every
    serve; the raw float corpus is never scanned again."""
    from ._scan import spread_scan

    cent = ivf_centroids(corpus, id_col, vec_col, nlist)
    cb = pq_codebooks(corpus, id_col, vec_col, m, ksub)
    # r13 (guide §2.5): the fixture corpus reads as ONE split, which
    # serialized the whole assignment+encode map mass on one core
    corpus = spread_scan(corpus, id_col)
    lists = ivf_assign(corpus, cent, id_col, vec_col, nprobe=1, out_id="neighbor_id")
    codes = pq_encode(
        lists, cb, id_col="neighbor_id", vec_col="__v",
        out_id="neighbor_id", keep=["centroid_id"],
    )
    return cent, cb, codes


def ann_topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    m: int = 4,
    ksub: int = 8,
    index: tuple | None = None,
) -> DataFrame:
    """IVF probe pruning x PQ compression — the production ANN shape:
    each query touches ~``nprobe``/``nlist`` of the corpus, and what it
    touches is ``m`` one-byte codes per vector, not raw floats. At
    100 TB the inverted lists are the partitioning key (one corpus
    shuffle at build), the PQ codes table is the only thing the serving
    scan reads, and the codebooks/centroids are driver-held literals.

    Pass ``index`` (from :func:`ivfpq_index`, codes possibly persisted
    and re-read) to serve against a prebuilt index; otherwise the index
    plan is inlined (build + serve in one query, as the oracle replays)."""
    cent, cb, codes = index or ivfpq_index(
        corpus, id_col, vec_col, nlist, m, ksub
    )
    probes = _q_prep(ivf_assign(
        queries, cent, id_col, vec_col, nprobe=nprobe, out_id="query_id"
    ).withColumnRenamed("__v", "__qv"))
    scored = _pq_prep(codes, cb).join(
        F.broadcast(probes), "centroid_id").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    return _pq_rank(scored, k)


def semantic_dedup(
    corpus: DataFrame,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    nlist: int = 16,
    iters: int = 3,
    dim: int = 64,
    max_cluster: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate pruning over an embedding corpus.

    1. Partition the corpus with the deterministic k-means above
       (``centroids`` reuses a trained frame; None trains in place).
    2. Within each cluster, a vector DROPS when its cosine to any
       higher-ranked cluster member reaches ``threshold``. Rank keeps
       the LOWEST-centroid-similarity member of a duplicate group (the
       paper's best-performing keep rule), ties broken by id.

    The drop rule is set-wise ("similar to any earlier member"), not
    sequential — exactly the paper's implementation — so it is one
    equi-self-join keyed by the cluster id: pair mass is sum of
    per-cluster m² (nlist ~ sqrt(N) at corpus scale bounds it when
    clusters stay balanced). Centroids broadcast; one shuffle on the
    cluster key.

    ``max_cluster`` is the degenerate-cluster guard (the SemDeDup
    analog of ``lsh_candidate_pairs``' hot-bucket star cap in
    operators/dedup.py): when set to K, the comparison (b) side is
    restricted to each cluster's top-K keep-priority members (rank by
    centroid-sim ASC, id ASC — the keep rule's own order), so pair
    mass is m*min(m, K) — LINEAR in the cluster size — instead of m².
    Semantics are EXACT for clusters with <= K members and a
    documented approximation above (a drop is missed only when a
    vector's sole similar predecessors all rank past K; in the
    boilerplate-heavy corpora that produce degenerate clusters,
    members are near-identical to the top-ranked ones, so recall loss
    is negligible — same argument as the LSH star cap). Default None
    = exact paper semantics (the differential oracle's regime).

    Output: (id, centroid_id, centroid_sim, kept) for every vector.
    """
    if centroids is None:
        centroids = kmeans_centroids(
            corpus, id_col=id_col, vec_col=vec_col, nlist=nlist,
            iters=iters, dim=dim)
    assigned = (
        corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("__v"))
        .crossJoin(F.broadcast(centroids))
        .withColumn("__sim", _qrank(_cosine(F.col("__v"), F.col("__centv"))))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("__sim"), F.asc("centroid_id"))
    assigned = (
        assigned.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(id_col, "centroid_id", F.col("__sim").alias("__csim"),
                "__v")
        .persist()  # both join sides below read this once-materialized
    )
    qthr = F.floor(F.lit(threshold) * 1e9 + F.lit(0.5))
    b_side = assigned
    if max_cluster is not None:
        # rank-banded b side: the window shuffles on centroid_id, the
        # SAME key the join below hashes on, so the exchange is reused
        # and the b side shrinks to <= nlist * K rows
        wc = Window.partitionBy("centroid_id").orderBy(
            F.asc("__csim"), F.asc(id_col))
        b_side = (
            assigned.withColumn("__crank", F.row_number().over(wc))
            .where(F.col("__crank") <= max_cluster)
            .drop("__crank")
        )
    a = assigned.alias("a")
    b = b_side.alias("b")
    rank_a = F.struct(F.col("a.__csim").alias("s"),
                      F.col(f"a.{id_col}").alias("i"))
    rank_b = F.struct(F.col("b.__csim").alias("s"),
                      F.col(f"b.{id_col}").alias("i"))
    dropped = (
        a.join(b, "centroid_id")
        .where(rank_b < rank_a)  # b ranks first (lower centroid sim)
        .where(_qrank(_cosine(F.col("a.__v"), F.col("b.__v"))) >= qthr)
        .select(F.col(f"a.{id_col}").alias(id_col))
        .distinct()
    )
    return (
        assigned.join(dropped.withColumn("__drop", F.lit(True)),
                      id_col, "left")
        .select(
            id_col, "centroid_id",
            (F.col("__csim") / 1e9).alias("centroid_sim"),
            F.coalesce(~F.col("__drop"), F.lit(True)).alias("kept"),
        )
    )


def int8_scales(
    corpus: DataFrame, vec_col: str = "embedding", dim: int = 64,
) -> list[float]:
    """Per-dimension symmetric absmax scales for int8 scalar
    quantization (the vector-DB storage codec): one posexplode +
    partial-aggregable max per dimension (the shuffle carries ``dim``
    groups after map-side combine), collected to the driver — dim
    floats, catalog-class (the centroid idiom)."""
    rows = (
        corpus.select(F.posexplode(_as_double(F.col(vec_col)))
                      .alias("pos", "v"))
        .groupBy("pos").agg(F.max(F.abs(F.col("v"))).alias("absmax"))
        .collect()
    )
    by_pos = {r["pos"]: r["absmax"] for r in rows}
    return [max(by_pos.get(i, 0.0), 1e-12) for i in range(dim)]


def int8_quantize_stats(
    corpus: DataFrame,
    scales: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantize each vector to int8 codes against literal per-dim
    scales and report reconstruction stats — map-only codegen, no
    join (scales are literals, like trained centroids).

    code_i = clamp(floor(v_i / s_i * 127 + 0.5), -127, 127); the
    reconstruction error is accumulated as exact pico-units
    (floor(err^2 * 1e12 + 0.5) per dim, bigint sum) so the MSE is
    order-independent and oracle-exact. Output: (id, code_psum —
    position-weighted code checksum, n_clipped, mse)."""
    sarr = F.array(*[F.lit(float(s)) for s in scales])
    v = _as_double(F.col(vec_col))
    raw = F.zip_with(
        v, sarr, lambda x, s: F.floor(x / s * 127 + F.lit(0.5)))
    code = F.transform(
        raw, lambda q: F.least(F.greatest(q, F.lit(-127)), F.lit(127)))
    deq = F.zip_with(code, sarr, lambda q, s: q * s / F.lit(127.0))
    err_units = F.aggregate(
        F.zip_with(v, deq,
                   lambda x, d: F.floor((x - d) * (x - d) * 1e12
                                        + F.lit(0.5)).cast("long")),
        F.lit(0).cast("long"), lambda acc, e: acc + e)
    # position-weighted checksum: sum (i+1) * code_i via a sequence zip
    idx = F.sequence(F.lit(1), F.lit(len(scales)))
    psum = F.aggregate(
        F.zip_with(code, idx, lambda q, i: (q * i).cast("long")),
        F.lit(0).cast("long"), lambda acc, e: acc + e)
    n_clipped = F.size(F.filter(
        raw, lambda q: (q > 127) | (q < -127)))
    mse = err_units / F.lit(1e12) / F.lit(float(len(scales)))
    return corpus.select(
        F.col(id_col),
        psum.alias("code_psum"),
        n_clipped.cast("int").alias("n_clipped"),
        mse.alias("mse"),
    )


def cosine_topk_blas(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    quant: int = 1_000_000,
) -> DataFrame:
    """Exact brute-force cosine top-k through an Arrow + BLAS kernel —
    the dense-linear-algebra twin of :func:`cosine_topk` and the one
    place in the engine where a Pandas kernel legitimately beats
    codegen: scoring a corpus batch against q query vectors is ONE
    n x q integer matmul instead of q chained per-row aggregate
    expressions.

    Exactness contract: every embedding component is quantized to an
    int64 micro-unit (floor(x * quant + 0.5)) BEFORE any arithmetic,
    and with 64-dim unit-scale vectors every dot product and norm is
    an exact integer below 2^53 — so numpy's blocked matmul, a JVM
    sequential fold, and DuckDB's list_dot_product all produce the
    identical integer no matter the summation order, and the one
    int->double division afterwards is the same IEEE operation
    everywhere. (The UNquantized cosine of :func:`cosine_topk` is a
    different number at the ~1e-6 level; this operator's oracle
    quantizes identically.) The contract is ASSERTED, not assumed:
    an empty query set raises, and both the query matrix and every
    corpus batch are checked ``dim * max|code|^2 < 2^53`` (larger
    dims or component magnitudes need a smaller ``quant``).

    Scale shape: the query matrix ships in the task closure (the
    query set is catalog-sized by definition); the corpus pass is
    map-only; each Arrow batch emits at most k * n_queries candidate
    rows (batch-local top-k with the global tie-break key, so the
    global top-k over candidates is exact); the final per-query
    window runs over batches * k * q rows — bounded, never
    corpus-cardinality.
    """
    import numpy as np
    import pandas as pd

    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        raise ValueError(
            "cosine_topk_blas: empty query set — the kernel closure "
            "needs at least one query vector")
    qids_np = np.array([r[id_col] for r in qrows], dtype=np.int64)
    qraw = np.array([list(r[vec_col]) for r in qrows], dtype=np.float64)
    qm = np.floor(qraw * quant + 0.5).astype(np.int64)
    qn = (qm * qm).sum(axis=1)  # exact int64 norms
    # exactness contract guard: every dot/norm must stay below 2^53 or
    # the advertised bit-equality with the JVM fold / DuckDB silently
    # degrades (float64 matmul accumulation rounds). dim * max|code|^2
    # bounds both; checked here for queries, per batch for the corpus.
    _EXACT_LIMIT = 2 ** 53
    qmax = int(np.abs(qm).max(initial=0))
    dim = qm.shape[1]
    if dim * qmax * qmax >= _EXACT_LIMIT:
        # suggested bound from the RAW (unquantized) max component —
        # deriving it from qmax/quant re-uses the current quant and is
        # only first-order (ADVICE r11); the -0.5 absorbs the half-up
        # rounding so dim * (vmax*q + 0.5)^2 < 2^53 is guaranteed
        vmax_raw = float(np.abs(qraw).max(initial=0.0))
        q_ok = int(max(
            ((_EXACT_LIMIT / dim) ** 0.5 - 0.5) / max(vmax_raw, 1e-300),
            0.0))
        raise ValueError(
            f"cosine_topk_blas: dim ({dim}) * max|quantized| ({qmax})^2 "
            f">= 2^53 — exact-integer contract broken; need "
            f"quant <= sqrt(2^53/dim)/max|v| (~{q_ok} for this input)")

    out_schema = "query_id long, neighbor_id long, cosine double"

    def kernel(it):
        for pdf in it:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            C = np.floor(
                np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
                * quant + 0.5).astype(np.int64)
            cmax = int(np.abs(C).max(initial=0))
            if C.shape[1] * max(cmax * cmax, cmax * qmax) >= _EXACT_LIMIT:
                raise ValueError(
                    "cosine_topk_blas: corpus batch breaks the "
                    f"exact-integer contract (dim {C.shape[1]}, "
                    f"max|quantized| {cmax}) — lower `quant`")
            dots = C @ qm.T                      # exact (< 2^53)
            nc = (C * C).sum(axis=1)             # exact int64
            cos = (dots.astype(np.float64)
                   / np.sqrt(nc.astype(np.float64)[:, None]
                             * qn.astype(np.float64)[None, :]))
            qr = np.floor(cos * 1e9 + 0.5).astype(np.int64)
            out_q, out_n, out_c = [], [], []
            for j in range(len(qids_np)):
                idx = np.nonzero(ids != qids_np[j])[0]
                if idx.size == 0:
                    continue
                order = np.lexsort((ids[idx], -qr[idx, j]))[:k]
                sel = idx[order]
                out_q.extend([int(qids_np[j])] * len(sel))
                out_n.extend(ids[sel].tolist())
                out_c.extend(cos[sel, j].tolist())
            if out_q:
                yield pd.DataFrame({"query_id": out_q,
                                    "neighbor_id": out_n,
                                    "cosine": out_c})

    cand = corpus.select(id_col, vec_col).mapInPandas(kernel, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.floor(F.col("cosine") * 1e9 + F.lit(0.5))),
        F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def semantic_dedup_blas(
    corpus: DataFrame,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    nlist: int = 16,
    iters: int = 3,
    dim: int = 64,
    max_cluster: int | None = None,
    quant: int = 1_000_000,
) -> DataFrame:
    """:func:`semantic_dedup` with the within-cluster pair stage as an
    Arrow + BLAS kernel (the :func:`cosine_topk_blas` technique): the
    k-means partition and the centroid assignment are IDENTICAL to the
    JVM path, but each cluster's m x min(m, cap) pair-score matrix is
    one integer matmul inside ``applyInPandas`` instead of an
    equi-self-join evaluating a 64-element aggregate expression per
    pair.

    Decision semantics: pair cosines are computed over int64-quantized
    components (floor(x * quant + 0.5)) — exact integers below 2^53,
    bit-identical in any engine — and gated at the same 1e-9-quantized
    threshold. This is a (deterministic, oracled) ~1e-6 decision
    variant of the unquantized JVM path, not a bit-identical twin of
    it; the keep-priority order (centroid-sim ASC, id ASC) and the cap
    banding are exactly the JVM path's.

    Scale shape: one shuffle on centroid_id; per-group memory is
    m x dim ints plus an m x cap score matrix — bounded when
    ``max_cluster`` caps the comparison side (the degenerate-cluster
    guard), which is the regime this kernel exists for.
    """
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if centroids is None:
        centroids = kmeans_centroids(
            corpus, id_col=id_col, vec_col=vec_col, nlist=nlist,
            iters=iters, dim=dim)
    assigned = (
        corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("__v"))
        .crossJoin(F.broadcast(centroids))
        .withColumn("__sim", _qrank(_cosine(F.col("__v"), F.col("__centv"))))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("__sim"), F.asc("centroid_id"))
    assigned = (
        assigned.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(id_col, "centroid_id", F.col("__sim").alias("__csim"),
                "__v")
    )
    qthr = int(math.floor(threshold * 1e9 + 0.5))
    cap = max_cluster
    base_fields = assigned.select(id_col, "centroid_id", "__csim") \
        .schema.fields
    out_schema = T.StructType(
        list(base_fields) + [T.StructField("kept", T.BooleanType())])

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        ids = pdf[id_col].to_numpy()
        csim = pdf["__csim"].to_numpy()
        order = np.lexsort((ids, csim))  # keep-priority: csim ASC, id ASC
        V = np.floor(
            np.stack([np.asarray(v, dtype=np.float64)
                      for v in pdf["__v"]])
            * quant + 0.5).astype(np.int64)[order]
        b_cnt = n if cap is None else min(n, cap)
        B = V[:b_cnt]
        dots = V @ B.T                        # exact (< 2^53)
        na = (V * V).sum(axis=1).astype(np.float64)
        nb = na[:b_cnt]
        cos = dots.astype(np.float64) / np.sqrt(na[:, None]
                                                * nb[None, :])
        qr = np.floor(cos * 1e9 + 0.5).astype(np.int64)
        jj = np.arange(b_cnt)[None, :]
        ii = np.arange(n)[:, None]
        dropped_o = ((qr >= qthr) & (jj < ii)).any(axis=1)
        kept = np.empty(n, dtype=bool)
        kept[order] = ~dropped_o
        return pd.DataFrame({
            id_col: pdf[id_col], "centroid_id": pdf["centroid_id"],
            "__csim": pdf["__csim"], "kept": kept})

    out = assigned.groupBy("centroid_id").applyInPandas(fn, out_schema)
    return out.select(
        id_col, "centroid_id",
        (F.col("__csim") / 1e9).alias("centroid_sim"), "kept")


def hard_negative_mining(
    corpus: DataFrame,
    queries: DataFrame,
    positives: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard negatives for contrastive retrieval training (the
    DPR/ANCE recipe): per query, the ``k`` highest-cosine corpus
    items NOT labeled as positives — the near-miss items a dense
    retriever most needs to learn to separate.

    ``positives``: labeled (query_id, neighbor_id) pairs. Exclusion
    joins the SCORED candidate pairs before the rank window — an
    over-fetch-then-filter would undercount whenever a query's
    positives crowd the head of the ranking.

    Output: query_id, neighbor_id, cosine, rank (1..k over the
    surviving negatives).

    Scale: same shape as :func:`cosine_topk` (queries broadcast
    against the corpus scan, 1e-9-quantized rank order); the
    exclusion is an equi-anti-join on (query_id, neighbor_id) that
    AQE broadcasts when the label set is small. Thin wrapper over
    :func:`cosine_topk`'s ``exclude`` hook — one scoring/ranking
    body, so a tie-break or quantization change cannot diverge the
    two (the empty-label degeneration test pins the equivalence).
    """
    return cosine_topk(corpus, queries, id_col=id_col,
                       vec_col=vec_col, k=k, exclude=positives)
