"""Deduplication operators for text-corpus pipelines.

- **exact**: md5 fingerprint groupBy — one shuffle on the hash, group
  sizes are duplicate-cluster sizes.
- **MinHash + LSH**: k-word shingles -> m portable hash functions ->
  per-band bucket keys -> candidate pairs from each bucket's member
  list. Only documents that share a band key meet, so cost follows
  true duplicate mass, not n².
- **SimHash**: per-token hash bits weighted-summed into a compact
  signature; near-dups share signatures / low Hamming distance.
- **n-gram Jaccard**: exact verification on candidate pairs.

The hash primitive (md5-hex -> int, functions/text.py) is bit-identical
in the DuckDB oracle, so every stage is differentially testable.

Not part of the AquaCache surface: reached only from
``queries/dedup.py`` — perfbench's ``minhash_lsh_pairs`` probe and the
dedup-tier queries a later change still has to cut.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint, md5_int, tokens, word_shingles
from ._scan import spread_scan

# MinHash universal-hash family over the Mersenne-31 field (r11 fix):
# the original family h_i = (a_i * base + b_i) mod (2^61 - 1) with a
# 52-bit md5 base and a_i <= 35 NEVER WRAPPED (a_i * base < 2^58 < M),
# so every h_i was a MONOTONE map of the same base — all num_hashes
# "independent" minima shared one argmin shingle, every LSH band
# carried the same key, and per-pair recall collapsed from
# 1-(1-J^w)^b to J. The fix reduces the base to 31 bits and multiplies
# by ~2^30 constants so (A_i * x + B_i) mod p wraps ~2^30 times — a
# genuine 2-universal permutation per i. Constants are
# (1103515245*(i+1)+12345) % p / (2654435761*(i+1)+1013904223) % p,
# precomputed so both engines see identical literals; products stay
# < 2^62, portable int64 arithmetic in Spark and DuckDB.
MINHASH_P31 = 2147483647  # 2^31 - 1
MINHASH_A = [(1103515245 * (i + 1) + 12345) % MINHASH_P31
             for i in range(64)]
MINHASH_B = [(2654435761 * (i + 1) + 1013904223) % MINHASH_P31
             for i in range(64)]


# Stamped into every persisted signature/band-key artifact (ADVICE
# r11): the r11 family change silently invalidated any store built
# under the degenerate 2^61 family — a mixed-version incremental run
# would see ZERO collisions, not an error. Bump on any change to the
# hash family, shingling, or band-key layout.
MINHASH_FAMILY = "mersenne31-v2"


def _with_corpus_total(freq: DataFrame, cnt_col: str) -> DataFrame:
    """Stamp the corpus-wide ``total`` = sum(cnt_col) onto a count
    frame WITHOUT an unpartitioned window: an empty-frame
    ``F.sum().over(Window.partitionBy())`` shuffles the whole vocab
    into ONE task just to compute a constant — harmless on a toy vocab,
    a single-task bottleneck on a web-scale (10^8+ row) one. Instead:
    distributed partial aggregation to a 1-row frame, then a broadcast
    cross-join back. Long addition is associative, so the total is
    bit-identical to the window form.

    The vacuous ``cnt_col > 0`` predicate (every caller passes a
    count(*) column, always >= 1) is a canonicalization stabilizer
    (r13, guide §2.4): without it the optimizer collapses
    ``sum(count(*))`` into a bare ``count(*)`` that bypasses the
    count aggregate entirely, so the total branch's exchange no
    longer matches the main branch's and the upstream explode
    re-executes instead of being reused (runtime-plan evidence in
    plans/r13/trigram_surprisal_after_runtime.txt's predecessor)."""
    total = freq.where(F.col(cnt_col) > 0).agg(
        F.sum(cnt_col).alias("total"))
    return freq.crossJoin(F.broadcast(total))


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Duplicate clusters by exact normalized-text fingerprint.

    Output: fingerprint, n_docs, representative (min id), doc_ids.
    """
    fp = df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint"))
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("representative"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
    )


#: Version tag of the paragraph fingerprint construction (trim ->
#: whitespace-collapse -> lower -> md5). Stamped into persisted
#: paragraph stores so a normalization change fails loudly against
#: old state instead of silently never matching.
PARAGRAPH_FP = "md5-trim-ws-lower-v1"


def _paragraph_rows(
    df: DataFrame, id_col: str, text_col: str, delim: str
) -> DataFrame:
    """(id, pos, para, fp) — one row per non-blank paragraph."""
    paras = (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), delim)).alias("pos", "para"),
        )
        .where(F.trim(F.col("para")) != "")
    )
    fp = F.md5(F.lower(F.regexp_replace(F.trim(F.col("para")), r"\s+", " ")))
    return paras.withColumn("fp", fp)


def _paragraph_reassemble(
    df: DataFrame,
    paras: DataFrame,
    kept: DataFrame,
    id_col: str,
    joiner: str,
) -> DataFrame:
    """Rejoin surviving paragraphs in document order; docs whose every
    paragraph was dropped come back with cleaned_text = ''."""
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            joiner,
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
        ).alias("cleaned_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = paras.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n_paras"))
    return (
        df.select(id_col)
        .join(totals, id_col, "left")
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.coalesce("__n_paras", F.lit(0)) - F.coalesce("n_kept", F.lit(0))
             ).alias("n_dropped"),
        )
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delim: str = r"\n{2,}",
    joiner: str = "\n\n",
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup, keep-first.

    Split each document on ``delim``, fingerprint every paragraph
    (trimmed, whitespace-collapsed, lowercased md5), and keep only the
    FIRST corpus occurrence of each fingerprint — ordered by
    ``(id, position)`` so the pass is deterministic. Every later
    repeat (boilerplate headers/footers, quoted reposts, newsletter
    blurbs) is dropped and the survivors are rejoined in document
    order. This is the paragraph-granularity dedup pass of the
    public Dolma / RefinedWeb curation recipes — document-level
    near-dup (MinHash) cannot remove a footer shared by millions of
    otherwise-distinct pages; this pass removes exactly that.

    Output: id, cleaned_text ('' when every paragraph was a repeat),
    n_kept, n_dropped.

    Scale: one map-side explode, one shuffle keyed on the paragraph
    fingerprint (the keep-first window — a hot boilerplate paragraph
    is ONE window group, ordered by (id, pos), no pairwise blowup),
    one shuffle back on the doc id for reassembly. No driver state.
    """
    from pyspark.sql import Window

    paras = _paragraph_rows(df, id_col, text_col, delim)
    ranked = paras.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("fp").orderBy(F.col(id_col), F.col("pos"))
        ),
    )
    kept = ranked.where(F.col("rn") == 1)
    return _paragraph_reassemble(df, paras, kept, id_col, joiner)


def incremental_paragraph_dedup(
    store,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delim: str = r"\n{2,}",
    joiner: str = "\n\n",
    merge: bool = True,
) -> DataFrame:
    """Keep-first paragraph dedup of a NEW batch against a PERSISTED
    fingerprint store — the daily-drop arm of :func:`paragraph_dedup`
    (same lambda shape as :func:`incremental_lsh_pairs`): the corpus's
    paragraph fingerprints live in a
    :class:`~aquacache_spark.sources.store.ParquetMergeStore` keyed
    ``(fp)`` and hash-bucketed on fp; a batch

    1. explodes + fingerprints its own paragraphs (map-only),
    2. keep-firsts WITHIN the batch (the fp window),
    3. probes ONLY the store buckets its fps hash into
       (``read_buckets`` — a partition-pruned read; history is never
       scanned) and drops batch paragraphs already seen — except rows
       whose stored keeper id is IN this batch (a re-fed batch must
       not suppress itself),
    4. merges its surviving fingerprints back ``do_nothing`` (the
       store keeps the FIRST writer — keep-first by construction).

    Feeding batches in ascending id order makes the incremental union
    equal the one-shot :func:`paragraph_dedup` over the concatenated
    corpus (the parity the differential query pins). The store stamps
    the fingerprint-construction version + bucket layout
    (``PARAGRAPH_FP``) so a normalization change against old state
    fails loudly instead of silently never matching.
    """
    from pyspark.sql import Window

    props = {"paragraph_fp": PARAGRAPH_FP, "n_buckets": store.n_buckets}
    if store.exists() and hasattr(store, "check_props"):
        store.check_props(props)
    paras = _paragraph_rows(df, id_col, text_col, delim).persist()
    ranked = paras.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("fp").orderBy(F.col(id_col), F.col("pos"))
        ),
    )
    kept = ranked.where(F.col("rn") == 1)
    if store.exists():
        probed = store.bucket_of(paras.select(F.col("fp")))
        hit = sorted({r["bucket"]
                      for r in probed.select("bucket").distinct().collect()})
        old = store.read_buckets(hit)
        if old is not None:
            batch_ids = df.select(F.col(id_col).alias("__bid")).distinct()
            seen = (
                old.join(batch_ids, F.col(id_col) == F.col("__bid"),
                         "left_anti")
                .select("fp")
                .distinct()
            )
            kept = kept.join(seen, "fp", "left_anti")
    if merge:
        store.merge(
            kept.select("fp", id_col, "pos"),
            on_conflict="do_nothing", props=props)
    # the batch-local paras cache is operator-owned (lesson: a lazily
    # returned frame can never release a persist) — eager-checkpoint
    # the small per-doc output and drop the cache before returning
    out = _paragraph_reassemble(df, paras, kept, id_col, joiner)
    return _owned_cache_release(out, paras)


def edit_distance_verify(
    df: DataFrame,
    pairs: DataFrame,
    max_dist: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    dp_partitions: int | None = None,
) -> DataFrame:
    """Levenshtein verification of candidate near-dup pairs.

    The precision tier AFTER a recall tier (LSH / SimHash banding):
    joins the candidate ``(id_a, id_b)`` list back to the texts and
    keeps pairs within ``max_dist`` edits. Uses the JVM
    threshold-capped ``levenshtein(l, r, k)`` — banded DP, O(len * k)
    per pair instead of O(len^2), early-exit above the cap — so the
    cost is linear in the (already bounded) candidate list, never in
    the corpus. Edit distance is the standard last-mile verifier when
    Jaccard over shingles is too coarse (short docs, heavy token
    reuse); cf. the exact-Jaccard verifier ``jaccard_on_candidates``.

    Output: id_a, id_b, edit_dist (<= max_dist).

    Scale: two shuffle equi-joins keyed on the doc id (candidate list
    x corpus — pair mass is bounded upstream by the band caps), then
    map-only DP. The matched pairs are explicitly repartitioned
    before the DP projection: the DP is CPU-bound while AQE sizes
    partitions by BYTES, so the byte-coalesced join output would run
    the whole verification on one or two tasks (measured 2.3s serial
    vs 0.1s spread at sf0.1); an explicit count is exempt from AQE
    re-coalescing. ``dp_partitions`` defaults to the cluster's
    defaultParallelism.
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    a = df.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("__ta"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("__tb"))
    n_dp = dp_partitions or df.sparkSession.sparkContext.defaultParallelism
    # The DP is wrapped in explode(array(...)): a Generate node is a
    # predicate-pushdown BARRIER, so the >= 0 filter cannot be pushed
    # below the repartition into the join as a residual condition —
    # without it, Catalyst evaluates the levenshtein TWICE (once
    # serially inside the byte-coalesced join stage, once in the
    # final projection; measured 2.7s -> the join stage at sf0.1).
    return (
        pairs.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, "id_b")
        .repartition(n_dp, "id_a", "id_b")
        .select(
            "id_a", "id_b",
            F.explode(F.array(
                F.levenshtein(F.col("__ta"), F.col("__tb"), max_dist)
            )).alias("edit_dist"),
        )
        .where(F.col("edit_dist") >= 0)  # -1 = capped out (> max_dist)
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash signature per document. Output: id, sig (array<bigint>).

    One md5 per shingle (the expensive part), then the hash family is
    the Mersenne-31 universal construction
    ``h_i = (A_i * (base mod p) + B_i) mod p`` with p = 2^31 - 1 and
    ~2^30-sized constants — ~num_hashes x cheaper than hashing per
    function, genuinely wrapping (see the MINHASH_A note above: the
    pre-r11 2^61-field family never wrapped, collapsing every band to
    one argmin), and portable (products < 2^62 fit int64 identically
    in Spark and DuckDB). Single shuffle on the doc id; all hashes
    evaluate in one codegen'd projection. Band keys concatenate w >= 2
    values in batch use (>= 62 bits — chance band-key collisions stay
    negligible at corpus scale).
    """
    if num_hashes > len(MINHASH_A):
        raise ValueError(
            f"num_hashes={num_hashes} exceeds the {len(MINHASH_A)} "
            "precomputed family constants (extend MINHASH_A/B)")
    sh = spread_scan(df, id_col).select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), shingle_k)).alias("sh")
    )
    base = md5_int(F.col("sh"), 8) % MINHASH_P31
    mins = [
        F.min(
            (F.lit(MINHASH_A[i]) * base + F.lit(MINHASH_B[i]))
            % MINHASH_P31
        ).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    agg = sh.groupBy(id_col).agg(*mins)
    return agg.select(
        id_col, F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_signatures_maponly(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash signatures with NO shuffle: per-row ``array_min`` over
    ``transform`` of the shingle array — the exact same hash family as
    :func:`minhash_signatures` (parity pinned in tests), row-for-row
    identical output. The explode+groupBy form is preferred in batch
    (it spreads one pathological mega-document's shingles across
    tasks); this form is REQUIRED upstream of a stateful streaming
    stage, where an aggregation before applyInPandasWithState would
    make an unsupported multi-stateful plan. Docs with fewer than
    ``shingle_k`` words have no shingles and are dropped, matching the
    groupBy form."""
    from ..functions.text import md5_int, word_shingles

    if num_hashes > len(MINHASH_A):
        raise ValueError(
            f"num_hashes={num_hashes} exceeds the {len(MINHASH_A)} "
            "precomputed family constants (extend MINHASH_A/B)")
    sh = word_shingles(F.col(text_col), shingle_k)

    # NB: the hash index must be bound via an outer function — a
    # two-parameter lambda would make F.transform pass the ARRAY INDEX
    # as the second argument
    def affine(i):
        return lambda s: (F.lit(MINHASH_A[i]) * (md5_int(s, 8)
                                                 % MINHASH_P31)
                          + F.lit(MINHASH_B[i])) % MINHASH_P31

    mins = [
        F.array_min(F.transform(sh, affine(i))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return (
        df.where(F.size(sh) > 0)
        .select(F.col(id_col), *mins)
        .select(id_col,
                F.array(*[F.col(f"h{i}")
                          for i in range(num_hashes)]).alias("sig"))
    )


def band_key_rows(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """(id, sig) -> one (id, band, key) row per LSH band — the banding
    projection shared by the batch self-join, the incremental
    store-probe path, and the streaming front-end. Map-only explode."""
    rows = num_hashes // bands
    return signatures.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws(
                        ",", *[F.col("sig")[b * rows + r].cast("string")
                               for r in range(rows)]
                    ).alias("key"),
                )
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select(id_col, F.col("bk.band").alias("band"),
             F.col("bk.key").alias("key"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket: int | None = 1024,
) -> DataFrame:
    """Candidate pairs: docs sharing any band of the signature.

    Band key = concat of the band's hash values; self-join per band on
    the key with id_a < id_b, then distinct pairs. Equi-join on the
    band key — at scale only colliding docs meet.

    Hot-bucket cap (the SlimPajama-scale mitigation): a genuinely hot
    band bucket — m documents sharing boilerplate — would emit m²
    candidate pairs, and AQE skew-split only fixes partition skew, not
    the quadratic pair MASS. Buckets larger than ``max_bucket`` are
    short-circuited to a STAR on the bucket's minimum id (m-1 edges):
    connectivity for ``duplicate_clusters`` is preserved exactly (every
    member still reaches one shared anchor), while pair mass stays
    linear in bucket size. Deterministic (min-id anchor, no sampling),
    and no document is dropped. ``max_bucket=None`` restores the
    uncapped all-pairs semantics. Downstream exact-verify stages see
    anchor-member pairs for oversized buckets instead of all pairs —
    the standard trade at 100 TB, where one boilerplate bucket of 10⁶
    docs would otherwise emit 10¹² pairs.
    """
    banded = band_key_rows(signatures, id_col, num_hashes, bands)
    # r12 single-pass shape (guide §2.4, same restructure as
    # shot_containment_pairs): the banded frame is the output of the
    # expensive shingle->md5->MinHash pipeline, and the previous form
    # consumed it from 3 branches (bucket stats + both self-join
    # sides) behind a persist. ONE (band, key) aggregation now
    # collects each bucket's member list, and the pairs, the
    # hot-bucket cap, and the star anchor all derive map-side from
    # that single aggregated frame above one exchange: the hash mass
    # moves once and no persist/second scan exists. The per-bucket
    # list is the same rows the old join shuffled to one reduce
    # partition anyway; under the cap its length is <= max_bucket, and
    # the two chained explodes stream the m^2 pair mass exactly as the
    # join did (never materializing an m^2 array).
    groups = banded.groupBy("band", "key").agg(
        F.collect_list(F.col(id_col)).alias("__ms"))
    ms = F.col("__ms")
    if max_bucket is None:
        small, star = groups, None
    else:
        n = F.size(ms)
        small = groups.where(n <= max_bucket)
        # oversized buckets: STAR on the bucket's min id (m-1 edges)
        star = (
            groups.where(n > max_bucket)
            .select(F.array_min(ms).alias("id_a"),
                    F.explode(ms).alias("id_b"))
            .where(F.col("id_a") != F.col("id_b"))
        )
    # r12 (third session): pair by POSITION over the id-sorted member
    # list instead of the full m x m double explode + `<` filter —
    # posexplode row i explodes only the slice AFTER i, so the
    # generated row mass is m(m-1)/2 instead of m^2 (measured ~2x on
    # the pair stages) and the ordering filter disappears. Same pair
    # set: ids are unique within a bucket, so position order after
    # array_sort IS id order.
    pairs = (
        small.select(F.array_sort(ms).alias("__s"))
        .select(F.posexplode("__s").alias("__p", "id_a"), F.col("__s"))
        .select(
            "id_a",
            F.explode(F.slice(
                "__s", F.col("__p") + 2, F.size("__s"))).alias("id_b"))
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs.distinct()


def incremental_lsh_pairs(
    store,
    batch_sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket: int | None = 1024,
    merge: bool = True,
) -> DataFrame:
    """Incremental near-dup detection against a PERSISTED signature
    store — the 100 TB "daily drop" story: the corpus-wide MinHash
    band keys live in a :class:`~aquacache_spark.sources.store.
    ParquetMergeStore` keyed (band, key, id) and hash-bucketed on the
    band key; a new batch

    1. computes its own band keys (map-only),
    2. probes ONLY the store buckets those keys hash into
       (``read_buckets`` — a bounded ``<= n_buckets`` driver list, a
       partition-pruned read; the corpus store is never scanned),
    3. restricts the probed rows to exact (band, key) hits (equi
       semi-join),
    4. runs the same capped pair generation as the batch path over
       probed-old + new rows, keeping only pairs with at least one
       NEW endpoint (old-old pairs were emitted when the younger of
       the two docs arrived — induction gives exact parity),
    5. MERGEs its band keys into the store (``do_nothing`` — re-fed
       docs don't duplicate).

    Parity contract (pinned by the differential battery): the union
    of per-batch outputs over any batch split equals the one-shot
    ``lsh_candidate_pairs`` of the full corpus, PROVIDED no bucket
    crosses ``max_bucket`` between batches. When a bucket does cross
    the cap mid-stream, connectivity of ``duplicate_clusters`` is
    still preserved (every member keeps an edge path to the bucket's
    current anchor) but the edge set is a superset of the one-shot
    star — the same trade the batch cap itself makes.

    The store read happens against the PRE-merge manifest (version
    dirs are immutable and retained), so the returned frame stays
    valid after the merge commits.
    """
    # n_buckets is part of the stamp: it is the store-LAYOUT parameter
    # — a probe against a store bucketed differently reads unrelated
    # keys (zero/partial collisions, no error), the exact silent
    # failure class the stamp exists to close
    lsh_props = {"minhash_family": MINHASH_FAMILY,
                 "num_hashes": num_hashes, "bands": bands,
                 "n_buckets": store.n_buckets}
    if store.exists() and hasattr(store, "check_props"):
        # stale state fails LOUDLY: a store built under the pre-r11
        # degenerate family (or different banding) would simply stop
        # colliding — zero recall, no error — without this gate
        store.check_props(lsh_props)
    # r13 (guide §2.2 fewer/larger partitions): the cached key frame
    # used to inherit the MinHash map stage's partitioning (wide — one
    # partition per core via spread_scan, right for the md5 mass,
    # wrong for the small banded OUTPUT): every downstream consumer of
    # the cache then ran one task per map partition over a few hundred
    # rows each, and the query got SLOWER with more cores. The
    # repartition by the bucket key lets AQE size the cached layout by
    # DATA (coalesced at bench scale, fanned out for a real daily
    # drop), and it is the same key the groups aggregation below
    # shuffles on anyway — the exchange moves from after the cache to
    # before it.
    keys = band_key_rows(batch_sigs, id_col, num_hashes, bands) \
        .repartition("band", "key").persist()
    new_rows = keys.select(id_col, "band", "key",
                           F.lit(True).alias("__new"))
    union = new_rows
    if store.exists():
        probed = store.bucket_of(keys.select(F.col("key")))
        hit = sorted({r["bucket"]
                      for r in probed.select("bucket").distinct().collect()})
        old = store.read_buckets(hit)
        if old is not None:
            old_rows = (
                old.join(keys.select("band", "key").distinct(),
                         ["band", "key"], "left_semi")
                # a re-fed doc id must not meet itself as "old" — the
                # batch id set is read from the PERSISTED key frame,
                # not batch_sigs (r13): the ids are identical
                # (band_key_rows emits `bands` rows per signature row,
                # never zero), but batch_sigs would re-run the whole
                # MinHash pipeline just to list ids, because exchange
                # reuse never fires above a cached relation (Spark
                # 4.1, measured: a persisted source makes sameResult
                # fail for otherwise-identical exchanges).
                .join(keys.select(id_col).distinct(), id_col,
                      "left_anti")
                .select(id_col, "band", "key", F.lit(False).alias("__new"))
            )
            union = new_rows.unionByName(old_rows)
    # r12 single-aggregation shape (the lsh_candidate_pairs
    # restructure, applied to the incremental path): ONE (band, key)
    # aggregation collects each bucket's (id, __new) members.
    # r13: the pairs and star branches are FUSED into one streaming
    # two-level explode, so ``groups`` has exactly ONE consumer. The
    # split shape re-executed the whole aggregation (and the store
    # probe under it) once per branch: exchange reuse cannot fire
    # here because the subtree reads the persisted key frame, and a
    # cached relation defeats plan canonicalization (verified with a
    # minimal repro; runtime plans in plans/r13). Per exploded member
    # at position p in the id-sorted list: a small bucket pairs it
    # with every LATER member (slice — m(m-1)/2 streamed rows, never
    # an m^2 array); an oversized bucket pairs it with the bucket's
    # first (= min-id anchor) member only, skipping the anchor itself
    # (m-1 star edges). Ids are unique within a bucket (band_key_rows
    # emits one row per band per doc; old rows are anti-joined against
    # the batch ids), so position order after array_sort IS id order
    # and the struct sort carries each member's newness along. Pair
    # semantics are unchanged: id_a < id_b with at least one NEW
    # endpoint; oversized buckets star on the min id with
    # (__new | anchor_new) edges.
    groups = union.groupBy("band", "key").agg(
        F.collect_list(F.struct(F.col(id_col).alias("i"),
                                F.col("__new").alias("n"))).alias("__ms"))
    srt = groups.select(F.array_sort("__ms").alias("__s"))
    if max_bucket is None:
        pairs = (
            srt.select(F.posexplode("__s").alias("__p", "__ma"),
                       F.col("__s"))
            .select("__ma", F.explode(F.slice(
                "__s", F.col("__p") + 2, F.size("__s"))).alias("__mb"))
            .where(F.col("__ma.n") | F.col("__mb.n"))
            .select(F.col("__ma.i").alias("id_a"),
                    F.col("__mb.i").alias("id_b"))
        )
    else:
        n = F.size("__s")
        small = n <= max_bucket
        anchor = F.element_at("__s", 1)
        partners = F.when(small, F.slice(
            "__s", F.col("__p") + 2, F.size("__s"))).otherwise(
            # star: non-anchor members meet the anchor; the anchor's
            # own row keeps the NULL from the unmatched when (explode
            # of NULL emits nothing)
            F.when(F.col("__ma.i") != anchor["i"], F.array(anchor)))
        pairs = (
            srt.select(F.posexplode("__s").alias("__p", "__ma"),
                       F.col("__s"))
            .select(small.alias("__sm"), "__ma",
                    F.explode(partners).alias("__mb"))
            .where(F.col("__ma.n") | F.col("__mb.n"))
            .select(
                # small buckets emit (me, later member): id order by
                # position; star rows emit (anchor, me): the anchor is
                # the bucket minimum, so id_a < id_b in both
                F.when(F.col("__sm"), F.col("__ma.i"))
                .otherwise(F.col("__mb.i")).alias("id_a"),
                F.when(F.col("__sm"), F.col("__mb.i"))
                .otherwise(F.col("__ma.i")).alias("id_b"),
            )
        )
    pairs = pairs.distinct()
    if merge:
        store.merge(keys.select("band", "key", id_col),
                    on_conflict="do_nothing", props=lsh_props)
    return pairs


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """SimHash signature: majority vote per bit over token hashes.

    Token-level explode + bit explode (plan-time constant width), one
    aggregation keyed by doc — linear in corpus token count.
    """
    tok = spread_scan(df, id_col).select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("tok")
    ).withColumn("h", md5_int(F.col("tok")))
    bit_sums = [
        F.sum(
            F.when((F.col("h").bitwiseAND(F.lit(1 << j))) != 0, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*bit_sums)
    sig = None
    for j in range(bits):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return agg.select(id_col, sig.cast("long").alias("simhash"))


def jaccard_on_candidates(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard restricted to given candidate pairs.

    The scale path: cost is proportional to candidate mass (what LSH
    emitted), never n² in hot-shingle collisions. Shingles are computed
    only for docs that appear in a candidate pair (semi-join prune);
    the intersection is an equi-join of the pair list against the two
    shingle sides on (id, sh). Pairs with an empty intersection (LSH
    false positives) drop out naturally — with any threshold > 0 they
    are non-results either way.
    """
    # candidates is consumed three times (two id projections + the
    # intersection join) and its lineage is the full minhash+LSH plan —
    # persist so signatures are computed once, not three times. Same
    # for the pruned shingle explode (sizes + both join sides).
    candidates = candidates.persist()
    needed = (
        candidates.select(F.col("id_a").alias(id_col))
        .union(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh = df.join(needed, id_col, "left_semi").select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), shingle_k)).alias("sh"),
    ).persist()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    sh_a = sh.select(F.col(id_col).alias("id_a"), "sh")
    sh_b = sh.select(F.col(id_col).alias("id_b"), "sh")
    inter = (
        candidates.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "inter", "n_a", "n_b", "jaccard")


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS rolling-hash scheme,
    Schleimer/Wilkerson/Aiken SIGMOD'03).

    Character ``k``-grams of the normalized text are hashed; each
    length-``window`` run of consecutive gram hashes contributes its
    minimum, and the per-document fingerprint set is the distinct
    selected hashes. Guarantees every match of length >= k + window - 1
    shares a fingerprint, with expected density 2/(window+1).

    Reference analog: content fingerprinting for duplicate detection
    (exact_duplicates covers identical docs; winnowing covers local
    overlap / containment, which MinHash's whole-document Jaccard
    dilutes).

    Scale: the gram hashing and window minima are per-row array
    expressions — map-only, zero shuffle, whole-stage codegen. The only
    shuffle is the final distinct on (id, fingerprint), proportional to
    selected-fingerprint mass (~2n/(window+1)), never materializing the
    full gram list off-row. 100 TB safe.
    """
    from ..functions.text import bind

    empty = F.array().cast("array<bigint>")

    def grams_of(s: Column) -> Column:
        m = F.length(s) - (k - 1)  # number of k-grams
        return F.when(
            m >= 1,
            F.transform(
                F.sequence(F.lit(1), m),
                lambda i: md5_int(F.substring(s, i, F.lit(k))),
            ),
        ).otherwise(empty)

    def fps_of(g: Column) -> Column:
        n_win = F.size(g) - (window - 1)
        return F.when(
            n_win >= 1,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n_win),
                    lambda j: F.array_min(F.slice(g, j, window)),
                )
            ),
        ).otherwise(empty)

    df = spread_scan(df, id_col)
    norm = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
    fps = bind(norm, lambda s: bind(grams_of(s), fps_of))
    return df.select(F.col(id_col), F.explode(fps).alias("fp")).distinct()


def duplicate_clusters(
    pairs: DataFrame,
    ids: DataFrame,
    max_iters: int = 20,
) -> DataFrame:
    """Duplicate-cluster formation: connected components over a
    candidate-pair edge list (the step after LSH — every doc joined to
    its transitive duplicate group).

    ``pairs``: (id_a, id_b) undirected edges; ``ids``: one column of
    node ids (docs with no edges become singletons). Output: (doc_id,
    cluster_rep, cluster_size) with the representative = min id in the
    component.

    Algorithm: min-label propagation. Each round every node takes the
    min of its own label and its neighbors' labels; rounds needed =
    graph diameter (duplicate clusters are shallow — near-cliques from
    LSH — so this converges in 2-3 rounds; a driver-side count gates
    early exit). Each round is one shuffle on node id, and
    localCheckpoint truncates the plan so round N does not replay
    rounds 1..N-1. At the 100 TB tier the same loop is the standard
    map-reduce CC (cf. the large-star/small-star optimization for
    deep graphs, which LSH output never produces).
    """
    id_col = ids.columns[0]
    spark = pairs.sparkSession
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = ids.select(F.col(id_col).alias("node"), F.col(id_col).alias("lab"))
    for _ in range(max_iters):
        neigh = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("lab").alias("__nlab"))
        )
        new_labels = (
            labels.join(neigh, labels["node"] == neigh["src"], "left")
            .select(
                "node",
                F.least(F.col("lab"), F.coalesce("__nlab", F.col("lab"))).alias("lab"),
                (F.col("__nlab") < F.col("lab")).alias("__chg"),
            )
        ).localCheckpoint()  # eager: materialize + truncate lineage
        changed = new_labels.where(F.col("__chg")).limit(1).count()
        labels = new_labels.drop("__chg")
        if changed == 0:
            break
    sizes = labels.groupBy("lab").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        labels.join(sizes, "lab")
        .select(
            F.col("node").alias("doc_id"),
            F.col("lab").alias("cluster_rep"),
            "cluster_size",
        )
    )


def stratified_split(
    df: DataFrame,
    id_col: str = "doc_id",
    strata_col: str = "source",
    fractions: dict | None = None,
    salt: str = "split-v1",
) -> DataFrame:
    """Deterministic train/val/test assignment — the corpus-splitting
    step of a training-data pipeline, reproducible across runs, engines
    and partitionings (no RNG: the bucket is a pure function of the id
    and salt).

    ``fractions``: {stratum: (train_pct, val_pct)} as integer percents;
    remainder is test. Unlisted strata use 90/5. A per-stratum salt
    would decorrelate the buckets across strata; one salt keeps a doc's
    assignment stable even if its stratum label changes.
    """
    fractions = fractions or {}
    bucket = md5_int(
        F.concat(F.col(id_col).cast("string"), F.lit("|" + salt)), 8
    ) % 100
    assign = None
    default = (90, 5)
    strata = list(fractions.items()) + [(None, default)]
    expr = None
    for stratum, (tr, va) in strata:
        cond_tr = bucket < tr
        cond_va = (bucket >= tr) & (bucket < tr + va)
        choice = F.when(cond_tr, "train").when(cond_va, "val").otherwise("test")
        if stratum is None:
            expr = choice if expr is None else expr.otherwise(choice)
        else:
            expr = (
                F.when(F.col(strata_col) == stratum, choice)
                if expr is None
                else expr.when(F.col(strata_col) == stratum, choice)
            )
    return df.withColumn("split", expr).withColumn("__bucket", bucket)


def hash_stratified_sample(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    strata_col: str = "source",
    salt: str = "sample-v1",
) -> DataFrame:
    """Deterministic exact-k-per-stratum sample: rank rows inside each
    stratum by a salted id hash and keep the k smallest — the
    reproducible replacement for RNG reservoir sampling (inspection
    panels, eval carve-outs, per-domain pilots). Changing the salt
    draws an independent sample; the same salt reproduces it across
    runs, engines, and partitionings. Strata with <= k rows pass
    through whole.

    Scale: one hash projection (map-side) + one rank window per
    stratum (WindowGroupLimit pushes the k limit into the sort, so no
    stratum materializes more than k rows past the shuffle). A skewed
    giant stratum is one partition's sort — for pathological single-
    stratum corpora, pre-aggregate with a (stratum, bucket) two-level
    rank; not needed while strata are domains/sources.
    """
    from pyspark.sql import Window

    h = md5_int(
        F.concat(F.col(id_col).cast("string"), F.lit("|" + salt)), 15)
    w = Window.partitionBy(strata_col).orderBy(
        F.asc("__h"), F.asc(id_col))
    return (
        df.withColumn("__h", h)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select(*df.columns,
                F.col("__rn").cast("long").alias("sample_rank"))
    )


def weighted_stratified_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    strata_col: str = "source",
    salt: str = "wsample-v1",
) -> DataFrame:
    """Deterministic weighted k-sample per stratum (Efraimidis &
    Spirakis A-ES): each row draws u in (0, 1] from its salted id hash
    and scores key = ln(u) / w; the k LARGEST keys win — inclusion
    probability proportional to weight, without replacement. The
    quality-weighted data-selection primitive (sample high-quality
    docs harder), reproducible across runs/engines/partitionings like
    :func:`hash_stratified_sample` (same salt -> same sample).

    Determinism: u = (h + 1) / 2^60 from the 60-bit md5 prefix, so
    ln(u)/w is the same double on both engines; keys quantize to
    integer nano-units (floor toward -inf on both) before the rank,
    ties break on the id. Rows with weight <= 0 are excluded (A-ES is
    undefined there); strata with <= k positive rows pass whole.

    Scale: one hash projection + one rank window per stratum
    (WindowGroupLimit bounds per-stratum materialization to k past
    the shuffle).
    """
    from pyspark.sql import Window

    h = md5_int(
        F.concat(F.col(id_col).cast("string"), F.lit("|" + salt)), 15)
    u = (h + F.lit(1)) / F.lit(float(1 << 60))
    key = F.floor(
        F.log(u) / F.col(weight_col).cast("double") * F.lit(1e9)
    ).cast("long")
    w = Window.partitionBy(strata_col).orderBy(
        F.desc("__key"), F.asc(id_col))
    return (
        df.where(F.col(weight_col) > 0)
        .withColumn("__key", key)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select(*df.columns,
                F.col("__rn").cast("long").alias("sample_rank"))
    )


def simhash_near_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs from SimHash signatures.

    Pigeonhole banding: a pair within ``max_hamming`` (< bands) must
    agree exactly on at least one of ``bands`` contiguous bit-chunks,
    so candidates come from equi-self-joins on (band, chunk-value) —
    never all-pairs — and the exact Hamming distance
    (``bit_count(xor)``) verifies. Same candidate-economics as MinHash
    LSH; cost ∝ chunk-collision mass.

    Hot-bucket cap (the same guard as ``lsh_candidate_pairs``'
    ``max_bucket`` and SemDeDup's ``max_cluster``): a (band, chunk)
    bucket with m members emits m² candidates, and identical media
    assets — placeholder thumbnails, silence clips, test cards — are
    among the most duplicated objects in web corpora, so at 100 TB one
    bucket of 10⁶ identical signatures would emit 10¹² pairs. Buckets
    larger than ``max_bucket`` short-circuit to a STAR on the bucket's
    minimum id (m-1 edges, each still exact-Hamming-verified against
    the anchor's full signature): connectivity for
    ``duplicate_clusters`` is preserved for identical/near-identical
    members (the population that creates hot buckets — Hamming to the
    anchor ≈ 0), pair mass stays linear, and no member is dropped from
    consideration. Deterministic (min-id anchor, no sampling). A pair
    is missed only when BOTH endpoints sit in oversized buckets in
    every band they co-collide in AND both are > ``max_hamming`` from
    that bucket's anchor — the standard trade at scale. Default
    ``None`` = exact all-pairs-per-bucket semantics (the differential
    oracle's regime).
    """
    width = bits // bands
    mask = (1 << width) - 1
    banded = signatures.select(
        F.col(id_col),
        F.col(sig_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright(F.col(sig_col), b * width)
                    .bitwiseAND(F.lit(mask)).alias("chunk"),
                )
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select(id_col, sig_col, F.col("bk.band").alias("band"),
             F.col("bk.chunk").alias("chunk")).repartition(
        "band", "chunk").persist()
    # r13 (guide §2.2): the cached banded frame used to inherit the
    # upstream map stage's one-partition-per-core layout, so each of
    # its 3-4 consumers (stats, both join sides, star) paid one task
    # per core over a tiny cache (~0.4-0.6s per stage of task
    # overhead). Repartitioning by the bucket key before the persist
    # lets AQE size the cached layout by DATA, and it is the SAME key
    # every downstream join/groupBy hashes on, so those exchanges
    # disappear into the cache boundary.
    a = banded.select(F.col(id_col).alias("id_a"),
                      F.col(sig_col).alias("__sa"), "band", "chunk")
    b = banded.select(F.col(id_col).alias("id_b"),
                      F.col(sig_col).alias("__sb"), "band", "chunk")
    hamming = F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
    if max_bucket is None:
        # Hamming verify BEFORE distinct: failed candidates never enter
        # the distinct's exchange (same result — hamming is a function
        # of the two signatures — strictly less shuffle mass).
        return (
            a.join(b, ["band", "chunk"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", hamming.alias("hamming"))
            .where(F.col("hamming") <= max_hamming)
            .distinct()
        )
    # bucket stats ride the same (band, chunk) partitioning as the
    # join; data-cardinality frame, so joined (never collected)
    stats = banded.groupBy("band", "chunk").agg(
        F.count(F.lit(1)).alias("__n"),
        F.min(F.col(id_col)).alias("__anchor"),
        F.min_by(F.col(sig_col), F.col(id_col)).alias("__asig"),
    )
    tagged = banded.join(stats, ["band", "chunk"])
    small_a = tagged.where(F.col("__n") <= max_bucket).select(
        F.col(id_col).alias("id_a"), F.col(sig_col).alias("__sa"),
        "band", "chunk")
    pairs = (
        small_a.join(b, ["band", "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
    )
    star = tagged.where(
        (F.col("__n") > max_bucket) & (F.col(id_col) != F.col("__anchor"))
    ).select(
        F.col("__anchor").alias("id_a"),
        F.col(id_col).alias("id_b"),
        F.bit_count(F.col("__asig").bitwiseXOR(F.col(sig_col)))
        .alias("hamming"),
    )
    return (
        pairs.unionByName(star)
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def contamination_overlap(
    train: DataFrame,
    evalset: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_k: int = 5,
    threshold: int = 8,
) -> DataFrame:
    """Benchmark decontamination: per training document, how many
    distinct k-word n-grams it shares with ANY eval-set document.

    The standard train/test-leakage sweep (the reference corpus tool
    this engine extends; the GPT-3/PaLM papers use the same shape with
    k=8..13): eval docs are tiny next to the corpus, so their distinct
    shingle set is collected once and broadcast — the training side is
    then a map-only scan + partial-aggregable count, never a shuffle of
    the corpus text. Output: one row per training doc,
    ``overlap_ngrams`` (0 when clean) and ``contaminated`` =
    overlap >= threshold.
    """
    t_sh = spread_scan(train, id_col).select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), ngram_k)).alias("sh"),
    )
    # r13 (guide §2.5): the eval fixture also reads as one split — the
    # gram explode + distinct partial ran as ONE task (~0.35s of the
    # gate's critical path); spread is a no-op at real split counts
    e_sh = spread_scan(evalset, id_col).select(
        F.explode(word_shingles(F.col(text_col), ngram_k)).alias("sh")
    ).distinct()
    hits = (
        t_sh.join(F.broadcast(e_sh), "sh", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("overlap_ngrams"))
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("overlap_ngrams", F.lit(0)).alias("overlap_ngrams"),
            (F.coalesce("overlap_ngrams", F.lit(0)) >= threshold).alias("contaminated"),
        )
    )


def unigram_surprisal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document mean unigram surprisal — the CCNet/Wikipedia-LM
    quality signal computed from the corpus itself: train a unigram LM
    (one token-count aggregation), then score each document by the
    mean of ``-ln p(token)`` over its tokens. Low surprisal ≈ common,
    fluent text; high ≈ rare-token soup (a standard filtering axis
    next to the heuristic metrics in functions/text.py).

    Determinism: each token's surprisal is quantized to integer
    micro-nats before the per-doc sum, so the mean is independent of
    accumulation order (partitioning) and bit-reproducible in the
    DuckDB oracle — the engine-wide exact-sum idiom (operators/daily).

    Scale: one token-explode aggregation for the LM (shuffle ∝ corpus
    tokens, the minhash cost class); the vocabulary is tiny next to
    the corpus, so scoring is a broadcast join + partial-aggregable
    sum. Output: (id, n_tokens, mean_surprisal).
    """
    tok = spread_scan(df, id_col).select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("tok")
    )
    # r13 (guide §2.4): the explicit notnull filter (a data no-op —
    # split() never yields NULL tokens) keeps the pushed-filter sets
    # of the LM consumers identical, so the token explode inside the
    # LM side materializes ONCE via ReusedExchange (see
    # kn_bigram_surprisal); the probe keeps its own per-(doc, token)
    # aggregate (no exchange — doc-partitioned stream). Exact long
    # sums keep every double bit-identical.
    tok = tok.where(F.col("tok").isNotNull())
    dtok = tok.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("__c"))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    freq = _with_corpus_total(freq, "cnt")
    q = F.floor(-F.log(F.col("cnt") / F.col("total")) * 1e6 + 0.5).cast("long")
    surp = freq.select("tok", q.alias("__q"))
    return (
        dtok.join(F.broadcast(surp), "tok")
        .groupBy(id_col)
        .agg(
            F.sum("__c").cast("long").alias("n_tokens"),
            ((F.sum(F.col("__q") * F.col("__c"))) / 1e6
             / F.sum("__c")).alias("mean_surprisal"),
        )
    )


def per_language_unigram_surprisal(
    df: DataFrame,
    lang_expr,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-language unigram surprisal — CCNet is per-language: one LM
    per detected language, so an English-trained frequency table never
    scores a French document. Same determinism (integer micro-nat
    quantization before the per-doc sum) as :func:`unigram_surprisal`.

    ``lang_expr`` is a map-only Column deriving the language from the
    text (e.g. functions/text.lang_id_multi) — computed inline at
    explode time, no join. The per-language totals are a ≤n_languages
    row aggregate broadcast back onto the frequency table (the
    _with_corpus_total idiom, keyed); the scoring join on
    (lang, token) is vocabulary-sized and left to AQE.

    Output: (id, lang, n_tokens, mean_surprisal).
    """
    # two-step select: a struct-typed HOF expression (lang_scores) in
    # the SAME projection as a generator loses its struct field names
    # during the explode rewrite (col1..colN) and fails analysis —
    # derive lang first, explode second
    tok = spread_scan(df, id_col).select(
        F.col(id_col), lang_expr.alias("lang"), F.col(text_col),
    ).select(
        id_col, "lang",
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    # r13 (guide §2.4): uniform notnull filter -> the LM consumers'
    # exchanges canonicalize equal and the lang-scoring + tokenize +
    # explode materializes once inside the LM side (ReusedExchange —
    # see kn_bigram_surprisal); the probe keeps its per-(doc, lang,
    # token) aggregate (no exchange, doc-partitioned stream).
    tok = tok.where(F.col("tok").isNotNull() & F.col("lang").isNotNull())
    dtok = tok.groupBy(id_col, "lang", "tok").agg(
        F.count(F.lit(1)).alias("__c"))
    freq = tok.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    tot = freq.where(F.col("cnt") > 0).groupBy("lang").agg(
        F.sum("cnt").alias("total"))
    freq = freq.join(F.broadcast(tot), "lang")
    q = F.floor(-F.log(F.col("cnt") / F.col("total")) * 1e6 + 0.5) \
        .cast("long")
    surp = freq.select("lang", "tok", q.alias("__q"))
    return (
        dtok.join(surp, ["lang", "tok"])
        .groupBy(id_col, "lang")
        .agg(
            F.sum("__c").cast("long").alias("n_tokens"),
            ((F.sum(F.col("__q") * F.col("__c"))) / 1e6
             / F.sum("__c")).alias("mean_surprisal"),
        )
    )


def _owned_cache_release(out: DataFrame, grams: DataFrame) -> DataFrame:
    """The long-gram ownership pattern (VERDICT r11 #2) for the k=8
    span family: eager-checkpoint the output, then release the gram
    cache NOW — the caller opted in to owning the lifecycle, so the
    returned frame is materialized storage, not lineage over a
    session-pinned cache. Reliable checkpoint (replicated, recoverable
    on executor loss) is preferred whenever the session has a
    checkpoint dir; localCheckpoint otherwise (ADVICE r11).

    Checkpoint files are reclaimed by the ContextCleaner once the
    returned frame is garbage-collected — but ONLY under
    spark.cleaner.referenceTracking.cleanCheckpoints=true (the engine
    session default, session.py; Spark's own default is false, which
    would leak one full output copy per call onto checkpoint
    storage)."""
    sc = out.sparkSession.sparkContext
    if sc.getCheckpointDir():
        out = out.checkpoint(eager=True)
    else:
        out = out.localCheckpoint(eager=True)
    grams.unpersist(blocking=True)
    return out


def bigram_surprisal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.75,
) -> DataFrame:
    """Per-document mean INTERPOLATED BIGRAM surprisal — the KenLM-lite
    upgrade of :func:`unigram_surprisal`:

        p(w | prev) = lam * c(prev, w) / c(prev)  +  (1 - lam) * c(w) / N

    with counts from the corpus itself (c(prev) is the unigram count —
    the simplest deficient-normalization MLE, documented so the oracle
    can mirror it exactly). Score = mean of ``-ln p`` over a doc's
    bigram positions; docs with < 2 tokens report 0 bigrams and a NULL
    mean. Low surprisal ≈ fluent, predictable text; high ≈ shuffled
    word soup the unigram model cannot see (same unigram bag!).

    Determinism: per-bigram surprisal quantizes to integer micro-nats
    before the per-doc sum (the engine-wide exact-sum idiom).

    Scale: one bigram-explode aggregation for the LM (corpus-token
    shuffle class); the scored dim is BIGRAM-vocabulary-sized — larger
    than the unigram vocab but still far below corpus cardinality, so
    the scoring join is left to AQE (broadcast when it fits, else an
    equi-join on the bigram key) instead of being forced broadcast.
    Output: (id, n_bigrams, mean_surprisal).
    """
    base = spread_scan(df, id_col).select(
        F.col(id_col),
        tokens(F.lower(F.col(text_col))).alias("__toks"),
    ).withColumn("__n", F.size("__toks"))
    toks = F.col("__toks")
    # r13 (guide §2.4): explicit notnull filters on both gram streams
    # make every consumer's pushed-filter set identical, so the LM
    # consumers' exchanges canonicalize equal and AQE ReusedExchange
    # executes each explode ONCE (see kn_bigram_surprisal for the full
    # account of why the r12 dpw shape never actually deduped). The
    # filters are data no-ops: split() never yields NULL tokens.
    uni = _with_corpus_total(
        base.select(F.explode(toks).alias("w"))
        .where(F.col("w").isNotNull())
        .groupBy("w").agg(F.count(F.lit(1)).alias("cw")),
        "cw",
    )
    pairs = base.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.col("__n") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.col("__n") - 1),
                    lambda i: F.struct(
                        F.element_at(toks, i).alias("p"),
                        F.element_at(toks, i + 1).alias("w")),
                ),
            )
        ).alias("bg"),
    ).select(id_col, F.col("bg.p").alias("p"), F.col("bg.w").alias("w"))
    pairs = pairs.where(F.col("p").isNotNull() & F.col("w").isNotNull())
    # per-(doc, bigram) probe aggregate: costs no exchange (the stream
    # is doc-partitioned) and shrinks the scoring join's shuffle mass
    # to TYPES at scale. sum(__c) == count(positions) and
    # sum(__q * __c) == sum(__q over positions) in exact long
    # arithmetic, so every output double is bit-identical.
    dpw = pairs.groupBy(id_col, "p", "w").agg(
        F.count(F.lit(1)).alias("__c"))
    bgc = pairs.groupBy("p", "w").agg(F.count(F.lit(1)).alias("cb"))
    score = (
        bgc.join(uni.select(F.col("w").alias("p"),
                            F.col("cw").alias("cp")), "p")
        .join(uni, "w")
        .select(
            "p", "w",
            F.floor(
                -F.log(
                    F.lit(lam) * F.col("cb") / F.col("cp")
                    + F.lit(1.0 - lam) * F.col("cw") / F.col("total"))
                * 1e6 + F.lit(0.5)
            ).cast("long").alias("__q"),
        )
    )
    scored = (
        dpw.join(score, ["p", "w"])
        .groupBy(id_col)
        .agg(F.sum("__c").cast("long").alias("n_bigrams"),
             ((F.sum(F.col("__q") * F.col("__c"))) / 1e6
              / F.sum("__c")).alias("mean_surprisal"))
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "mean_surprisal",
        )
    )
