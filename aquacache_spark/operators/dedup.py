"""MinHash-LSH candidate pairs: the operators behind perfbench's
``minhash_lsh_pairs`` batch probe.

k-word shingles -> m portable hash functions -> per-band bucket keys ->
candidate pairs from each bucket's member list. Only documents that
share a band key meet, so cost follows true duplicate mass, not n².
The hash primitive (md5-hex -> int, functions/text.py) and the
``MINHASH_*`` constants are shared with the DuckDB oracle in
``queries/dedup.py``, so the probe is differentially testable.

Not part of the AquaCache surface: the rest of the deduplication tier
is cut, and this module stays only until a benchmark change replaces
the probe (tests/test_import_boundary.py keeps every definition here
reachable from it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import md5_int, word_shingles
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


def band_key_rows(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """(id, sig) -> one (id, band, key) row per LSH band — the banding
    projection under :func:`lsh_candidate_pairs`. Map-only explode."""
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
    connectivity of the pair graph is preserved exactly (every
    member still reaches one shared anchor), while pair mass stays
    linear in bucket size. Deterministic (min-id anchor, no sampling),
    and no document is dropped. ``max_bucket=None`` restores the
    uncapped all-pairs semantics. Downstream exact-verify stages see
    anchor-member pairs for oversized buckets instead of all pairs —
    the standard trade at 100 TB, where one boilerplate bucket of 10⁶
    docs would otherwise emit 10¹² pairs.
    """
    banded = band_key_rows(signatures, id_col, num_hashes, bands)
    # r12 single-pass shape (guide §2.4): the banded frame is the output of the
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
