"""Mergeable sketches for 100 TB corpus statistics.

Exact distinct counts and exact heavy-hitter tables need a shuffle
proportional to the KEY cardinality — at web scale (10^9+ distinct
tokens/URLs) that is the dominant cost of a datacard. Sketches bound
the state: HyperLogLog registers (2^p rows per group) and count-min
counters (d*w rows total) are partial-aggregable, mergeable across
shards, and probe-able with a broadcast join.

Spark ships approx_count_distinct (HLL++), but its register layout is
engine-private — useless for differential verification. These
implementations are DETERMINISTIC by construction: the md5-prefix
hash (functions/text.md5_int) is bit-identical in DuckDB, register
updates are integer max/sum (associative), and the only float math is
a final closed-form expression over exactly-summed integers — so the
full sketch state and the estimates hash-match the oracle, the same
differential story as every other operator in this repo.

Reference analog: none (the reference is a hydrometric store); this
is the training-data extension tier's "novel sketch" slot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import md5_int

#: md5_int(_, 15) yields 60 hash bits
_HASH_BITS = 60


def hll_distinct(
    df: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
    p: int = 8,
) -> DataFrame:
    """HyperLogLog distinct-count estimate per group.

    Layout: h = 60-bit md5 prefix of the key; register index = h mod
    2^p; rho = leading-zero count of the remaining 60-p bits + 1
    (computed via integer binary-string length — no float log2 edge
    cases). Registers aggregate with MAX (associative, mergeable);
    the indicator sum Z = sum_j 2^-M_j is computed EXACTLY as the
    bigint sum of 2^(Q - M_j) with Q = 60 - p + 1 (absent registers
    contribute 2^Q), so the only float math is the final closed form

        E = alpha_m * m^2 * 2^Q / S        (alpha_m = 0.7213 /
                                            (1 + 1.079 / m))

    with the standard linear-counting fallback E <= 2.5m & zeros > 0
    -> m * ln(m / zeros). Relative error ~ 1.04/sqrt(2^p) (~6.5% at
    p=8).

    Scale: one map-side hash projection; state is at most 2^p rows
    PER GROUP after a partial-aggregable max — the shuffle carries
    registers, not keys. Output: (group..., n_registers, zeros,
    s_units, estimate).
    """
    regs = hll_registers(df, key_col, group_cols, p)
    return hll_finalize(regs, group_cols, p)


def hll_registers(
    df: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
    p: int = 8,
) -> DataFrame:
    """The raw register frame (group..., __idx, __M) — exposed so
    sketches built over different slices can be MERGED (register-wise
    max) before finalizing: the union/intersection machinery below."""
    group_cols = group_cols or []
    m = 1 << p
    h = md5_int(F.col(key_col).cast("string"), 15)
    w = F.expr(f"__h div {m}")
    # bin-length of w = floor(log2(w)) + 1, integer-exact; rho is the
    # leading-zero run of the (60-p)-bit suffix plus one
    rho = F.when(
        w > 0, F.lit(_HASH_BITS - p) - (F.length(F.expr("bin(__w)")) - 1)
    ).otherwise(F.lit(_HASH_BITS - p + 1)).cast("int")
    return (
        # NULL keys would hash to a NULL register index (md5(NULL) is
        # NULL), forming a phantom register group that can push
        # n_registers past 2^p and corrupt zeros/s_units — exclude
        # them, matching COUNT(DISTINCT key)'s NULL semantics.
        df.where(F.col(key_col).isNotNull())
        .select(*group_cols, h.alias("__h"))
        .withColumn("__idx", F.expr(f"__h % {m}"))
        .withColumn("__w", w)
        .withColumn("__rho", rho)
        .groupBy(*group_cols, "__idx")
        .agg(F.max("__rho").alias("__M"))
    )


def hll_finalize(
    regs: DataFrame,
    group_cols: list[str] | None = None,
    p: int = 8,
) -> DataFrame:
    """Closed-form estimate from a register frame (see hll_distinct)."""
    group_cols = group_cols or []
    m = 1 << p
    q = _HASH_BITS - p + 1
    per_group = regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_registers"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {q} - __M)"))
        .alias("__s_present"),
    )
    s_units = (
        F.col("__s_present")
        + (F.lit(m) - F.col("n_registers"))
        * F.expr(f"shiftleft(CAST(1 AS BIGINT), {q})")
    )
    zeros = F.lit(m) - F.col("n_registers")
    alpha = 0.7213 / (1.0 + 1.079 / m)
    raw = (
        F.lit(alpha) * F.lit(float(m)) * F.lit(float(m))
        * F.lit(float(1 << q)) / F.col("s_units")
    )
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (F.col("zeros") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("zeros")),
    ).otherwise(raw)
    return (
        per_group
        .withColumn("zeros", zeros.cast("long"))
        .withColumn("s_units", s_units.cast("long"))
        .select(*group_cols, "n_registers", "zeros", "s_units",
                est.alias("estimate"))
    )


def countmin_build(
    df: DataFrame,
    key_col: str,
    d: int = 4,
    w: int = 1024,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-min sketch: d rows of w counters; every key increments
    counter (i, md5(i || '|' || key) mod w) for i in 0..d-1.

    The sketch is (d * w) rows REGARDLESS of corpus size — a bounded,
    mergeable (counter-wise sum) summary; the per-key explode is
    map-side and the single shuffle aggregates on (row, cell).
    Output: (row, cell, cnt)."""
    wcol = (F.col(weight_col).cast("long") if weight_col
            else F.lit(1).cast("long"))
    cells = df.select(
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("row"),
                (md5_int(F.concat(F.lit(f"{i}|"),
                                  F.col(key_col).cast("string")), 15)
                 % w).alias("cell"),
            )
            for i in range(d)
        ])).alias("rc"),
        wcol.alias("__w"),
    )
    return (
        cells.select(F.col("rc.row").alias("row"),
                     F.col("rc.cell").alias("cell"), "__w")
        .groupBy("row", "cell")
        .agg(F.sum("__w").alias("cnt"))
    )


def countmin_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    key_col: str,
    d: int = 4,
    w: int = 1024,
) -> DataFrame:
    """Point-estimate probe keys against a count-min sketch: estimate
    = min over the d counters a key hashes to (never an
    underestimate; overestimates by collision mass ~ N/w per row).

    The sketch is d*w rows -> broadcast; probes join map-side. Output:
    probe columns + est (bigint)."""
    probed = probes.select(
        "*",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("row"),
                (md5_int(F.concat(F.lit(f"{i}|"),
                                  F.col(key_col).cast("string")), 15)
                 % w).alias("cell"),
            )
            for i in range(d)
        ])).alias("rc"),
    ).select("*", F.col("rc.row").alias("row"),
             F.col("rc.cell").alias("cell")).drop("rc")
    return (
        probed.join(F.broadcast(sketch), ["row", "cell"], "left")
        .groupBy(*probes.columns)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est"))
    )


def bloom_build(
    df: DataFrame,
    key_col: str,
    m_bits: int = 16384,
    k_hashes: int = 7,
) -> DataFrame:
    """Bloom filter over a key column: ``m_bits`` bits as 32-bit words
    in bigint cells, ``k_hashes`` md5-derived positions per key.

    The 100 TB use: a distributed semi-join against a huge key set
    costs a shuffle of BOTH sides; a Bloom filter of the build side is
    m_bits/32 rows (512 here — broadcastable at any corpus size) with
    NO false negatives, so the probe side prunes map-side and only
    survivors pay the exact join. Build is one map-side explode +
    partial-aggregable bit_or; merge across shards = bit_or again.
    32-bit words keep every value positive and well inside bigint on
    both engines. Output: (word_idx, word)."""
    pos = F.array(*[
        (md5_int(F.concat(F.lit(f"b{i}|"),
                          F.col(key_col).cast("string")), 15) % m_bits)
        for i in range(k_hashes)
    ])
    return (
        df.select(F.explode(pos).alias("pos"))
        .select(
            F.expr("pos div 32").cast("int").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")
            .alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )


def bloom_probe(
    bloom: DataFrame,
    probes: DataFrame,
    key_col: str,
    m_bits: int = 16384,
    k_hashes: int = 7,
) -> DataFrame:
    """Membership test against :func:`bloom_build`'s table: a key
    'maybe' belongs iff ALL k of its bits are set (never a false
    negative; false-positive rate ~ (1 - e^(-kn/m))^k). Output: probe
    columns + maybe_present (boolean).

    r12 shape (guide §2.3/§2.4): the previous form exploded k
    position rows per probe and re-grouped on the full probe tuple —
    a k-times-larger shuffle keyed on the probe strings just to AND
    the bit tests back together. The word table is <= m_bits/32 rows
    (bounded by construction), so all k probes now ride k broadcast
    hash joins on precomputed word indexes and the AND is a map-side
    expression: the only remaining exchange is the same
    probe-dedup the old groupBy already paid, moved BELOW the probe
    work so it carries the bare probe columns."""
    # the dedup stays BELOW the position computation: an
    # already-distinct probe input then costs nothing
    # (RemoveRedundantAggregates drops this node), and the exchange
    # carries only the bare probe columns
    out = probes.distinct()
    out = out.withColumns({
        f"__p{i}": (md5_int(F.concat(F.lit(f"b{i}|"),
                                     F.col(key_col).cast("string")), 15)
                    % m_bits)
        for i in range(k_hashes)
    })
    out = out.withColumns(
        {f"__wi{i}": F.expr(f"CAST(__p{i} div 32 AS INT)")
         for i in range(k_hashes)}
        | {f"__mask{i}":
           F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(__p{i} % 32 AS INT))")
           for i in range(k_hashes)})
    hits = []
    for i in range(k_hashes):
        side = bloom.select(F.col("word_idx").alias(f"__wi{i}"),
                            F.col("word").alias(f"__word{i}"))
        out = out.join(F.broadcast(side), f"__wi{i}", "left")
        hits.append(
            F.coalesce(F.col(f"__word{i}"), F.lit(0).cast("long"))
            .bitwiseAND(F.col(f"__mask{i}")) == F.col(f"__mask{i}"))
    maybe = hits[0]
    for h in hits[1:]:
        maybe = maybe & h
    return out.select(*probes.columns, maybe.alias("maybe_present"))


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    quantile_pcts: list[int],
    group_cols: list[str] | None = None,
    lo: float = 0.0,
    hi: float = 2048.0,
    bins: int = 128,
) -> DataFrame:
    """Quantile estimates from a fixed-bound histogram — the mergeable
    alternative to an exact quantile's full sort: state is ``bins``
    counters per group (counter-wise-sum mergeable across shards),
    error bounded by the bin width, all arithmetic exact.

    Bin = clamp(floor((v - lo)/(hi - lo) * bins), 0, bins-1); the
    p-th percentile (integer ``quantile_pcts``) reports the UPPER EDGE
    of the first bin whose cumulative count satisfies
    ``100 * cum >= p * n`` — a pure-integer rank test, so estimates
    are bit-stable under any partitioning and in the DuckDB oracle.

    Scale: one map-side binning projection + a partial-aggregable
    (group, bin) count; the cumulative window partitions per GROUP
    over <= bins rows — bounded, never data-cardinality. Output:
    (group..., pct, bin, upper_edge, n).
    """
    from pyspark.sql import Window

    group_cols = group_cols or []
    span = hi - lo
    v = F.col(value_col).cast("double")
    b = F.least(
        F.greatest(F.floor((v - F.lit(lo)) / F.lit(span) * bins), F.lit(0)),
        F.lit(bins - 1),
    ).cast("int")
    counts = (
        # NULL values must not be binned: floor(NULL) is NULL but
        # greatest(NULL, 0) skips NULLs in Spark, so a NULL value
        # would silently land in bin 0 and shift every quantile.
        df.where(v.isNotNull())
        .select(*group_cols, b.alias("__bin"))
        .groupBy(*group_cols, "__bin")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.partitionBy(*[F.col(c) for c in group_cols]) \
        .orderBy("__bin").rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.partitionBy(*[F.col(c) for c in group_cols])
    cum = counts.withColumn("__cum", F.sum("__c").over(w)) \
        .withColumn("__n", F.sum("__c").over(wn))
    parts = []
    for p in quantile_pcts:
        hit = (
            cum.where(F.lit(100) * F.col("__cum") >= F.lit(p) * F.col("__n"))
            .groupBy(*group_cols)
            .agg(F.min("__bin").alias("bin"), F.min("__n").alias("n"))
            .withColumn("pct", F.lit(p).cast("int"))
        )
        parts.append(hit)
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    edge = F.lit(lo) + (F.col("bin") + F.lit(1)) * F.lit(span) / F.lit(bins)
    return out.select(*group_cols, "pct", F.col("bin").cast("long").alias("bin"),
                      edge.alias("upper_edge"),
                      F.col("n").cast("long").alias("n"))

