"""Text-analysis column expressions for the training-data pipeline.

All JVM-side ``pyspark.sql.functions`` compositions — no Python UDFs in
these hot paths, so they whole-stage-codegen and scale linearly over a
100 TB document corpus. The hash primitive is md5-hex -> 60-bit int,
chosen because it is bit-identical across engines (portable to the
DuckDB oracle, stable across Spark versions — unlike xxhash64/murmur
defaults).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small English stopword set for the n-gram language heuristic.
EN_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "are", "was", "at", "by", "be",
)

# Per-language stopword sets for the multi-language variant. Function
# words are the strongest cheap language signal (high-frequency, mostly
# disjoint across languages); ~20 per language matches what fastText-
# style heuristics need for clean separation on running text.
LANG_STOPWORDS = {
    "de": ("der", "die", "das", "und", "den", "von", "zu", "mit", "sich",
           "des", "auf", "ist", "im", "dem", "nicht", "ein", "eine",
           "als", "auch", "werden"),
    "en": EN_STOPWORDS,
    "es": ("el", "la", "los", "las", "de", "que", "y", "en", "un", "una",
           "es", "por", "con", "no", "para", "su", "al", "lo", "como",
           "del"),
    "fr": ("le", "la", "les", "des", "et", "en", "un", "une", "est",
           "que", "pour", "dans", "qui", "sur", "pas", "au", "plus",
           "par", "avec", "ce"),
}


def bind(col: Column, f) -> Column:
    """Expression-level `let`: evaluate ``col`` ONCE per row and pass it
    to ``f`` as a higher-order-function lambda VARIABLE.

    A sub-expression referenced inside a transform/filter lambda body is
    re-evaluated per element (CollapseProject inlines aliases into the
    lambda), turning O(n) kernels O(n²) — a winnowing kernel measured
    513s -> 0.6s at sf0.001 from this alone. ``transform(array(x),
    v -> body)`` forces one evaluation; ``element_at(..., 1)`` unwraps.
    """
    return F.element_at(F.transform(F.array(col), f), 1)


def tokens(text: Column) -> Column:
    """Whitespace tokenization (documents are single-space joined)."""
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


# GPT-2-style pre-tokenizer classes, restricted to constructs that RE2
# (DuckDB) and java.util.regex compile identically: letter runs, digit
# runs, runs of non-alphanumeric-non-space, each with an optional
# leading space.
BPE_ISH_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


def bpe_token_count(text: Column) -> Column:
    """BPE-ish subword-boundary token count via the pre-tokenizer regex
    (the usual proxy for LLM token budgeting when no vocab is loaded)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0))


def md5_int(s: Column, hex_chars: int = 15) -> Column:
    """Portable integer hash: md5 hex prefix -> bigint (4 bits/char)."""
    return F.conv(F.substring(F.md5(s), 1, hex_chars), 16, 10).cast("long")


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of lowercased, whitespace-collapsed text
    (the rolling-hash analog, deterministic + portable)."""
    return F.md5(F.regexp_replace(F.lower(text), r"\s+", " "))


def stopword_ratio(text: Column) -> Column:
    toks = tokens(F.lower(text))
    stop = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    return n_stop / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[^a-zA-Z0-9 ]", "")
    return (F.length(text) - F.length(stripped)) / F.greatest(
        F.length(text), F.lit(1)
    )


def mean_token_length(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: penalize very short docs, high
    punctuation, and stopword-free (likely non-linguistic) text."""
    length_term = F.least(F.length(text) / F.lit(200.0), F.lit(1.0))
    stop_term = F.least(stopword_ratio(text) * 5.0, F.lit(1.0))
    punct_term = 1.0 - F.least(punct_ratio(text) * 4.0, F.lit(1.0))
    return (length_term + stop_term + punct_term) / 3.0


def lang_id(text: Column) -> Column:
    """Stopword-ratio language heuristic: 'en' vs 'und'."""
    return F.when(stopword_ratio(text) >= 0.05, F.lit("en")).otherwise(F.lit("und"))


def lang_scores(text: Column) -> Column:
    """Per-language stopword-hit ratios as a struct column (one field
    per LANG_STOPWORDS key). The token array is bound once per row; each
    language's score is a filter against a literal array — pure codegen,
    one pass over the corpus for all languages."""

    def scores_of(toks: Column) -> Column:
        n = F.greatest(F.size(toks), F.lit(1))
        fields = []
        for lang, words in LANG_STOPWORDS.items():
            stop = F.array(*[F.lit(w) for w in words])
            hits = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
            fields.append((hits / n).alias(lang))
        return F.struct(*fields)

    return bind(tokens(F.lower(text)), scores_of)


def lang_id_multi(text: Column, threshold: float = 0.05) -> Column:
    """Argmax-language over the per-language stopword scores; 'und'
    below ``threshold``. Ties break to the alphabetically first
    language (min over (-score, lang) — deterministic on both
    engines)."""

    def pick(sc: Column) -> Column:
        best = F.array_min(
            F.array(*[
                F.struct((-sc[lang]).alias("ns"), F.lit(lang).alias("lang"))
                for lang in LANG_STOPWORDS
            ])
        )
        return F.when(-best["ns"] >= threshold, best["lang"]).otherwise(
            F.lit("und")
        )

    return bind(lang_scores(text), pick)


def top_count(arr: Column) -> Column:
    """Max multiplicity of any element in the array, computed within
    the row: sort, then fold counting the longest run of equal adjacent
    elements. Map-only (no explode/groupBy shuffle) — the per-document
    repetition statistics stay linear over a 100 TB corpus."""

    def fold(sorted_arr: Column) -> Column:
        acc0 = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        )

        def step(acc: Column, x: Column) -> Column:
            run = F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1).otherwise(F.lit(1))
            return F.struct(
                x.alias("prev"), run.alias("run"),
                F.greatest(acc["best"], run).alias("best"),
            )

        return F.aggregate(sorted_arr, acc0, step, lambda a: a["best"])

    return bind(F.array_sort(arr), fold)


# PII patterns restricted to constructs java.util.regex and RE2 (DuckDB)
# compile identically — simple character classes, no backrefs/lookarounds.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"
IPV4_PATTERN = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def redact_pii(text: Column) -> Column:
    """Replace email/phone/IPv4 matches with typed placeholder tokens.
    Order matters: emails first (an address can embed digits), then
    phones, then IPs. Pure regexp_replace — map-only, codegen'd."""
    out = F.regexp_replace(text, EMAIL_PATTERN, "<EMAIL>")
    out = F.regexp_replace(out, PHONE_PATTERN, "<PHONE>")
    return F.regexp_replace(out, IPV4_PATTERN, "<IP>")


def pii_counts(text: Column) -> tuple[Column, Column, Column]:
    """(n_emails, n_phones, n_ips) match counts for audit trails."""
    return (
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_PATTERN), 0)),
        F.size(F.regexp_extract_all(text, F.lit(PHONE_PATTERN), 0)),
        F.size(F.regexp_extract_all(text, F.lit(IPV4_PATTERN), 0)),
    )


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles as an array<string> (space-joined).

    The token array is bound once per row (see :func:`bind`) — the
    shingle lambda must not re-split the document per shingle."""

    def shingles_of(toks: Column) -> Column:
        n = F.size(toks)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        return F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
        )

    return bind(tokens(F.lower(text)), shingles_of)


def c4_line_filter(text: Column, sep: str = "\n",
                   min_words: int = 5) -> Column:
    """C4-recipe line retention (Raffel et al. 2020 §2.2): keep lines
    that end in terminal punctuation and have >= ``min_words`` words.
    Returns the struct (kept_lines array, n_total).  Pure codegen:
    split + filter lambdas, no UDF."""
    lines = F.split(text, sep)
    kept = F.filter(
        lines,
        lambda x: F.trim(x).rlike(r'[.!?"]$')
        & (F.size(F.split(F.trim(x), r"\s+")) >= min_words),
    )
    return F.struct(
        kept.alias("kept_lines"), F.size(lines).alias("n_total")
    )


def c4_doc_flags(text: Column) -> tuple[Column, Column]:
    """C4 page-level removal signals: curly brace (code) and
    'lorem ipsum' placeholder text."""
    low = F.lower(text)
    return low.contains("{"), low.contains("lorem ipsum")


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_flags(text: Column, line_text: Column | None = None,
                 min_words: int = 50, max_words: int = 100_000) -> dict:
    """The full Gopher document-quality rule set (Rae et al. 2021,
    Appendix A 'quality filtering'), pure codegen:

    - word count in [min_words, max_words];
    - mean word length in [3, 10];
    - symbol-to-word ratio ('#' or '...') <= 0.1;
    - <= 90% of lines start with a bullet ('- ' / '* ');
    - <= 30% of lines end with an ellipsis;
    - >= 80% of words contain at least one alphabetic character;
    - at least 2 of the 8 required stopwords present.

    Word rules tokenize on WHITESPACE RUNS (``\\s+`` after trim) and
    mean word length is non-whitespace chars / words — robust to
    tabs, newlines, and consecutive spaces, unlike the corpus-wide
    single-space ``tokens()`` regime (on single-space-joined text the
    two agree exactly, which is the regime the DuckDB oracle mirrors).
    ``line_text`` carries the line structure when the stored ``text``
    is whitespace-normalized (the line rules run on it; the word rules
    stay on ``text``). Returns a dict of named metric columns plus
    ``keep``; mirror 1:1 in the DuckDB oracle."""
    lt = line_text if line_text is not None else text
    toks = F.split(F.trim(text), r"\s+")
    n = F.size(toks)
    nd = n.cast("double")
    mean_len = F.length(F.regexp_replace(text, r"\s+", "")) / nd
    hash_n = F.length(lt) - F.length(F.replace(lt, F.lit("#"), F.lit("")))
    ell_n = (F.length(lt)
             - F.length(F.replace(lt, F.lit("..."), F.lit("")))) / 3
    symbol_ratio = (hash_n + ell_n) / nd
    lines = F.split(lt, "\n")
    nl = F.size(lines).cast("double")
    bullet_frac = F.size(F.filter(
        lines, lambda x: x.startswith("- ") | x.startswith("* "))) / nl
    ellipsis_frac = F.size(F.filter(
        lines, lambda x: x.endswith("..."))) / nl
    alpha_frac = F.size(F.filter(
        toks, lambda w: w.rlike("[A-Za-z]"))) / nd
    hits = None
    for sw in GOPHER_STOPWORDS:
        h = F.array_contains(toks, sw).cast("int")
        hits = h if hits is None else hits + h
    keep = (
        (n >= min_words) & (n <= max_words)
        & (mean_len >= 3.0) & (mean_len <= 10.0)
        & (symbol_ratio <= 0.1)
        & (bullet_frac <= 0.9) & (ellipsis_frac <= 0.3)
        & (alpha_frac >= 0.8) & (hits >= 2)
    )
    return {
        "n_words": n.cast("long"),
        "mean_word_len": mean_len,
        "symbol_ratio": symbol_ratio,
        "bullet_frac": bullet_frac,
        "ellipsis_frac": ellipsis_frac,
        "alpha_frac": alpha_frac,
        "stopword_hits": hits.cast("long"),
        "keep": keep,
    }


def token_entropy_cols(df, text_col: str = "text",
                       entropy_col: str = "entropy",
                       distinct_col: str = "n_distinct"):
    """Within-doc Shannon entropy of the token distribution, in nats —
    the low-entropy-boilerplate curation signal.

    DataFrame-level on purpose: each stage materializes as a projected
    column, so array subexpressions are evaluated once per row.  An
    expression nested inside a higher-order-function lambda is
    re-evaluated PER ELEMENT (measured: the single-Column formulation
    of this kernel re-sorted the token array inside the fold and went
    quadratic).  Pipeline: sorted tokens -> run-start flags (zip with
    the shifted array) -> run-start positions -> run lengths -> one
    short fold over DISTINCT-token counts accumulating quantized
    (c/n)·ln(c/n) micro-nat terms through an exact integer sum
    (order-independent, bit-reproducible in SQL).
    """
    toks = F.array_sort(tokens(F.lower(F.col(text_col))))
    df = df.withColumn("__te_toks", toks)
    df = df.withColumn("__te_n", F.size("__te_toks"))
    prev = F.concat(
        F.array(F.lit(None).cast("string")),
        F.slice(F.col("__te_toks"), 1,
                F.greatest(F.col("__te_n") - 1, F.lit(0))),
    )
    flags = F.zip_with(
        F.col("__te_toks"), prev, lambda a, b: ~a.eqNullSafe(b)
    )
    df = df.withColumn(
        "__te_starts",
        F.filter(
            F.transform(flags, lambda fl, i: F.when(fl, i)),
            lambda x: x.isNotNull(),
        ),
    )
    ends = F.concat(
        F.slice(F.col("__te_starts"), 2,
                F.greatest(F.size("__te_starts") - 1, F.lit(0))),
        F.array(F.col("__te_n")),
    )
    df = df.withColumn(
        "__te_counts",
        F.zip_with(F.col("__te_starts"), ends, lambda s, e: e - s),
    )

    nn = F.col("__te_n").cast("double")
    total = F.aggregate(
        F.col("__te_counts"),
        F.lit(0).cast("long"),
        lambda acc, c: acc + F.floor(
            (c.cast("double") / nn) * F.log(c.cast("double") / nn) * 1e6
            + F.lit(0.5)
        ).cast("long"),
    )
    return (
        df.withColumn(entropy_col, -total.cast("double") / 1e6)
        .withColumn(distinct_col, F.size("__te_starts"))
        .drop("__te_toks", "__te_n", "__te_starts", "__te_counts")
    )


def hashed_linear_score(
    text: Column,
    num_buckets: int = 4096,
    weights: Column | None = None,
) -> Column:
    """fastText-style model-based quality score — the DCLM /
    FineWeb-Edu filtering shape: word unigrams AND bigrams feature-
    hashed into ``num_buckets``, tf-weighted dot product with a weight
    vector, squashed by a sigmoid. Returns p in (0, 1).

    ``weights``: an array<double> column (length ``num_buckets``) —
    broadcast-join a trained model in production. ``None`` uses a
    deterministic STAND-IN derived from the bucket index (the training
    container has no model artifacts; this keeps the full hashing /
    scoring plumbing real and oracle-able):
    w[b] = ((b * 2654435761) % 2001 - 1000) / 1000.

    Pure codegen (aggregate over the token array — no explode, no
    shuffle, no UDF): score rows at 100 TB as a map-only projection.
    The dot product is quantized to 1e-6 per feature and exact-summed
    so the score is independent of evaluation order.
    """
    toks = tokens(F.lower(text))
    n = F.size(toks)
    grams = F.concat(
        toks,
        F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(toks, i), F.element_at(toks, i + 1)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    bucket = lambda g: md5_int(g, 13) % num_buckets  # noqa: E731
    if weights is None:
        w = lambda g: ((bucket(g) * 2654435761) % 2001 - 1000) / 1000.0  # noqa: E731,E501
    else:
        w = lambda g: F.try_element_at(  # noqa: E731
            weights, (bucket(g) + 1).cast("int"))

    def score_of(garr: Column) -> Column:
        qsum = F.aggregate(
            garr,
            F.lit(0).cast("long"),
            lambda acc, g: acc
            + F.floor(w(g) * 1e6 + F.lit(0.5)).cast("long"),
        )
        z = qsum / 1e6 / F.greatest(F.size(garr), F.lit(1))
        return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))

    # bind(): build the gram array ONCE per row — referenced by both
    # the fold and the size, which would otherwise re-derive it
    return bind(grams, score_of)


# Unicode punctuation folding map — the standard web-text
# normalization pass (curly quotes, dashes, ellipsis, NBSP and
# zero-width characters) shared VERBATIM with the DuckDB oracle so
# both engines apply the identical sequence of replacements.
FOLD_MAP = (
    ("‘", "'"), ("’", "'"), ("‚", "'"), ("‛", "'"),
    ("“", '"'), ("”", '"'), ("„", '"'), ("‟", '"'),
    ("–", "-"), ("—", "-"), ("―", "-"), ("−", "-"),
    ("…", "..."),
    (" ", " "), (" ", " "), (" ", " "), ("　", " "),
    ("​", ""), ("‌", ""), ("‍", ""), ("﻿", ""),
)


def fold_text(text: Column, collapse_ws: bool = True) -> Column:
    """Fold typographic Unicode to ASCII equivalents (FOLD_MAP order),
    then optionally collapse whitespace runs and trim — the
    normalization applied before hashing/fingerprinting so smart-quote
    re-renderings of one document dedup together. Pure codegen
    (chained replace + one regexp), map-only."""
    out = text
    for src_ch, dst in FOLD_MAP:
        out = F.replace(out, F.lit(src_ch), F.lit(dst))
    if collapse_ws:
        out = F.trim(F.regexp_replace(out, r"\s+", " "))
    return out


def hashed_linear_score_frame(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 4096,
    cache_cap: int = 1 << 20,
):
    """Arrow-kernel twin of :func:`hashed_linear_score` (the
    functions/kernel_twin.py technique applied to the #1 bench
    query): per Arrow batch, hash each UNIQUE gram once (token
    frequencies are Zipf — the JVM expression md5-hashes every gram
    INSTANCE, so a task-lifetime qw-cache removes the vast majority of
    hash work), accumulate the integer-quantized weight sum per doc,
    and emit the identical sigmoid.

    Bit-equality contract with the JVM path: the tokenizer is the same
    literal single-space split (empty text -> ['']), the bucket is the
    same md5-hex-prefix integer, the per-feature weight quantum is the
    same integer floor((b*2654435761 % 2001 - 1000)/1000 * 1e6 + 0.5)
    = (b*2654435761 % 2001 - 1000) * 1000 computed in exact int
    arithmetic, and the final z = (q / 1e6) / n_features runs the same
    two IEEE divisions in the same order — so quality_prob matches the
    JVM fold to the last bit modulo the exp() libm class every -ln
    idiom in the engine already lives in.

    Scale shape: map-only (mapInPandas, zero shuffle); the cache is
    per-task and capped at ``cache_cap`` entries (inserts stop at the
    cap — correctness never depends on a hit). Returns
    (id, n_features, quality_prob).
    """
    from hashlib import md5 as _md5

    import pandas as pd

    out_schema = f"{id_col} long, n_features long, quality_prob double"
    mul, mod, half = 2654435761, 2001, num_buckets

    def kernel(it):
        from collections import Counter

        from math import exp

        from .kernel_twin import TaskCache

        cache = TaskCache(cap=cache_cap)

        def compute(g: str) -> int:
            b = int(_md5(g.encode("utf-8")).hexdigest()[:13], 16) % half
            return (b * mul % mod - 1000) * 1000

        def qw_of(g: str) -> int:
            return cache.get_or(g, compute)

        for pdf in it:
            if not len(pdf):
                continue
            ids, ns, ps = [], [], []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                if txt is None:
                    # mirror the JVM fold: NULL text -> NULL features
                    # and NULL score (size/aggregate of NULL are NULL)
                    ids.append(did)
                    ns.append(None)
                    ps.append(None)
                    continue
                toks = txt.lower().split(" ")
                n = len(toks)
                grams = Counter(toks)
                if n >= 2:
                    grams.update(
                        toks[i] + " " + toks[i + 1]
                        for i in range(n - 1))
                nf = n + (n - 1 if n >= 2 else 0)
                q = 0
                for g, c in grams.items():
                    q += qw_of(g) * c
                z = (q / 1e6) / nf
                ids.append(did)
                ns.append(nf)
                ps.append(1.0 / (1.0 + exp(-z)))
            # Int64 (nullable) so a None n_features survives the Arrow
            # cast to `long` (a float64 NaN would fail the conversion)
            yield pd.DataFrame({
                id_col: ids,
                "n_features": pd.array(ns, dtype="Int64"),
                "quality_prob": pd.array(ps, dtype="float64"),
            })

    return docs.select(id_col, text_col).mapInPandas(kernel, out_schema)
