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

