"""Column-level text-analysis building blocks.

Beyond-reference operators for large-scale training-data pipelines (driver
north star, BASELINE.json): language-ID, quality scoring, token counting,
fingerprinting. Everything here is pure `pyspark.sql.functions` — JVM-side,
whole-stage-codegen friendly, no Python in the hot path — and each has an
ANSI-SQL equivalent runnable by DuckDB so results are oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny, fixed stopword inventories. Deliberately small and embedded: the
# language-ID heuristic needs a deterministic, SQL-expressible signal, not
# linguistic completeness.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "sich"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "dans", "que", "pour"],
    "es": ["el", "la", "los", "es", "una", "por", "con", "para", "del", "las"],
}


def tokens(col: Column) -> Column:
    """Whitespace tokenization (lowercased)."""
    return F.split(F.trim(F.lower(col)), r"\s+")


def token_count(col: Column) -> Column:
    return F.when(F.length(F.trim(col)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(col), r"\s+"))
    )


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish token estimate: count of word/number/punctuation units, the
    standard cheap proxy for subword-tokenizer counts."""
    return F.size(F.regexp_extract_all(col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0)))


def char_count(col: Column) -> Column:
    return F.length(col)


def _class_count(col: Column, pattern: str) -> Column:
    return F.length(col) - F.length(F.regexp_replace(col, pattern, ""))


def alpha_ratio(col: Column) -> Column:
    return _class_count(col, "[A-Za-z]") / F.greatest(F.length(col), F.lit(1))


def digit_ratio(col: Column) -> Column:
    return _class_count(col, "[0-9]") / F.greatest(F.length(col), F.lit(1))


def punct_ratio(col: Column) -> Column:
    return _class_count(col, r"[^A-Za-z0-9\s]") / F.greatest(F.length(col), F.lit(1))


def stopword_hits(col: Column, lang: str = "en") -> Column:
    """How many tokens are stopwords of `lang`."""
    words = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens(col), lambda t: F.array_contains(words, t)))


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    return stopword_hits(col, lang) / F.greatest(token_count(col), F.lit(1))


def language_guess(col: Column) -> Column:
    """Argmax of per-language stopword hits; 'und' (undetermined) when no
    language scores a hit. Deterministic tie-break: language order
    en > de > fr > es (strict > comparison keeps the earlier winner)."""
    result = F.lit("und")
    best = F.lit(0)
    for lang in STOPWORDS:
        hits = stopword_hits(col, lang)
        result = F.when(hits > best, F.lit(lang)).otherwise(result)
        best = F.greatest(best, hits)
    return result


def quality_score(col: Column) -> Column:
    """Heuristic document quality in [0,1]: rewards mid-length documents,
    alphabetic content and stopword presence; penalizes punctuation/digit
    soup. Fixed formula — downstream filters rely on stability."""
    length_term = F.least(token_count(col) / F.lit(100.0), F.lit(1.0))
    return F.round(
        F.lit(0.25) * length_term
        + F.lit(0.35) * alpha_ratio(col)
        + F.lit(0.25) * F.least(stopword_ratio(col) * 4, F.lit(1.0))
        + F.lit(0.15) * (1 - F.least(punct_ratio(col) * 4, F.lit(1.0))),
        4,
    )


def word_ngram_multiset(col: Column, n: int = 2) -> Column:
    """All word n-grams in order (multiset — duplicates kept, unlike
    hashing.word_ngrams). Documents shorter than n words yield one
    partial gram, matching DuckDB slice semantics in the oracle."""
    t = tokens(col)
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(t, i + 1, n)),
    )


def dup_token_ratio(col: Column) -> Column:
    """Fraction of tokens that are repeats of an earlier token — the
    Gopher-style repetition signal at token grain."""
    t = tokens(col)
    return (F.size(t) - F.size(F.array_distinct(t))) / F.greatest(F.size(t), F.lit(1))


def top_ngram_count(col: Column, n: int = 2) -> Column:
    """Occurrences of the most frequent word n-gram.

    Single pass over the SORTED multiset (max multiplicity = longest run
    of equal adjacent elements): O(m log m) per doc instead of the naive
    O(distinct x total) nested scan, which at ~500 tokens/doc was 10x the
    rest of the text-analysis suite combined. Values are identical
    (including the NULL for an empty multiset)."""
    ng = word_ngram_multiset(col, n)
    best = F.aggregate(
        F.array_sort(ng),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x.eqNullSafe(acc.prev), acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x.eqNullSafe(acc.prev), acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    return F.when(F.size(ng) == 0, F.lit(None).cast("int")).otherwise(best)


def top_ngram_frac(col: Column, n: int = 2) -> Column:
    """Fraction of all n-gram slots taken by the most frequent n-gram —
    high values flag boilerplate/template documents."""
    return top_ngram_count(col, n) / F.size(word_ngram_multiset(col, n))


# Scrub patterns (portable between Java regex and RE2-ish engines: no
# backrefs, no lookaround). Application order matters — emails before
# URLs before bare number runs.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"
NUM_RE = r"[0-9][0-9-]{2,}"


def scrub_text(col: Column) -> Column:
    """PII-style redaction for training corpora: emails -> <EMAIL>,
    URLs -> <URL>, digit runs (phone/id-like, 3+ chars) -> <NUM>."""
    out = F.regexp_replace(col, EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, URL_RE, "<URL>")
    return F.regexp_replace(out, NUM_RE, "<NUM>")


def pattern_count(col: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0)))


def normalize_text(col: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace,
    strip punctuation."""
    return F.trim(F.regexp_replace(F.regexp_replace(F.lower(col), r"[^a-z0-9\s]", ""), r"\s+", " "))


def fingerprint(col: Column) -> Column:
    """Deterministic 128-bit document fingerprint (hex) over the
    normalized text — md5 so any SQL engine can reproduce it."""
    return F.md5(normalize_text(col))
