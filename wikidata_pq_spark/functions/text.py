"""JVM-side text column functions (no Python in the hot path).

Everything here compiles to Catalyst expressions (split/transform/
aggregate/filter), so it stays inside whole-stage codegen -- the
vectorized-over-per-row discipline the reference arrived at
(reference: claims.py:11-13 rejecting map_elements).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small per-language stopword lists for the n-gram language heuristic.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "on", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "den", "von", "mit"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "du", "dans"],
    "es": ["el", "los", "las", "y", "es", "un", "una", "de", "del", "por"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2", "you3", "wo3", "ta1", "zhe4", "bu4"],
}

FINGERPRINT_MOD = 2147483647  # 2^31 - 1


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of lowercased text (empty-safe)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(F.lower(c)), r"\s+")


def distinct_tokens(col: Column | str) -> Column:
    return F.array_distinct(tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word-ish token count (cheap BPE proxy): maximal runs of
    letters, digits, or single punctuation marks. RE2-compatible
    alternation (no lookarounds) so SQL oracles can replicate it."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(
        F.regexp_extract_all(F.lower(c), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
    )


def shingles(tok_col: Column, n: int = 3) -> Column:
    """n-gram shingles (space-joined) over a token array column."""
    idx = F.sequence(F.lit(0), F.size(tok_col) - n)
    return F.when(F.size(tok_col) < n, F.array().cast("array<string>")).otherwise(
        F.transform(idx, lambda i: F.array_join(F.slice(tok_col, i + 1, n), " "))
    )


def stopword_hits(tok_col: Column, lang: str) -> Column:
    """Count of tokens present in the language's stopword list."""
    wl = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tok_col, lambda x: F.array_contains(wl, x)))


def rolling_fingerprint(tok_col: Column) -> Column:
    """Polynomial rolling hash over token lengths, mod 2^31-1.

    Deterministic and engine-portable: the DuckDB oracle reproduces it
    with list_reduce over the same fold order.
    """
    lens = F.transform(tok_col, lambda x: F.length(x).cast("long"))
    return F.aggregate(
        lens,
        F.lit(0).cast("long"),
        lambda h, x: F.pmod(h * 31 + x, F.lit(FINGERPRINT_MOD)),
    )
