"""Text-analysis scalar functions: tokenization, quality metrics, language
ID heuristics, fingerprinting.

All pure Catalyst expressions (no Python UDFs) so they run in whole-stage
codegen at 100 TB. Each has a matching DuckDB SQL form used by the oracle
queries in __spark_entry__.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Marker-word lists for the n-gram/stopword language-ID heuristic. Fixed
# enumerated lists (FIXTURES.md determinism rules) shared verbatim with the
# DuckDB oracle.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "with", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "por"),
    "de": ("der", "die", "und", "das", "ist", "von", "mit", "den"),
    "fr": ("le", "la", "les", "des", "et", "est", "dans", "pour"),
}

# English stopword subset for quality scoring (fixed, shared with oracle).
STOPWORDS: tuple[str, ...] = (
    "the", "and", "of", "to", "a", "in", "is", "it", "for", "on",
    "with", "as", "at", "by", "an", "be", "this", "that", "from", "or",
)

# BPE-ish token regex: word pieces, digit runs, single non-space symbols.
BPE_TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _in_set(t: Column, words: tuple[str, ...]) -> Column:
    """Membership test usable inside HOF lambdas (Column.isin is not)."""
    return F.array_contains(F.array(*[F.lit(w) for w in words]), t)


def tokens(text: Column | str) -> Column:
    """Whitespace tokens, lowercased, empties dropped."""
    return F.filter(
        F.split(F.lower(_col(text)), "\\s+"), lambda t: F.length(t) > 0
    )


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def bpe_token_count(text: Column | str) -> Column:
    """Count of BPE-ish regex tokens (SURVEY-mandated token counting)."""
    return F.regexp_count(_col(text), F.lit(BPE_TOKEN_REGEX))


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    c = _col(text)
    stripped = F.regexp_replace(c, "[A-Za-z0-9\\s]", "")
    return F.when(F.length(c) > 0, F.length(stripped) / F.length(c)).otherwise(
        F.lit(0.0)
    )


def stopword_ratio(text: Column | str) -> Column:
    toks = tokens(text)
    stop = F.size(F.filter(toks, lambda t: _in_set(t, STOPWORDS)))
    return F.when(F.size(toks) > 0, stop / F.size(toks)).otherwise(F.lit(0.0))


def avg_token_len(text: Column | str) -> Column:
    toks = tokens(text)
    total = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
    )
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(text: Column | str) -> Column:
    """Composite quality heuristic in [0,1]: length norm - punct penalty.

    Deliberately simple/deterministic so the oracle can replicate it:
    0.5*min(n_tokens,100)/100 + 0.3*(1-punct_ratio) + 0.2*min(avg_len,8)/8
    """
    c = _col(text)
    n = token_count(c).cast("double")
    return (
        0.5 * F.least(n, F.lit(100.0)) / 100.0
        + 0.3 * (1.0 - punct_ratio(c))
        + 0.2 * F.least(avg_token_len(c), F.lit(8.0)) / 8.0
    )


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Per-language marker-hit counts over the token list."""
    toks = tokens(text)
    def count_in(words: tuple[str, ...]) -> Column:
        # Closure factory: a `lambda t, m=words:` form would be seen by
        # PySpark as the two-arg (element, index) HOF lambda.
        return F.size(F.filter(toks, lambda t: _in_set(t, words)))

    return {lang: count_in(markers) for lang, markers in LANG_MARKERS.items()}


def lang_id(text: Column | str) -> Column:
    """Argmax language with deterministic tie-break (lexicographic lang)."""
    scores = lang_scores(text)
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # Iterate in reverse-lexicographic order so the earliest language wins
    # ties in the final nested CASE.
    for lang in sorted(scores, reverse=True):
        expr = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(text: Column | str) -> Column:
    """Content fingerprint: md5 of the sorted distinct token set.

    Word-order- and duplication-insensitive — catches shuffled near-dups.
    """
    canon = F.array_join(F.array_sort(F.array_distinct(tokens(text))), " ")
    return F.md5(canon)
