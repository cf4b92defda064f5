"""Text-analysis column expressions (SURVEY.md §2.12): tokenization,
shingling, quality scoring, language-ID heuristic, fingerprints.

Everything here is a *column expression builder* (JVM-side built-ins,
whole-stage-codegen friendly) — no Python UDFs in these hot paths.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tiny per-language stopword lexicon for the n-gram/stopword language
#: heuristic. Deliberately small + public-knowledge words; the point is
#: the *operator shape* (token ⋈ lexicon → argmax), not lexical
#: coverage.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"),
    "fr": ("le", "la", "les", "et", "est", "de", "des", "un", "une", "dans"),
    "es": ("el", "la", "los", "las", "es", "de", "un", "una", "que", "con"),
    "zh": ("的", "是", "在", "了", "和", "有", "我", "不", "人", "这"),
}


def stopword_rows() -> list[tuple[str, str]]:
    """STOPWORDS flattened to (lang, word) rows — shared by the l9 /
    l55 Spark lexicon frames and their DuckDB oracle VALUES lists, which
    are built when the plan module is imported. Lives here with the
    lexicon it flattens."""
    return [(lang, w) for lang, words in STOPWORDS.items() for w in words]


def tokens(text: Column) -> Column:
    """Whitespace tokenization (the fixtures are space-separated
    synthetic tokens)."""
    return F.split(F.trim(text), r"\s+")


def distinct_tokens(text: Column) -> Column:
    return F.array_distinct(tokens(text))


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def shingles_of(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles as 'w1 w2 w3' strings from an ALREADY
    MATERIALIZED token-array column — the MinHash input unit. Built
    from slice over the token array via transform (no UDF).

    ``toks`` must be a plain column reference (project ``tokens(text)``
    into a column first): higher-order lambdas get no common-
    subexpression elimination, so a ``split`` embedded in the lambda
    body re-tokenizes the document once PER SHINGLE — O(len²) work.
    Materializing tokens first measured 3.3× faster on the l30
    decontamination query at sf0.1 (3.0 s → 0.9 s).

    Documents with fewer than ``n`` tokens yield an EMPTY array: the
    sequence is guarded behind ``k >= 1`` because Spark's default
    sequence step is -1 when start > stop, so ``sequence(1, 0)`` is the
    DESCENDING [1, 0] and ``slice(toks, 0, n)`` then throws
    INVALID_PARAMETER_VALUE.START — short/empty docs certainly occur at
    corpus scale."""
    k = F.size(toks) - (n - 1)
    return F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles(text: Column, n: int = 3) -> Column:
    """Shingles straight from a text column. Convenience form for
    one-shot expressions; HOT PATHS should project ``tokens(text)``
    into a column and call :func:`shingles_of` on it (see that
    docstring for the no-CSE O(len²) trap this avoids)."""
    return shingles_of(tokens(text), n)


def quality_score(text: Column) -> Column:
    """Heuristic document quality in [0,1]: penalize extreme length,
    symbol density, and low alphabetic ratio — the standard
    pretraining-corpus filter shape. Formula kept to portable SQL
    primitives (length/regexp_replace in the common RE2 subset) so the
    DuckDB oracle can mirror it term by term."""
    n = (F.length(text) + F.lit(1)).cast("double")
    alpha = F.length(F.regexp_replace(text, "[^a-zA-Z ]", "")) / n
    symbol = F.length(F.regexp_replace(text, "[a-zA-Z0-9 ]", "")) / n
    len_ok = F.when(
        (F.length(text) >= 20) & (F.length(text) <= 20000), 1.0
    ).otherwise(0.5)
    score = len_ok * (
        F.lit(0.7) * alpha + F.lit(0.3) * (1 - F.least(symbol * 5, F.lit(1.0)))
    )
    return F.least(F.greatest(score, F.lit(0.0)), F.lit(1.0))


#: SQL twin of :func:`quality_score` (DuckDB + Spark SQL common
#: dialect) — shared by the l10 oracle and the l64 threshold sweep so
#: the formula cannot drift between them.
QUALITY_SQL = (
    "LEAST(GREATEST((CASE WHEN LENGTH(text) >= 20 AND LENGTH(text) <= 20000 "
    "THEN 1.0 ELSE 0.5 END) * (0.7 * (LENGTH(REGEXP_REPLACE(text, '[^a-zA-Z ]', '', 'g')) "
    "/ CAST(LENGTH(text) + 1 AS DOUBLE)) + 0.3 * (1 - LEAST((LENGTH(REGEXP_REPLACE(text, "
    "'[a-zA-Z0-9 ]', '', 'g')) / CAST(LENGTH(text) + 1 AS DOUBLE)) * 5, 1.0))), 0.0), 1.0)"
)
