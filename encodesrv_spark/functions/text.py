"""Text-analysis column builders: tokenization, shingling, language-ID
scoring, quality metrics.

All helpers are JVM-side Column expressions (split / higher-order array
functions / regexp_count) — no Python UDFs in the hot path, so they
whole-stage-codegen and scale linearly with input bytes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

WS = r"\s+"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization."""
    return F.split(_c(col), WS)


# DuckDB form of tokens_ne, for the oracles; the two are kept together
# so the Spark and DuckDB tokenizations stay locked.
TOKS_NE_SQL = r"list_filter(string_split_regex(text, '\s+'), t -> t <> '')"


def tokens_ne(col: Column | str = "text") -> Column:
    """Whitespace tokens with the empties dropped (the split yields ''
    around leading/trailing whitespace)."""
    return F.filter(tokens(col), lambda t: t != "")


def distinct_tokens(col: Column | str) -> Column:
    return F.array_distinct(tokens(col))


def word_shingles(col: Column | str, k: int) -> Column:
    """All k-word shingles (space-joined), [] when fewer than k tokens.

    Pure array expression: transform(sequence(1, n-k+1), i ->
    concat_ws(' ', slice(tokens, i, k))).  The guard matters — Spark's
    sequence(1, 0) yields a DESCENDING [1, 0], not an empty array.
    """
    toks = tokens(col)
    n = F.size(toks)
    sh = F.transform(
        F.sequence(F.lit(1), n - F.lit(k - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, F.lit(k))),
    )
    return F.when(n >= k, sh).otherwise(F.array().cast("array<string>"))


# Stopword profiles for the n-gram/stopword language-ID heuristic.
# Deterministic tie-break: the CASE order below (en > es > de > fr).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "es": ["el", "los", "que", "una", "por", "con"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "fr": ["le", "les", "des", "et", "est", "dans"],
}


def stopword_pattern(lang: str) -> str:
    words = "|".join(LANG_STOPWORDS[lang])
    return rf"\b(?:{words})\b"


def lang_score(col: Column | str, lang: str) -> Column:
    """Occurrences of the language's stopwords in the text."""
    return F.regexp_count(_c(col), F.lit(stopword_pattern(lang)))


def predicted_lang(col: Column | str) -> Column:
    """Argmax over language stopword scores; 'und' when all zero."""
    c = _c(col)
    scores = {lang: lang_score(c, lang) for lang in LANG_STOPWORDS}
    expr = F.lit("und")
    # build the CASE back-to-front so earlier langs win ties
    for lang in reversed(list(LANG_STOPWORDS)):
        others = [scores[o] for o in LANG_STOPWORDS if o != lang]
        cond = (scores[lang] > 0) & (scores[lang] >= F.greatest(*others))
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr
