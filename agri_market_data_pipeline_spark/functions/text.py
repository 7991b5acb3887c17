"""Text column expressions shared by the dedup / text-analysis operators.

Tokenization is a plain split on single spaces — matching the synthetic
`documents.text` format and keeping Spark and the SQL oracles trivially
aligned. Shingling and hashing use md5, the one hash both engines share
bit-for-bit, so even MinHash signatures are oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(text_col: str) -> Column:
    return F.split(text_col, " ")


def kgrams(text_col: str, k: int) -> Column:
    """Word k-gram strings of a space-tokenized text column (empty if
    < k tokens).

    Built as zip(t[0:n-k+1], t[1:n-k+2], …) → concat: the lambda touches
    only its own zipped element, so Catalyst evaluates the token array
    once. (The index-based form — transform(sequence(1, n-k+1),
    i -> concat(element_at(t, i), …)) — re-evaluates the outer array
    expression per index and ran ~5× slower; and sequence(1, n-k+1)
    with n < k generates a *descending* sequence rather than an empty
    one.) greatest(n-k+1, 0) keeps the slice length non-negative: short
    docs yield empty slices, hence zero grams, no conditional needed.
    arrays_zip names the struct fields of its SQL form by position."""
    t = f"split({text_col}, ' ')"
    n = f"greatest(size({t}) - {k - 1}, 0)"
    slices = ", ".join(f"slice({t}, {i + 1}, {n})" for i in range(k))
    parts = ", ".join(f"s['{i}']" for i in range(k))
    return F.expr(f"transform(arrays_zip({slices}), s -> concat_ws(' ', {parts}))")


def shingles3(text_col: str) -> Column:
    """Word 3-gram shingles (kgrams with k = 3)."""
    return kgrams(text_col, 3)


SQL_SHINGLES3 = """
CASE WHEN len({toks}) >= 3
     THEN list_transform(generate_series(1, len({toks}) - 2),
                         i -> {toks}[i] || ' ' || {toks}[i+1] || ' ' || {toks}[i+2])
     ELSE [] END
"""


# Tiny per-language stopword lexicons for the rule-based language-ID
# heuristic (the classic cheap lang-id: score languages by closed-class
# word hits; real corpora use char n-gram profiles — same plumbing).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "a", "to", "in"),
    "es": ("el", "la", "de", "y", "que", "en"),
    "de": ("der", "die", "und", "das", "ist", "ein"),
    "fr": ("le", "la", "et", "les", "des", "un"),
}

# Sentiment lexicon (EDBT'16-style lexicon scoring; integer weights keep
# the aggregate exact across engines).
SENTIMENT_LEXICON: dict[str, int] = {"fast": 1, "merge": 1, "slow": -1, "small": -1}
