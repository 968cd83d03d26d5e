"""The stopword language guess: the `lang_guess` column of every run_job
pass. A native column expression, recomputable by the DuckDB oracle."""

from __future__ import annotations

import pyspark.sql.functions as F

from ..functions.texthash import norm_words

# Tiny per-language stopword lists for the n-gram/stopword heuristic.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "fr": ["le", "la", "les", "de", "des", "et", "un", "une", "que", "pour"],
    "de": ["der", "die", "das", "und", "ein", "eine", "zu", "mit", "ist", "den"],
    "es": ["el", "la", "los", "de", "y", "un", "una", "que", "es", "para"],
}
LANGS = list(STOPWORDS.keys())


def _stopword_hits(words):
    """Per-language count of distinct stopwords in `words` (an array of
    distinct words), in LANGS order."""
    return [
        F.size(F.array_intersect(words, F.array(*[F.lit(w) for w in STOPWORDS[lang]])))
        for lang in LANGS
    ]


def _stopword_argmax(hits):
    """Language with the most stopword hits; earlier LANGS win ties
    (en > fr > de > es) and no hit (or NULL hits) reads 'unknown'."""
    best = F.greatest(*hits)
    guess = F.lit("unknown")
    for lang, h in reversed(list(zip(LANGS, hits))):
        guess = F.when(h == best, F.lit(lang)).otherwise(guess)
    return F.when(best > 0, guess).otherwise(F.lit("unknown"))


def lang_guess_expr(text_col):
    """Column expression: stopword-argmax language guess for an
    arbitrary (possibly null) text column. The extraction job uses it
    to annotate extracted documents (lang verification against the
    upstream `lang` column)."""
    words = F.array_distinct(norm_words(F.coalesce(text_col, F.lit(""))))
    return _stopword_argmax(_stopword_hits(words))
