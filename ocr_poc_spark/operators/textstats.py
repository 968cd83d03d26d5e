"""Per-document text operators: the stopword language guess (the
`lang_guess` column of every run_job pass and the lang_id operator),
document fingerprints and the hashing-trick embedding. All native
column expressions, recomputable by the DuckDB oracle."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.texthash import hash60, norm_words, shingle_hashes

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
    upstream `lang` column); lang_id shares its argmax."""
    words = F.array_distinct(norm_words(F.coalesce(text_col, F.lit(""))))
    return _stopword_argmax(_stopword_hits(words))


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-hit argmax language guess with the per-language hit
    counts (NULL text gives NULL hits and guess 'unknown')."""
    hits = _stopword_hits(F.array_distinct(norm_words(text_col)))
    scored = df.select(
        id_col,
        F.col("lang").alias("lang_true"),
        *[h.alias(f"hits_{lang}") for lang, h in zip(LANGS, hits)],
    )
    hit_cols = [F.col(f"hits_{lang}") for lang in LANGS]
    return scored.select(
        id_col,
        "lang_true",
        _stopword_argmax(hit_cols).alias("lang_guess"),
        *hit_cols,
    )


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Document fingerprints: md5 of whitespace-normalised text + a
    60-bit rolling hash over 5-word windows, min-sampled (winnowing-
    style). The window hash is the first 15 hex chars of md5 parsed as
    an integer — chosen over xxhash64 so an independent engine (the
    DuckDB oracle) can recompute the winnowed fingerprint exactly."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    words = F.split(norm, " ")
    # Short docs (<5 words) yield winnow_fp = NULL: shingle_hashes gives
    # them an EMPTY array (never the sequence(1, greatest(n,0)) trap,
    # which is the descending [1,0] and crashes slice() at index 0) and
    # array_min([]) is NULL — matching the DuckDB oracle's list_min([]).
    return (
        df.withColumn("_w", words)
        .select(
            id_col,
            F.md5(norm).alias("md5_fp"),
            F.array_min(shingle_hashes("_w", 5)).alias("winnow_fp"),
        )
    )


def hash_embedding(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 16,
) -> DataFrame:
    """Feature-hashing ("hashing trick", Weinberger et al. 2009) text
    embedding: token t adds sign(t) to bucket(t), giving a fixed-dim
    integer count vector per document — the cheap deterministic
    embedding a curation pipeline uses for clustering / cosine near-dup
    when no model embedding exists.

    bucket(t) = hash60(t) & (dim-1); sign(t) = bit `log2(dim)` of the
    same hash (disjoint bit ranges). The md5-hex15 hash (texthash.py)
    and the INTEGER counts make every cell — and any downstream dot
    product / norm, since integer sums and products stay exact in
    doubles far below 2^53 — bit-exactly recomputable by the DuckDB
    oracle; there is no float discipline to manage until a consumer
    normalizes.

    Zero-shuffle map: one fold over the token array per document
    (O(n_tokens * dim) per doc — fine at dim<=64; a large-dim variant
    would explode tokens and groupBy (id, bucket) instead). dim must be
    a power of two (bucket/sign come from bit slicing, which both
    engines evaluate exactly — integer division via doubles would lose
    exactness above 2^53)."""
    if dim & (dim - 1) != 0 or dim < 2:
        raise ValueError(f"dim must be a power of two >= 2, got {dim}")
    shift = dim.bit_length() - 1

    words = F.filter(
        F.coalesce(norm_words(text_col), F.array()),
        lambda t: F.length(t) > 0,
    )

    def _add_token(acc, t):
        h = hash60(t)
        b = h.bitwiseAND(F.lit(dim - 1))
        s = (
            F.when(
                F.shiftright(h, shift).bitwiseAND(F.lit(1)) == 1, F.lit(-1)
            )
            .otherwise(F.lit(1))
            .cast("long")
        )
        # DELIBERATE two-arg transform lambda: the house rule (NOTES.md)
        # bans ACCIDENTAL two-arg HOF lambdas (`lambda x, j=j:` silently
        # rebinding a closure to the element index); here the element
        # index IS the bucket axis being matched.
        return F.transform(
            acc, lambda x, i: x + F.when(i == b, s).otherwise(F.lit(0))
        )

    vec = F.aggregate(
        words, F.array_repeat(F.lit(0).cast("long"), dim), _add_token
    )
    return df.select(id_col, vec.alias("embedding"))
