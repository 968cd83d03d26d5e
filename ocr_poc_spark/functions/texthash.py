"""The parity-critical word tokenisation and text-hash constructions
shared by the language guess, MinHash dedup, boilerplate shingles and
the host cap (and by the driver's fingerprint and hashing-trick queries).

The 60-bit hash is the first 15 hex chars of md5 parsed as an integer —
chosen over xxhash64 specifically so an independent engine (the DuckDB
oracle) can recompute every hash bit-exactly:
  Spark : cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)
  DuckDB: ('0x' || substr(md5(s), 1, 15))::BIGINT

ONE definition lives here; operators that inline a variant (e.g.
minhash's seeded per-shingle hashes) document the divergence locally.
"""

from __future__ import annotations

import pyspark.sql.functions as F


def norm_words(text_col):
    """Whitespace-split words of lower(trim(text)) — the shared word
    tokenisation of every hash-based text operator. NULL text yields a
    NULL array; callers decide the NULL contract."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.lower(F.trim(c)), r"\s+")


def shingle_hashes_expr(words_col: str, k: int) -> str:
    """SQL-expression string: ARRAY<BIGINT> of 60-bit hashes of the
    k-word shingles of `words_col` (empty array for sub-k-word docs).

    The short-doc guard matters: sequence(1, n) with n <= 0 evaluates
    to the DESCENDING [1, 0] and slice(_, 0, k) throws at runtime.
    """
    return (
        f"CASE WHEN size({words_col}) >= {k} THEN "
        f"transform(sequence(1, size({words_col}) - {k - 1}), "
        f"i -> cast(conv(substring(md5(concat_ws(' ', slice({words_col}, i, {k}))), 1, 15), 16, 10) as bigint)) "
        f"ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )


def shingle_hashes(words_col: str, k: int):
    """Column form of shingle_hashes_expr."""
    return F.expr(shingle_hashes_expr(words_col, k))


def hash60(col):
    """60-bit md5-hex15 hash of an arbitrary column (cast to string) —
    the Column form of the construction above, for ids/terms rather
    than shingles."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long")
