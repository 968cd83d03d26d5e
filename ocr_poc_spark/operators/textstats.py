"""Text-analysis operators for corpus curation: language ID, quality
scoring, token counting, fingerprinting, bigram-LM perplexity and the
quality filters built on it. All native column expressions
(DuckDB-oracle-checkable where the engines share function semantics)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# Tiny per-language stopword lists for the n-gram/stopword heuristic.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "fr": ["le", "la", "les", "de", "des", "et", "un", "une", "que", "pour"],
    "de": ["der", "die", "das", "und", "ein", "eine", "zu", "mit", "ist", "den"],
    "es": ["el", "la", "los", "de", "y", "un", "una", "que", "es", "para"],
}
LANGS = list(STOPWORDS.keys())


def _words(text_col: str):
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def token_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish subword estimate (ceil(chars/4))
    + distinct-word ratio."""
    words = _words(text_col)
    n_tokens = F.size(words)
    n_chars = F.length(F.col(text_col))
    return df.select(
        id_col,
        n_tokens.alias("n_tokens"),
        F.ceil(n_chars / F.lit(4)).cast("long").alias("n_subwords_est"),
        n_chars.alias("n_chars_calc"),
        (F.size(F.array_distinct(words)) / n_tokens).alias("distinct_ratio"),
    )


def lang_guess_expr(text_col):
    """Column expression: stopword-argmax language guess for an
    arbitrary (possibly null) text column. Reused by the extraction job
    to annotate extracted documents (lang verification against the
    upstream `lang` column) and by the lang_id operator."""
    words = F.array_distinct(F.split(F.lower(F.trim(F.coalesce(text_col, F.lit("")))), r"\s+"))
    hits = {}
    for lang in LANGS:
        sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        hits[lang] = F.size(F.array_intersect(words, sw))
    best = F.greatest(*hits.values())
    guess = F.lit("unknown")
    for lang in reversed(LANGS):
        guess = F.when(hits[lang] == best, F.lit(lang)).otherwise(guess)
    return F.when(best > 0, guess).otherwise(F.lit("unknown"))


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-hit argmax language guess (deterministic tie-break by
    language order en > fr > de > es)."""
    words = F.array_distinct(_words(text_col))
    hit_cols = []
    for lang in LANGS:
        sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        hit_cols.append(F.size(F.array_intersect(words, sw)).alias(f"hits_{lang}"))
    scored = df.select(id_col, F.col("lang").alias("lang_true"), *hit_cols)
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in LANGS])
    guess = F.lit("unknown")
    for lang in reversed(LANGS):  # earlier langs win ties
        guess = F.when(F.col(f"hits_{lang}") == best, F.lit(lang)).otherwise(guess)
    guess = F.when(best > 0, guess).otherwise(F.lit("unknown"))
    return scored.select(
        id_col,
        "lang_true",
        guess.alias("lang_guess"),
        *[F.col(f"hits_{lang}") for lang in LANGS],
    )


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Document fingerprints: md5 of whitespace-normalised text + a
    60-bit rolling hash over 5-word windows, min-sampled (winnowing-
    style). The window hash is the first 15 hex chars of md5 parsed as
    an integer — chosen over xxhash64 so an independent engine (the
    DuckDB oracle) can recompute the winnowed fingerprint exactly."""
    from ..functions.texthash import shingle_hashes

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


# --- PII scrubbing (training-data curation staple) -------------------------
# Patterns restricted to syntax shared verbatim by Java regex (Spark) and
# RE2 (the DuckDB oracle): explicit classes, no lookaround.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE_RE = r"\+[0-9][0-9 ]{7,}[0-9]"


def scrub_pii(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Redacts emails / IPv4s / international-format phone numbers into
    typed placeholders and counts each kind — the pre-training PII pass.
    Pure native regexp expressions (linear, no UDF, no shuffle);
    replacement order matters (emails contain dots+digits, so they are
    removed before the IP/phone patterns can see them)."""
    t = F.col(text_col)
    n_emails = F.regexp_count(t, F.lit(PII_EMAIL_RE))
    step1 = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    n_ipv4 = F.regexp_count(step1, F.lit(PII_IPV4_RE))
    step2 = F.regexp_replace(step1, PII_IPV4_RE, "<IP>")
    n_phones = F.regexp_count(step2, F.lit(PII_PHONE_RE))
    scrubbed = F.regexp_replace(step2, PII_PHONE_RE, "<PHONE>")
    return df.select(
        id_col,
        n_emails.alias("n_emails"),
        n_ipv4.alias("n_ipv4"),
        n_phones.alias("n_phones"),
        scrubbed.alias("scrubbed"),
    )


def repetition_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Gopher-style repetition/shape signals for corpus filtering:
    duplicate-trigram ratio, mean/max word length, alphabetic-word
    fraction. All higher-order array expressions — linear, no shuffle."""
    words = _words(text_col)
    n = F.size(words)
    tri = F.expr(
        "CASE WHEN size(_w) >= 3 THEN "
        "transform(sequence(1, size(_w) - 2), i -> concat_ws(' ', slice(_w, i, 3))) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    d = df.withColumn("_w", words).withColumn("_tri", tri)
    n_tri = F.size("_tri")
    dup_tri_ratio = F.when(
        n_tri > 0,
        (n_tri - F.size(F.array_distinct("_tri"))) / n_tri,
    ).otherwise(F.lit(0.0))
    total_chars = F.aggregate(
        "_w", F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    mean_word_len = F.when(n > 0, total_chars / n).otherwise(F.lit(0.0))
    max_word_len = F.coalesce(
        F.array_max(F.transform("_w", lambda w: F.length(w))), F.lit(0)
    )
    alpha_frac = F.when(
        n > 0,
        F.size(F.filter("_w", lambda w: w.rlike("^[a-z]+$"))) / n,
    ).otherwise(F.lit(0.0))
    return d.select(
        id_col,
        n.alias("n_words"),
        F.round(dup_tri_ratio, 6).alias("dup_trigram_ratio"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        max_word_len.alias("max_word_len"),
        F.round(alpha_frac, 6).alias("alpha_word_ratio"),
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
    from ..functions.texthash import hash60, norm_words

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


def _bigram_rows(
    frame: DataFrame, id_col: str, text_col: str, keep_id: bool
) -> DataFrame:
    """Exploded (w1, w2) bigram rows of norm_words(text) — the front end
    of the add-alpha bigram LM scorer. Docs under 2 tokens emit
    nothing."""
    from ..functions.texthash import norm_words

    w = F.coalesce(norm_words(text_col), F.array())
    cols = [F.col(id_col)] if keep_id else []
    e = frame.select(*cols, w.alias("_w")).where(F.size("_w") >= 2)
    pair = F.expr(
        "transform(sequence(1, size(_w) - 1), "
        "i -> struct(_w[i - 1] as w1, _w[i] as w2))"
    )
    return e.select(*cols, F.explode(pair).alias("_b")).select(
        *cols, F.col("_b.w1").alias("w1"), F.col("_b.w2").alias("w2")
    )


def bigram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    train_df: DataFrame | None = None,
    alpha: float = 0.5,
    min_count: int = 1,
) -> DataFrame:
    """CCNet-style n-gram language-model quality scoring: per-document
    cross-entropy under an add-alpha-smoothed BIGRAM model counted over
    ``train_df`` (default: the corpus itself) — the classic
    perplexity-filter signal for web-corpus curation (low = fluent /
    in-domain, high = gibberish, boilerplate soup, wrong language).

        P(w2 | w1) = (c(w1 w2) + alpha) / (c_prefix(w1) + alpha * (V + 1))
        cross_entropy(doc) = -mean over its bigrams of log2 P
        ppl = 2^cross_entropy

    where c_prefix counts w1 as a bigram PREFIX and V is the train
    unigram vocabulary (unseen words fall through the same smoothing as
    count 0 — no special UNK machinery to keep the model exactly
    recomputable in SQL).

    Plan (scales to 100 TB): train-side counts are two groupBys over
    exploded bigrams/prefixes, pruned by ``min_count`` (the vocab-cap
    knob — pruned bigrams score as unseen, a graceful quality
    degradation, never a correctness change for surviving mass); the
    scoring side explodes each doc's bigrams once and LEFT-joins the
    two count tables on uniform token keys (AQE broadcasts them when
    small), then one per-doc aggregate. No UDF, no driver-side model.

    Float discipline: the count columns (n_bigrams, n_seen) are
    exact integers; cross_entropy/ppl are log2-based doubles rounded to
    4 decimals — JVM and DuckDB libm log2 may differ in the last ulp,
    so the rounding margin carries the cross-engine equality (same
    pattern as the kmeans centroid rounding, margin ~1e-12 per term).
    Docs with fewer than 2 tokens have no bigrams and yield no row
    (callers LEFT-join scores back when they need one row per doc).
    """
    from ..functions.texthash import norm_words

    if alpha <= 0:
        raise ValueError("alpha must be positive (zero breaks unseen bigrams)")
    train = df if train_df is None else train_df

    tb = _bigram_rows(train, id_col, text_col, keep_id=False)
    # ONE train-side tokenization pass:
    # the prefix counts are the per-w1 sums of the distinct-bigram
    # aggregate (exact integers — identical to counting occurrences
    # directly), so both count tables come off one shared aggregate
    # instead of two explode passes. Non-eager localCheckpoint, not
    # persist(): the plan stays lazy (no job at call time) and each
    # invocation builds a FRESH RDD — persist() registers the plan
    # with the CacheManager, so a repeated invocation of the same
    # query silently reuses the previous run's cached aggregate
    # (masking the recompute the bench is supposed to time) and logs
    # the "Asked to cache already cached data" warning (VERDICT r5
    # #4/#7).
    big_counts_all = (
        tb.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_big"))
        .localCheckpoint(eager=False)
    )
    big_counts = big_counts_all.where(F.col("c_big") >= min_count)
    pre_counts = big_counts_all.groupBy("w1").agg(
        F.sum("c_big").cast("long").alias("c_pre")
    )
    v = (
        train.select(F.explode(F.coalesce(norm_words(text_col), F.array())).alias("t"))
        .where(F.col("t") != "")
        .agg(F.countDistinct("t").alias("v"))
    )

    scored = (
        _bigram_rows(df, id_col, text_col, keep_id=True)
        .join(big_counts, ["w1", "w2"], "left")
        .join(pre_counts, "w1", "left")
        .crossJoin(F.broadcast(v))
    )
    a = F.lit(float(alpha))
    p = (F.coalesce("c_big", F.lit(0)) + a) / (
        F.coalesce("c_pre", F.lit(0)) + a * (F.col("v") + 1)
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.when(F.col("c_big").isNotNull(), 1).otherwise(0)).alias(
                "n_seen"
            ),
            F.sum(-F.log2(p)).alias("_h"),
        )
        .select(
            id_col,
            "n_bigrams",
            "n_seen",
            F.round(F.col("_h") / F.col("n_bigrams"), 4).alias("cross_entropy"),
            F.round(F.pow(F.lit(2.0), F.col("_h") / F.col("n_bigrams")), 4).alias(
                "ppl"
            ),
        )
    )


def corpus_quantiles(
    df: DataFrame,
    value_col: str,
    keys: list[str] | None = None,
    ps: tuple[float, ...] = (0.25, 0.5, 0.9, 0.99),
    exact: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Distribution summary of a numeric column per group: count, mean,
    and the requested percentiles as pNN columns — the corpus-health
    dashboard a curation run reads (doc-length drift per language,
    token-count tails per source, boilerplate-ratio spread).

    ``exact=False`` (default, THE SCALE PATH) uses approx_percentile —
    Spark's t-digest-style sketch: fixed memory per group regardless of
    group size, rank error <= 1/accuracy, partial-merges map-side.
    ``exact=True`` uses the exact sort-based percentile, which buffers
    each group's values in the aggregation state — fine up to ~10^7
    rows per group, a memory hazard on a 100 TB corpus; it exists as
    the oracle-checkable witness (linear interpolation matches DuckDB
    quantile_cont bit-for-bit on integer inputs) and the accuracy
    reference the approx path is pytest-bounded against. Mean is
    sum/count on integer-valued columns — exact in both engines."""
    if not ps:
        raise ValueError("corpus_quantiles: ps is empty")
    if not all(0.0 <= p <= 1.0 for p in ps):
        raise ValueError("corpus_quantiles: percentiles must be in [0, 1]")
    arr = "array({})".format(", ".join(f"{p!r}D" for p in ps))
    fn = (
        f"percentile({value_col}, {arr})"
        if exact
        else f"approx_percentile({value_col}, {arr}, {accuracy})"
    )
    # n and mean count the NON-NULL population — the same rows the
    # percentile aggregates see. count(*)/sum-over-all would silently
    # treat NULL values as zeros and report an n the pNN columns never
    # summarized.
    aggs = [
        F.count(F.col(value_col)).alias("n"),
        F.avg(F.col(value_col)).alias("mean"),
        F.expr(fn).alias("_q"),
    ]
    grouped = df.groupBy(*(keys or [])).agg(*aggs)
    qcols = [
        # p25/p50/p90/p99; fractional percentiles dot -> underscore (p99_9)
        F.col("_q")[i].cast("double").alias(
            "p" + ("%g" % (p * 100)).replace(".", "_")
        )
        for i, p in enumerate(ps)
    ]
    return grouped.select(*(keys or []), "n", "mean", *qcols)


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """The published Gopher document-quality rules (Rae et al.,
    "Scaling Language Models: ... Gopher", 2021, Appendix A — public):
    per-document booleans for each rule plus the conjunctive
    ``gopher_keep``, the standard first-cut quality gate of web
    pretraining pipelines (MassiveWeb/RefinedWeb lineage):

      ok_words     : min_words <= word count <= max_words
      ok_word_len  : 3 <= mean word length <= 10
      ok_symbols   : (#{'#'} + #{'...'}) / words <= 0.1
      ok_bullets   : <= 90% of lines start with a bullet
      ok_ellipsis  : <= 30% of lines end with '...'
      ok_alpha     : >= 80% of words contain an alphabetic character
      ok_stopwords : >= 2 distinct hits among the 8 Gopher stop words

    All native expressions, map-only/zero shuffle. Rule comparisons use
    the UNROUNDED ratios: the inputs are exact integer counts, so the
    IEEE divisions (and hence the boolean flags) are bit-identical
    across engines; the emitted ratio columns are round-6 for display.
    Documents with no lines (no newline) are one line; NULL text gates
    as empty (fails ok_words)."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    words = F.split(F.lower(F.trim(text)), r"\s+")
    n_words = F.size(F.filter(words, lambda w: w != ""))
    # ANSI mode: a bare /0 fails the job on the first empty doc — all
    # per-word denominators go through this NULLIF-style guard (the
    # flags then resolve via the n_words > 0 conjunction below).
    n_words_nn = F.when(n_words > 0, n_words)
    chars_in_words = F.aggregate(
        F.filter(words, lambda w: w != ""),
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.length(w),
    )
    mean_wl = chars_in_words / n_words_nn
    n_hash = F.length(text) - F.length(F.regexp_replace(text, "#", ""))
    n_ellipsis = (
        F.length(text) - F.length(F.regexp_replace(text, r"\.\.\.", ""))
    ) / 3
    sym_ratio = (n_hash + n_ellipsis) / n_words_nn
    lines = F.filter(
        F.split(text, "\n"), lambda ln: F.trim(ln) != ""
    )
    n_lines = F.size(lines)
    n_lines_nn = F.when(n_lines > 0, n_lines)
    bullet_ratio = F.size(
        F.filter(
            lines,
            lambda ln: F.trim(ln).startswith("-")
            | F.trim(ln).startswith("*")
            | F.trim(ln).startswith("•"),
        )
    ) / n_lines_nn
    ellipsis_line_ratio = F.size(
        F.filter(lines, lambda ln: F.rtrim(ln).endswith("..."))
    ) / n_lines_nn
    alpha_ratio = F.size(
        F.filter(words, lambda w: w.rlike("[a-z]"))
    ) / n_words_nn
    sw = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    n_stop = F.size(F.array_intersect(F.array_distinct(words), sw))

    ok_words = (n_words >= min_words) & (n_words <= max_words)
    ok_word_len = (mean_wl >= 3.0) & (mean_wl <= 10.0)
    ok_symbols = sym_ratio <= 0.1
    ok_bullets = F.coalesce(bullet_ratio <= 0.9, F.lit(True))
    ok_ellipsis = F.coalesce(ellipsis_line_ratio <= 0.3, F.lit(True))
    ok_alpha = alpha_ratio >= 0.8
    ok_stop = n_stop >= 2
    guard = n_words > 0
    return df.select(
        id_col,
        n_words.cast("long").alias("n_words"),
        F.round(F.when(guard, mean_wl), 6).alias("mean_word_len"),
        F.round(F.when(guard, sym_ratio), 6).alias("symbol_word_ratio"),
        F.round(F.when(guard, alpha_ratio), 6).alias("alpha_word_ratio"),
        n_stop.cast("int").alias("n_stopword_hits"),
        ok_words.alias("ok_words"),
        (guard & ok_word_len).alias("ok_word_len"),
        (guard & ok_symbols).alias("ok_symbols"),
        ok_bullets.alias("ok_bullets"),
        ok_ellipsis.alias("ok_ellipsis"),
        (guard & ok_alpha).alias("ok_alpha"),
        ok_stop.alias("ok_stopwords"),
        (
            ok_words & (guard & ok_word_len) & (guard & ok_symbols)
            & ok_bullets & ok_ellipsis & (guard & ok_alpha) & ok_stop
        ).alias("gopher_keep"),
    )


# Cleanup character classes (shared with the oracle SQL; RE2/Java-common
# syntax only): C0/C1 controls minus \t\n\r, DEL, zero-widths + BOM.
CLEAN_CTRL_RE = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"
CLEAN_ZW_RE = "[\\u200b\\u200c\\u200d\\ufeff]"


def clean_text(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """C4/CCNet-style text normalization — the cleanup pass between
    extraction and every hash-based operator (dirty controls/zero-
    widths would make visually-identical documents hash differently
    and silently defeat dedup):

      - strip C0/C1 control chars (tab/newline/CR survive) and DEL
      - strip zero-width chars (ZWSP/ZWNJ/ZWJ/BOM)
      - straighten curly quotes, normalize en/em dashes and NBSP
      - collapse runs of spaces/tabs to one space, trim line edges
      - collapse 3+ consecutive newlines to a paragraph break (2)

    Pure native regexp/translate expressions (map-only, zero shuffle,
    no UDF); idempotent (clean(clean(x)) == clean(x), tested). Returns
    (id, clean, n_ctrl, n_zw) — the counts flag documents needing the
    pass (a high control-char count is itself a quality signal).
    NULL text cleans to NULL."""
    t = F.col(text_col)
    n_ctrl = F.regexp_count(t, F.lit(CLEAN_CTRL_RE))
    n_zw = F.regexp_count(t, F.lit(CLEAN_ZW_RE))
    s = F.regexp_replace(t, CLEAN_CTRL_RE, "")
    s = F.regexp_replace(s, CLEAN_ZW_RE, "")
    s = F.translate(
        s,
        "‘’“”–— ",
        "''\"\"-- ",
    )
    s = F.regexp_replace(s, "[ \\t]+", " ")
    s = F.regexp_replace(s, " ?\\n ?", "\n")
    s = F.regexp_replace(s, "\\n{3,}", "\n\n")
    s = F.trim(s)
    return df.select(
        id_col,
        s.alias("clean"),
        n_ctrl.cast("long").alias("n_ctrl"),
        n_zw.cast("long").alias("n_zw"),
    )


def ccnet_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    strat_col: str = "lang",
    lm_df: DataFrame | None = None,
) -> DataFrame:
    """CCNet's signature head/middle/tail split (Wenzek et al. 2020):
    per language, rank documents by LM perplexity and cut the corpus
    into terciles — head (most fluent third) feeds high-quality
    training mixes, middle is kept, tail is dropped or downsampled.

    Buckets are RANK-based (per-stratum thirds by position), not
    value-threshold-based: cut1 = n div 3, cut2 = (2n) div 3 on the
    (ppl asc, id asc) rank — pure integer arithmetic, bit-exact
    cross-engine, where an interpolated percentile threshold would put
    boundary documents one libm ulp from flipping buckets. The
    t-digest value-threshold variant for streaming/approximate use is
    corpus_quantiles composed with a filter. Tiny strata drain toward
    tail (n=1 => cut1=0: the single doc is 'tail') — deterministic,
    documented, and irrelevant at corpus scale.

    ``lm_df``: optional precomputed (id, ppl) frame (e.g. a persisted
    bigram_lm_scores output); default scores ``df`` against itself.
    Documents without an LM row (under 2 tokens) are excluded, matching
    bigram_lm_scores' contract. NULL strata form their own stratum
    (null-safe join — the window/equi-join NULL divergence bites
    otherwise). Returns (id, stratum, ppl, bucket).

    Plan shape: one per-stratum count aggregate (broadcast back — one
    row per language), one partitioned rank window; ppl rows are
    (id, double) — the LM pass itself is bigram_lm_scores' shape."""
    from pyspark.sql import Window

    scores = (
        bigram_lm_scores(df, id_col=id_col, text_col=text_col)
        if lm_df is None
        else lm_df
    ).select(F.col(id_col).alias("_id"), "ppl")
    base = df.select(F.col(id_col).alias("_id"), F.col(strat_col).alias("_s"))
    j = scores.join(base, "_id")
    sizes = j.groupBy("_s").agg(F.count(F.lit(1)).alias("_n"))
    ranked = j.join(
        F.broadcast(sizes.select(F.col("_s").alias("_s2"), "_n")),
        F.col("_s").eqNullSafe(F.col("_s2")),
    )
    w = Window.partitionBy("_s").orderBy(F.asc("ppl"), F.asc("_id"))
    rk = F.row_number().over(w)
    return ranked.select(
        F.col("_id").alias(id_col),
        F.col("_s").alias(strat_col),
        "ppl",
        F.when(rk <= F.expr("_n div 3"), F.lit("head"))
        .when(rk <= F.expr("(2 * _n) div 3"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003, the MOSS algorithm): from each sliding window of ``window``
    consecutive k-shingle hashes, keep the minimum — a deterministic
    ~2/(window+1)-density sample of shingles with the winnowing
    GUARANTEE: any shared substring of at least k + window - 1 tokens
    contributes at least one selected fingerprint in both documents.
    This is the index-at-a-fraction-of-the-cost companion to
    dedup_spans (which indexes EVERY shingle): build the fingerprint
    index 1/window the size, probe it, and run the exact span pass
    only on probe hits.

    Tie-break: the minimum (hash, pos) struct — leftmost among equal
    hashes — a deterministic simplification of the paper's
    rightmost-on-tie rule (any consistent rule preserves the
    guarantee; document-independent hashes make ties ~2^-60 anyway).
    Shingle hashes are the shared 60-bit md5 construction
    (texthash.shingle_hashes), so the whole selection replays in SQL.

    Docs with fewer than ``window`` shingles (but at least one) form a
    single window; wordless docs yield no rows. Map-only HOFs —
    selection happens inside the document row, zero shuffle; output is
    the exploded distinct (id, pos, hash) fingerprint set."""
    from ..functions.texthash import norm_words

    if k < 2 or window < 2:
        raise ValueError("winnow_fingerprints: k and window must be >= 2")
    toks = F.filter(
        F.coalesce(norm_words(text_col), F.array()),
        lambda w: F.length(w) > 0,
    )
    base = df.select(F.col(id_col), toks.alias("_toks"))
    shingle_structs = F.expr(
        f"CASE WHEN size(_toks) >= {k} THEN "
        f"transform(sequence(1, size(_toks) - {k - 1}), "
        f"i -> struct("
        f"cast(conv(substring(md5(concat_ws(' ', slice(_toks, i, {k}))), 1, 15), 16, 10) as bigint) as h, "
        f"cast(i - 1 as int) as pos)) "
        f"ELSE CAST(array() AS ARRAY<STRUCT<h: BIGINT, pos: INT>>) END"
    )
    w = int(window)
    sel = F.expr(
        f"CASE WHEN size(_s) = 0 THEN CAST(array() AS ARRAY<STRUCT<h: BIGINT, pos: INT>>) "
        f"ELSE array_distinct(transform(sequence(1, greatest(size(_s) - {w - 1}, 1)), "
        f"j -> array_min(slice(_s, j, {w})))) END"
    )
    return (
        base.select(id_col, shingle_structs.alias("_s"))
        .select(id_col, F.explode(sel).alias("_f"))
        .select(
            id_col,
            F.col("_f.pos").alias("pos"),
            F.col("_f.h").alias("hash"),
        )
    )
