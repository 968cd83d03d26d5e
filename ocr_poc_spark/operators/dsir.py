"""Data selection via importance resampling (DSIR-style).

Given a RAW web corpus and a small TARGET corpus that exemplifies the
distribution you want (curated text, a domain, a language register),
score every raw document by how target-like it is:

    log w(doc) = sum over the doc's hashed n-gram buckets b of
                 c_doc[b] * ( ln p_target[b] - ln p_raw[b] )

where p_* are add-alpha-smoothed bucket probabilities of unigram+bigram
features hashed into ``n_buckets`` buckets (the hashing trick makes the
"language model" a fixed-size count vector regardless of vocabulary).
Selecting the top-weighted documents approximates sampling the raw
corpus under the target distribution — the standard pretraining-data
selection recipe published as DSIR (Xie et al., "Data Selection for
Language Models via Importance Resampling", NeurIPS 2023, public).

Plan (scales to 100 TB):
- the bucket log-ratio table is at most ``n_buckets`` rows (counts from
  two explode+groupBy passes, keys are uniform hashes — no skew) and is
  explicitly broadcast; document scoring is one explode, one
  (id, bucket) partial-combined groupBy, one broadcast join, one
  per-doc aggregate. Only (id, int bucket, int count) rows cross any
  shuffle — never text.
- the target corpus is small by construction (it defines the goal);
  its count pass is a toy job at any raw-corpus size.

Float discipline (cross-engine oracle): every count is an exact
integer; the only floats are ln() terms summed per doc and rounded to
4 decimals — JVM vs DuckDB libm differ at most in the last ulp per
term, absorbed by the rounding margin (same contract as
textstats.bigram_lm_scores).

Reference parity: the reference pipeline has no corpus-selection stage
(single-document service); this operator is part of the LLM-pipeline
brief (training-data curation at scale).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.texthash import hash60, norm_words

DEFAULT_BUCKETS = 4096


def _doc_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int,
    keep_id: bool,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id?, extra..., bucket) rows: one per unigram and bigram
    occurrence, hashed into [0, n_buckets). Empty/NULL text yields no
    rows. ``extra_cols`` ride along unchanged (e.g. a class flag, so a
    fused train+score pass tokenizes the corpus once)."""
    cols = ([F.col(id_col)] if keep_id else []) + [F.col(c) for c in extra_cols]
    w = F.coalesce(norm_words(text_col), F.array())
    base = df.select(*cols, w.alias("_w"))
    uni = base.select(*cols, F.explode("_w").alias("_g")).where(F.col("_g") != "")
    pair = F.expr(
        "transform(sequence(1, size(_w) - 1), i -> concat(_w[i - 1], ' ', _w[i]))"
    )
    bi = base.where(F.size("_w") >= 2).select(*cols, F.explode(pair).alias("_g"))
    return uni.unionByName(bi).select(
        *cols, F.pmod(hash60(F.col("_g")), F.lit(n_buckets)).alias("bucket")
    )


def importance_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    alpha: float = 0.5,
) -> DataFrame:
    """Per-raw-document DSIR log importance weight under the hashed
    n-gram model: (id, n_ngrams, logw), logw rounded to 4 decimals,
    higher = more target-like. Documents with no n-grams (empty text)
    yield no row — callers LEFT-join back if they need one per doc.

    Every bucket a document hits is present in the raw count table by
    construction (the raw counts are estimated over the same frame
    being scored), so only the target side needs the coalesce-to-0
    unseen arm."""
    if alpha <= 0:
        raise ValueError("alpha must be positive (zero breaks unseen buckets)")
    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")

    def bucket_counts(frame: DataFrame) -> DataFrame:
        return (
            _doc_buckets(frame, id_col, text_col, n_buckets, keep_id=False)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    # Two consumers (the log-ratio join and the t_tgt total) — the
    # non-eager checkpoint computes the <= n_buckets-row aggregate once
    # instead of re-tokenizing the target per reference.
    tgt = (
        bucket_counts(target)
        .withColumnRenamed("c", "c_tgt")
        .localCheckpoint(eager=False)
    )
    # ONE tokenize+hash pass over the raw corpus: the per-document
    # bucket counts both (a) aggregate to the corpus bucket counts
    # (sum of exact integers == direct occurrence count) and (b) feed
    # scoring. Materialized because both consumers would otherwise
    # re-run the explode+md5 pass; the frame is the same
    # (id, int bucket, int count) rows that already cross the groupBy
    # shuffle — never text (at extreme scale persist it as a table
    # instead, same contract as the dedup index frames).
    doc_counts = (
        _doc_buckets(raw, id_col, text_col, n_buckets, keep_id=True)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("c_doc"))
        .localCheckpoint(eager=True)
    )
    rawc = doc_counts.groupBy("bucket").agg(F.sum("c_doc").alias("c_raw"))
    totals = (
        tgt.agg(F.sum("c_tgt").alias("t_tgt"))
        .crossJoin(rawc.agg(F.sum("c_raw").alias("t_raw")))
    )
    a, b = F.lit(float(alpha)), F.lit(float(n_buckets))
    # An empty target corpus (no n-grams at all) must fail loudly: its
    # total is a NULL sum, which would propagate to an all-NULL logw
    # column that downstream thresholds silently treat as "select
    # nothing". In-plan raise_error (no extra driver action), the same
    # guard style as ivf_ann_topk's dim check.
    t_tgt_checked = F.when(
        F.col("t_tgt").isNull(),
        F.raise_error(
            F.lit("importance_weights: target corpus has no n-grams")
        ).cast("double"),
    ).otherwise(F.col("t_tgt"))
    ratio = (
        rawc.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log(F.coalesce("c_tgt", F.lit(0)) + a)
                - F.log(t_tgt_checked + a * b)
                - F.log(F.col("c_raw") + a)
                + F.log(F.col("t_raw") + a * b)
            ).alias("log_ratio"),
        )
    )
    per_doc = doc_counts.join(F.broadcast(ratio), "bucket")
    return (
        per_doc.groupBy(id_col)
        .agg(
            F.sum("c_doc").alias("n_ngrams"),
            F.sum(F.col("c_doc") * F.col("log_ratio")).alias("_lw"),
        )
        .select(id_col, "n_ngrams", F.round("_lw", 4).alias("logw"))
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    top_n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    alpha: float = 0.5,
) -> DataFrame:
    """The selection cut: top_n raw documents by importance weight,
    deterministic (rounded logw desc, id asc) — the same distributed
    TakeOrderedAndProject top-k discipline as vocab_topk, never a
    single-partition window."""
    w = importance_weights(
        raw, target, id_col=id_col, text_col=text_col,
        n_buckets=n_buckets, alpha=alpha,
    )
    return w.orderBy(F.desc("logw"), F.asc(id_col)).limit(top_n)


def dsir_resample(
    raw: DataFrame,
    target: DataFrame,
    top_n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    alpha: float = 0.5,
    seed: str = "",
    denom: int = 10000,
) -> DataFrame:
    """Gumbel-top-k importance RESAMPLING — the DSIR paper's actual
    selection rule: draw top_n documents WITHOUT replacement with
    probability proportional to their importance weight, via the
    Gumbel-max identity (argmax of logw_i + G_i over i.i.d. Gumbel
    noise samples the softmax). dsir_select's deterministic top-n by
    weight is the greedy variant; resampling preserves DIVERSITY — a
    long tail of moderately-target-like documents gets proportional
    representation instead of being cliffed at the cut.

    Reproducibility without rand(): the uniform is the md5 bucket of
    (seed ':' id) scaled to (0, 1) — u = (bucket + 0.5) / denom, the
    suite's standard deterministic-sampling construction
    (sample_bucket / shuffle_shards), so re-runs, resumed partitions,
    and the SQL oracle all draw identical noise; a new seed is a new
    draw. G = -ln(-ln(u)) is two libm calls, so the selection key
    rides the 4-decimal rounding margin (logw is already rounded-4 by
    importance_weights) with an id tie-break.

    Plan: importance_weights' shape plus one map-side key column and a
    TakeOrderedAndProject top_n — no global window, nothing new
    shuffles. Returns (id, n_ngrams, logw, gumbel_key), ordered."""
    from ..functions.texthash import hash60

    if top_n < 1:
        raise ValueError("dsir_resample: top_n must be >= 1")
    w = importance_weights(
        raw, target, id_col=id_col, text_col=text_col,
        n_buckets=n_buckets, alpha=alpha,
    )
    u = (
        F.pmod(
            hash60(
                F.concat(
                    F.lit(seed), F.lit(":"), F.col(id_col).cast("string")
                )
            ),
            F.lit(denom),
        )
        + F.lit(0.5)
    ) / F.lit(float(denom))
    key = F.round(F.col("logw") + (-F.log(-F.log(u))), 4)
    return (
        w.withColumn("gumbel_key", key)
        .orderBy(F.desc("gumbel_key"), F.asc(id_col))
        .limit(top_n)
    )
