"""Driver contract for the spark-graft builder (PySpark target).

queries() exposes the operator inventory of SURVEY.md §2 (re-expressed
relationally over the driver's testdata tables) plus the training-data
pipeline operators (dedup / similarity / text stats). EVERY query has a
DuckDB oracle in oracle_sql(): SQL-expressible ops are re-derived in
SQL (incl. the exact all-pairs Jaccard behind MinHash and a from-
scratch SQL recompute of the 60-bit SimHash); hyperplane LSH and the
HTML extraction cascade compare against committed golden parquet from
independent reimplementations (scripts/make_goldens.py).

Cross-engine float discipline: aggregates over doubles are cast to
DECIMAL before summing (exact, associative); ratios/cosines are rounded
to 6 decimals on both sides; timestamp arithmetic uses exact integer
microseconds (unix_micros / epoch_us).
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window


def _t(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Read a driver table. The testdata parquet files are single-row-
    group (unsplittable), so a scan is ONE task; queries with heavy
    per-row compute BEFORE their first shuffle pass spread=True to add
    an explicit round-robin repartition — the same post-scan rebalance a
    production job applies after reading few-large-files inputs
    (plans/job.py does it with a url-hash)."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if spread:
        df = df.repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
    return df


# ---------------------------------------------------------------------------
# Pages synthesis: wrap the documents table into BASELINE.json's page shape
# (url, warc_ts, html, text, lang) natively — deterministic, no external
# data — so the flagship extraction pipeline can run on driver testdata.
# ---------------------------------------------------------------------------
def _pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the parse/extract UDF downstream is the heavy stage and the
    # single-row-group testdata parquet would otherwise make it ONE task.
    d = _t(spark, sf_dir, "documents", spread=True)
    day = (F.col("doc_id") % 28 + 1).cast("int")
    month = (F.col("doc_id") % 12 + 1).cast("int")
    year = (F.col("doc_id") % 15 + 2010).cast("int")
    html = F.concat(
        F.lit("<html><head><title>Doc "), F.col("doc_id"),
        F.lit("</title></head><body>"),
        F.lit('<nav><ul><li><a href="/">Home</a></li><li><a href="/n">News</a></li>'
              '<li><a href="/a">About</a></li></ul></nav>'),
        F.lit('<div id="cookie"><p>We use cookies</p></div>'),
        F.lit("<article><h1>Doc "), F.col("doc_id"), F.lit("</h1>"),
        F.lit("<p>Author</p><p>Writer "), (F.col("doc_id") % 20), F.lit("</p>"),
        F.lit("<p>"), day, F.lit("."), month, F.lit("."), year, F.lit("</p>"),
        F.lit("<p>"), (F.col("doc_id") % 40 + 2), F.lit(" min read</p>"),
        F.lit("<p>"), F.col("text"), F.lit("</p>"),
        F.lit("</article><footer><p>All rights reserved</p>"
              "<p><a href=\"/t\">Terms of service</a></p></footer></body></html>"),
    )
    return d.select(
        F.concat(F.lit("https://docs.example/"), F.col("lang"), F.lit("/"), F.col("doc_id")).alias("url"),
        F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("warc_ts"),
        html.cast("binary").alias("html"),
        F.lit("").alias("text"),
        F.col("lang").alias("lang"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline (fused map-only path) over
    pages synthesised from sf0.001 documents."""
    from ocr_poc_spark.plans.job import extract_fused

    pages = _pages_from_documents(spark, "/root/testdata/sf0.001")
    return extract_fused(pages)


# ---------------------------------------------------------------------------
# Operator queries (SURVEY.md §2 rows noted per query).
# ---------------------------------------------------------------------------
_CLAIM_REGEX = r"join [a-z]+ hash"


def q_quality_gate(spark, sf_dir):  # F1/A1: grouped stats + gate predicate
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.sum(F.when(F.col("n_chars") > 300, 1).otherwise(0)).alias("n_good"),
        )
        .where((F.col("n_docs") >= 5) & (F.col("avg_chars") >= 100))
    )


def q_noise_filter(spark, sf_dir):  # F2: predicate battery
    d = _t(spark, sf_dir, "documents")
    return d.where(
        (F.col("n_chars") >= 150)
        & (F.length(F.trim("text")) > 0)
        & (F.col("lang") != "zh")
    ).select("doc_id", "lang", "n_chars")


def q_regex_claims(spark, sf_dir):  # R1-R6: regex match + first-claim per group
    d = _t(spark, sf_dir, "documents")
    return (
        d.where(F.col("text").rlike(_CLAIM_REGEX))
        .groupBy("source")
        .agg(F.min("doc_id").alias("claimed_id"), F.count(F.lit(1)).alias("n_matches"))
    )


def q_rank_window(spark, sf_dir):  # W1-W3: ranking window, top-3 per group
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        d.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("source", "doc_id", "n_chars", "rnk")
    )


def q_elimination_antijoin(spark, sf_dir):  # J5: claimed rows removed
    d = _t(spark, sf_dir, "documents")
    claimed = (
        d.where(F.col("text").rlike(_CLAIM_REGEX))
        .groupBy("source")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return d.join(claimed, ["source", "doc_id"], "left_anti").select(
        "doc_id", "source"
    )


def q_pivot_consolidation(spark, sf_dir):  # A3: conditional-agg pivot
    d = _t(spark, sf_dir, "documents")
    aggs = [
        F.sum(F.when(F.col("lang") == lang, 1).otherwise(0)).alias(f"n_{lang}")
        for lang in ["en", "fr", "de", "es", "zh"]
    ]
    return d.groupBy("source").agg(*aggs)


def q_fuzzy_anchor_join(spark, sf_dir):  # J1: broadcast theta-join, edit distance
    d = _t(spark, sf_dir, "documents")
    anchors = spark.createDataFrame(
        [("src0",), ("src7",), ("sr12",), ("zrc3",)], "anchor string"
    )
    return (
        d.crossJoin(F.broadcast(anchors))
        .where(F.levenshtein("source", "anchor") <= 1)
        .groupBy("anchor")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_proximity_binding(spark, sf_dir):  # J2/W2: bind nearest scored event
    e = _t(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("c_us"),
    )
    buys = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("p_us"),
        F.col("value").alias("p_value"),
    )
    # Skew-bounded: equi-key is (user_id, coarse hour bucket), not
    # user_id alone — a hot user no longer funnels through one reducer.
    # Output provably identical to the plain key join (operators/bandjoin).
    from ocr_poc_spark.operators.bandjoin import time_banded_join

    pairs = time_banded_join(
        clicks, buys, key="user_id", left_us="c_us", right_us="p_us",
        band_us=3600_000_000,
    )
    score = F.round(
        F.col("p_value") / (F.lit(1.0) + (F.col("p_us") - F.col("c_us")) / F.lit(1e6)), 6
    )
    w = Window.partitionBy("click_id").orderBy(F.desc("score"), F.asc("purchase_id"))
    return (
        pairs.withColumn("score", score)
        .withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("click_id", "purchase_id", "score")
    )


def q_sessionization(spark, sf_dir):  # W: lag + gap cumsum (stream analog)
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    lag_us = F.lag(us).over(w)
    new_sess = F.when(
        lag_us.isNull() | ((us - lag_us) > F.lit(1800_000_000)), 1
    ).otherwise(0)
    return (
        e.withColumn("new_sess", new_sess)
        .groupBy("user_id")
        .agg(F.sum("new_sess").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )


def q_dedup_exact(spark, sf_dir):  # exact dedup on normalised 5-word prefix
    d = _t(spark, sf_dir, "documents")
    prefix = F.concat_ws(
        " ", F.slice(F.split(F.lower(F.trim("text")), r"\s+"), 1, 5)
    )
    return (
        d.withColumn("prefix", prefix)
        .groupBy("prefix")
        .agg(F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
        .where(F.col("n_copies") > 1)
        .select("keeper_id", "n_copies")
    )


def q_dedup_ngram_jaccard(spark, sf_dir):  # n-gram Jaccard near-dup pairs
    from ocr_poc_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents", spread=True)
    d = d.withColumn("grp_sl", F.concat_ws("|", "source", "lang"))
    pairs = ngram_jaccard_pairs(
        d, id_col="doc_id", text_col="text", group_col="grp_sl",
        prefix_words=30, threshold=0.6,
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_minhash(spark, sf_dir):  # MinHash+LSH, exact-Jaccard verified
    from ocr_poc_spark.operators.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents", spread=True)
    return minhash_lsh_pairs(d, jaccard_threshold=0.5).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def q_dedup_simhash(spark, sf_dir):  # SimHash near-dups (oracle-exact)
    from ocr_poc_spark.operators.dedup import simhash_near_pairs

    d = _t(spark, sf_dir, "documents", spread=True)
    # max_hamming=4 -> 5 pigeonhole bands of 12 bits (4096 buckets):
    # recall still provably 1.0, and the banding is selective enough
    # that candidate pairs stay near the true-pair count (the old
    # hamming-8 setting banded on 6-7 bits and verified ~30x more
    # false candidates). 24 true pairs at the sf0.01 oracle scale.
    return simhash_near_pairs(d, max_hamming=4)


def q_dedup_incremental(spark, sf_dir):
    """Rolling-crawl dedup: every 4th doc plays the NEW crawl slice,
    the rest the already-indexed corpus; pairs touching at least one
    new doc must exactly equal the batch operator's output restricted
    to those pairs (the oracle recomputes exact all-pairs Jaccard with
    that predicate). The corpus side goes through the persisted-index
    path (minhash_band_index), never re-shingled except for the
    candidate-pruned verify."""
    from ocr_poc_spark.operators.dedup import (
        minhash_band_index,
        minhash_lsh_pairs_incremental,
    )

    d = _t(spark, sf_dir, "documents", spread=True)
    new = d.where(F.col("doc_id") % 4 == 0)
    corpus = d.where(F.col("doc_id") % 4 != 0)
    idx = minhash_band_index(corpus)
    return minhash_lsh_pairs_incremental(
        new, corpus, corpus_index=idx, jaccard_threshold=0.5
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_components(spark, sf_dir):
    """Duplicate-CLUSTER resolution: connected components over the
    MinHash near-dup pair list (doc_id -> min doc id of its component),
    the stage a dedup pipeline runs after pair generation so transitive
    near-dups ("A~B, B~C" without "A~C") collapse to one keeper.
    Iterative large-star/small-star in Spark; the oracle recomputes the
    exact-Jaccard edge set in SQL and closes it with a recursive CTE."""
    from ocr_poc_spark.operators.dedup import connected_components, minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents", spread=True)
    pairs = minhash_lsh_pairs(d, jaccard_threshold=0.5)
    return connected_components(pairs).orderBy("doc_id")


def q_components_incremental(spark, sf_dir):
    """Incremental CC (dedup.merge_components): labels built from the
    even-keyed half of the MinHash pair list, then the odd-keyed half
    merged in — must equal from-scratch CC over all pairs, which is
    exactly what the oracle recomputes (same recursive closure as
    dedup_components). Proves label-table maintenance for a rolling
    crawl needs one edge per labeled doc, not the pair history."""
    from ocr_poc_spark.operators.dedup import (
        connected_components, merge_components, minhash_lsh_pairs,
    )

    d = _t(spark, sf_dir, "documents", spread=True)
    # Both halves filter the same pair list — materialize it once so
    # the band join + exact-Jaccard verify don't run per reference.
    pairs = minhash_lsh_pairs(d, jaccard_threshold=0.5).localCheckpoint(eager=True)
    first = pairs.where((F.col("id_a") + F.col("id_b")) % 2 == 0)
    second = pairs.where((F.col("id_a") + F.col("id_b")) % 2 != 0)
    labels = connected_components(first)
    return merge_components(labels, second).orderBy("doc_id")


def q_minhash_estimate(spark, sf_dir):
    """MinHash estimator audit (dedup.minhash_estimate_audit): est vs
    exact Jaccard on every true >= 0.5 pair, seeded-md5 signature
    family so signatures, estimates, and errors all replay bit-exactly
    in SQL (the documented stand-in for production's xxhash64 — the
    estimator's statistics are hash-family-independent)."""
    from ocr_poc_spark.operators.dedup import minhash_estimate_audit

    return minhash_estimate_audit(
        _t(spark, sf_dir, "documents", spread=True), num_hashes=16
    )


def q_embedding_topk(spark, sf_dir):  # brute-force cosine top-k
    # Reuses the operator directly (no inline re-implementation to
    # drift); ranking happens on the UNROUNDED cosine in both engines.
    from ocr_poc_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    out = cosine_topk(emb, query_ids=[0, 1, 2, 3, 4], k=3)
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


def q_ann_lsh(spark, sf_dir):  # hyperplane-LSH ANN
    from ocr_poc_spark.operators.similarity import lsh_ann_topk

    emb = _t(spark, sf_dir, "embeddings", spread=True)
    return lsh_ann_topk(emb, k=3, dim=64, n_planes=8).select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


def q_ann_ivf(spark, sf_dir):  # IVF (k-means inverted-file) ANN
    """The coarse-quantizer alternative to q_ann_lsh: deterministic
    seeded Lloyd's k-means (native aggregations, centroids as driver
    literals), n_probe nearest-centroid search, exact cosine re-rank.
    Oracle = committed golden from an arithmetic-exact pure-Python
    mirror (scripts/make_goldens.py::golden_ann_ivf; left-fold float
    ops match Spark's HOF folds bit-for-bit; the 4-decimal centroid
    rounding both sides quantizes away sum-order noise)."""
    from ocr_poc_spark.operators.similarity import ivf_ann_topk

    emb = _t(spark, sf_dir, "embeddings", spread=True)
    return ivf_ann_topk(
        emb, k=3, dim=64, n_centroids=16, n_probe=4, n_iter=3
    ).select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


def _ivf_lookup_centroids() -> list[list[float]]:
    """Small INTEGER centroids shared by q_ann_ivf_lookup and its SQL
    oracle: with integer vectors AND integer centroids every distance,
    dot product and squared norm is exactly representable in doubles,
    so the whole serving-mode IVF (assignment, probes, cosine re-rank)
    is bit-exactly recomputable in SQL — no golden needed."""
    import numpy as np

    rs = np.random.RandomState(13)
    return rs.randint(-3, 4, size=(8, 16)).astype(float).tolist()


def q_ann_ivf_lookup(spark, sf_dir):
    """Serving-mode IVF: every 4th doc plays the incoming query batch,
    the rest the indexed corpus; centroids are supplied (the persisted
    quantizer), so no k-means runs. Vectors are hashing-trick INTEGER
    embeddings — the one configuration where an approximate-ANN path
    has an exact SQL oracle end-to-end."""
    from ocr_poc_spark.operators.similarity import ivf_ann_topk
    from ocr_poc_spark.operators.textstats import hash_embedding

    emb = hash_embedding(
        _t(spark, sf_dir, "documents", spread=True), dim=16
    ).select(F.col("doc_id").alias("vec_id"), "embedding")
    corpus = emb.where(F.col("vec_id") % 4 != 0)
    queries = emb.where(F.col("vec_id") % 4 == 0)
    return ivf_ann_topk(
        corpus, k=2, dim=16, n_probe=3,
        queries=queries, centroids=_ivf_lookup_centroids(),
    ).select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


def _ivf_bcast_centroids() -> list[list[float]]:
    """80 INTEGER centroids (> similarity.MAX_LITERAL_CENTROIDS = 64)
    shared by q_ann_ivf_bcast and its SQL oracle — forces the
    broadcast-centroid branch (_with_centroids_col +
    _sorted_centroid_dists), the production branch at k ~ sqrt(n),
    while keeping every distance/argmin/cosine exact in doubles."""
    import numpy as np

    rs = np.random.RandomState(29)
    return rs.randint(-3, 4, size=(80, 16)).astype(float).tolist()


def q_ann_ivf_bcast(spark, sf_dir):
    """IVF ANN through the BROADCAST-CENTROID branch: 80 supplied
    integer centroids exceed MAX_LITERAL_CENTROIDS, so assignment and
    probe selection run as the single-row broadcast centroid array +
    per-row HOF sorted-distance prefix (similarity._with_centroids_col
    / _sorted_centroid_dists) — the branch SCALE10X names the
    production path (k must track sqrt(corpus)). Self-search over
    integer hashing-trick embeddings: the whole approximate path
    (assignment argmin, probe ordering with (d, ci) tie-break,
    self-pair filter, cosine re-rank) is exactly recomputable in SQL.
    Plan shape pinned by
    tests/test_plan_shapes.py::test_ivf_broadcast_assignment_is_exchange_free."""
    from ocr_poc_spark.operators.similarity import (
        MAX_LITERAL_CENTROIDS,
        ivf_ann_topk,
    )
    from ocr_poc_spark.operators.textstats import hash_embedding

    cents = _ivf_bcast_centroids()
    assert len(cents) > MAX_LITERAL_CENTROIDS
    emb = hash_embedding(
        _t(spark, sf_dir, "documents", spread=True), dim=16
    ).select(F.col("doc_id").alias("vec_id"), "embedding")
    return ivf_ann_topk(
        emb, k=2, dim=16, n_probe=3, centroids=cents
    ).select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


def q_embedding_near_dup(spark, sf_dir):  # embedding-cosine near-dup pairs
    """Exact all-pairs variant (oracle-checkable);
    similarity.embedding_near_dup_pairs is the LSH-bucketed scale path."""
    from ocr_poc_spark.operators.similarity import cosine_near_dup_pairs_exact

    emb = _t(spark, sf_dir, "embeddings", spread=True)
    return cosine_near_dup_pairs_exact(emb, cosine_threshold=0.45).select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    )


def q_embedding_near_dup_lsh(spark, sf_dir):
    """LSH-bucketed embedding near-dup SCALE path, exact-oracled via a
    planted-duplicate corpus: the embeddings table is augmented with one
    scaled copy (x2.0) of every vector under vec_id+100000. Scaling by a
    power of two is EXACT in IEEE-754 and commutes with the sign of every
    hyperplane dot product, so each planted pair collides in every LSH
    table — recall on the planted pairs is provably 1.0, not tuned. With
    threshold 0.95 and max organic cosine ~0.51 on this corpus, the exact
    pair set is precisely the planted pairs, so the LSH path's output
    (candidates -> exact re-rank filter) must EQUAL the all-pairs SQL
    oracle: the equi-join bucketing, pair dedup, vector join-back and
    precision filter are all on the hook. Recall in the approximate
    (near-but-not-identical) regime is bounded separately by
    tests/test_ops.py::test_embedding_near_dup_lsh_recall_bound."""
    from ocr_poc_spark.operators.similarity import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings", spread=True).select("vec_id", "embedding")
    planted = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0).cast("float")).alias("embedding"),
    )
    aug = emb.unionByName(planted)
    return embedding_near_dup_pairs(aug, cosine_threshold=0.95).select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    )


def q_lang_id(spark, sf_dir):  # stopword-argmax language ID
    from ocr_poc_spark.operators.textstats import lang_id

    return lang_id(_t(spark, sf_dir, "documents"))


def q_token_stats(spark, sf_dir):  # token counting
    from ocr_poc_spark.operators.textstats import token_stats

    out = token_stats(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", "n_tokens", "n_subwords_est", "n_chars_calc",
        F.round("distinct_ratio", 6).alias("distinct_ratio"),
    )


def q_quality_score(spark, sf_dir):  # heuristic quality scoring
    from ocr_poc_spark.operators.textstats import quality_score

    return quality_score(_t(spark, sf_dir, "documents"))


def q_fingerprint(spark, sf_dir):  # md5 + winnowed document fingerprints
    from ocr_poc_spark.operators.textstats import fingerprint

    return fingerprint(_t(spark, sf_dir, "documents", spread=True)).select(
        "doc_id", "md5_fp", "winnow_fp"
    )


def q_pii_scrub(spark, sf_dir):  # PII redaction + counts (curation pass)
    """Deterministic synthetic PII is appended to each document (both
    engines build the identical string), then scrubbed natively."""
    from ocr_poc_spark.operators.textstats import scrub_pii

    d = _t(spark, sf_dir, "documents", spread=True)
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com from 10.1."),
        (F.col("doc_id") % 200), F.lit(".7 call +1 555 01"),
        (F.col("doc_id") % 90 + 10),
    )
    out = scrub_pii(d.withColumn("text", t))
    return out.select(
        "doc_id", "n_emails", "n_ipv4", "n_phones",
        F.md5("scrubbed").alias("scrubbed_md5"),
    )


def q_repetition_stats(spark, sf_dir):  # Gopher-style shape/repetition signals
    from ocr_poc_spark.operators.textstats import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents", spread=True))


def q_lm_perplexity(spark, sf_dir):
    """CCNet-style bigram-LM perplexity quality filter, self-trained on
    the corpus (add-0.5 smoothing). Integer witness columns are exact;
    the log2-based entropy/ppl ride a 4-decimal rounding margin over
    libm ulp noise (documented on the operator)."""
    from ocr_poc_spark.operators.textstats import bigram_lm_scores

    return bigram_lm_scores(_t(spark, sf_dir, "documents", spread=True))


def q_hash_embed(spark, sf_dir):
    """Feature-hashing text embedding (hashing trick): fixed-dim
    INTEGER count vectors per document — exploded to (doc_id, pos, val)
    cells so the comparison stays scalar. Integer cells mean the DuckDB
    oracle recomputes every value bit-exactly (md5-hex15 bucket/sign
    bits, no float discipline needed)."""
    from ocr_poc_spark.operators.textstats import hash_embedding

    emb = hash_embedding(_t(spark, sf_dir, "documents"), dim=16)
    return emb.select(
        "doc_id", F.posexplode("embedding").alias("pos", "val")
    )


def q_text_embed_near_dup(spark, sf_dir):
    """Composition: text -> hashing-trick embedding -> exact cosine
    near-dup pairs, end-to-end oracle-exact. The integer vectors keep
    every dot product / squared norm exactly representable in doubles,
    and IEEE sqrt is correctly rounded — so even the cosine is
    bit-identical across engines."""
    from ocr_poc_spark.operators.similarity import cosine_near_dup_pairs_exact
    from ocr_poc_spark.operators.textstats import hash_embedding

    emb = hash_embedding(
        _t(spark, sf_dir, "documents", spread=True), dim=16
    ).select(F.col("doc_id").alias("vec_id"), "embedding")
    return cosine_near_dup_pairs_exact(emb, cosine_threshold=0.99).select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    )


def q_text_dedup_e2e(spark, sf_dir):
    """The COMPLETE dedup pipeline in one query: raw text -> hashing-
    trick embedding -> exact cosine near-dup pairs -> connected
    components -> (doc_id, component_id). Every stage is exact, so the
    DuckDB oracle recomputes the whole chain (cells -> vectors ->
    bit-exact cosines -> recursive-CTE closure) independently."""
    from ocr_poc_spark.operators.dedup import connected_components
    from ocr_poc_spark.operators.similarity import cosine_near_dup_pairs_exact
    from ocr_poc_spark.operators.textstats import hash_embedding

    emb = hash_embedding(
        _t(spark, sf_dir, "documents", spread=True), dim=16
    ).select(F.col("doc_id").alias("vec_id"), "embedding")
    pairs = cosine_near_dup_pairs_exact(emb, cosine_threshold=0.99)
    return connected_components(pairs).orderBy("doc_id")


def q_tpch_pricing(spark, sf_dir):  # TPC-H Q1-style agg (decimal-exact)
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.where(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-01 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base"),
            F.sum(
                dec("l_extendedprice")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
            ).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_tpch_part_profit(spark, sf_dir):
    """Q9-flavored multi-way star join: revenue by supplier nation x
    part brand. 100TB shape: lineitem is the only fact-scale input —
    part/supplier/nation are dimension tables and broadcast explicitly,
    so the plan has ZERO join exchanges; the single hash exchange is
    the final (nation, brand) aggregate, with map-side partial
    aggregation bounding it at n_nations x n_brands rows per task."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("p_brand").alias("brand"))
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q_tpch_top_orders(spark, sf_dir):  # Q3-style join + top-k
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(18,4)")
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c.where(F.col("c_mktsegment") == "BUILDING")),
              o["o_custkey"] == F.col("c_custkey"))
        .groupBy("o_orderkey")
        .agg(F.sum(rev).alias("revenue_dec"))
    )
    # Distributed top-k: sort+limit compiles to TakeOrderedAndProject (per-
    # partition heap + driver merge), never the single-partition WindowExec
    # a global row_number() would force. The rank is then derived on the 10
    # survivors with a tiny broadcast self-join (rnk = 1 + #rows ahead).
    top = j.orderBy(F.desc("revenue_dec"), F.asc("o_orderkey")).limit(10)
    ahead = top.select(
        F.col("o_orderkey").alias("b_key"), F.col("revenue_dec").alias("b_rev")
    )
    return (
        top.join(
            F.broadcast(ahead),
            (F.col("b_rev") > F.col("revenue_dec"))
            | ((F.col("b_rev") == F.col("revenue_dec")) & (F.col("b_key") < F.col("o_orderkey"))),
            "left",
        )
        .groupBy("o_orderkey", "revenue_dec")
        .agg((F.count("b_key") + 1).cast("int").alias("rnk"))
        .select(
            "o_orderkey",
            F.col("revenue_dec").cast("double").alias("revenue"),
            "rnk",
        )
    )


def q_region_rollup(spark, sf_dir):  # multi-way broadcast dim joins
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    return j.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
    )


def q_extract_pipeline(spark, sf_dir):  # flagship cascade (rows-only check)
    from ocr_poc_spark.plans.job import extract_fused

    pages = _pages_from_documents(spark, sf_dir)
    ext = extract_fused(pages)
    return ext.select(
        "url", "doc_kind", "success", F.round("quality_score", 6).alias("quality_score"),
        F.round("confidence", 6).alias("confidence"), "title", "author",
        "pub_date", "reading_time", "body_text", "n_blocks",
    )



def _corpus_chain(spark, sf_dir) -> dict:
    """The full-pipeline composition a 100 TB run actually executes
    (reference lifecycle analogue: /root/reference/api_server.py:177-269
    end-to-end path): pages -> fused extraction -> quality/lang gate ->
    MinHash near-dup pairs -> connected components -> keeper filter ->
    host cap -> chunking -> sequence packing. Returns every intermediate
    frame so corpus_pipeline (packed sequences) and
    corpus_pipeline_stats (per-stage survivor counts) share one
    definition.

    Extracted text = COALESCE(body_text, author): on the synthetic
    driver corpus the page's single body paragraph is consumed by the
    author proximity binding and body ends NULL (pinned in the
    extract_pipeline oracle derivation above), so the article text
    rides the author field; on real fixture pages body_text is the
    non-null branch. The quality gate compares the ROUND-6 score — the
    value extract_pipeline's oracle proves bit-equal across engines.

    Stage frames are localCheckpoint-ed where consumed by more than one
    downstream branch so the Arrow extraction UDF runs ONCE, not once
    per branch."""
    from ocr_poc_spark.operators.curation import chunk_documents, host_cap, pack_sequences
    from ocr_poc_spark.operators.dedup import connected_components, minhash_lsh_pairs
    from ocr_poc_spark.plans.job import extract_fused

    pages = _pages_from_documents(spark, sf_dir)
    ext = extract_fused(pages).select(
        "url",
        "success",
        F.round("quality_score", 6).alias("q6"),
        F.regexp_extract("url", r"^https://docs\.example/([a-z]+)/", 1).alias(
            "section"
        ),
        F.coalesce("body_text", "author", F.lit("")).alias("extracted_text"),
    ).localCheckpoint(eager=False)
    gated = ext.where(
        F.col("success")
        & (F.col("q6") >= 0.6235)
        & F.col("section").isin("en", "fr", "de", "es")
    ).localCheckpoint(eager=False)
    pairs = minhash_lsh_pairs(
        gated, id_col="url", text_col="extracted_text", jaccard_threshold=0.5
    )
    comp = connected_components(pairs)
    kept = gated.join(
        comp, gated["url"] == comp["doc_id"], "left"
    ).where(
        F.col("component_id").isNull() | (F.col("component_id") == F.col("url"))
    ).select("url", "section", "extracted_text")
    capped = host_cap(
        kept, max_per_host=80, host_col="section", id_col="url"
    ).localCheckpoint(eager=False)
    chunks = chunk_documents(
        capped, id_col="url", text_col="extracted_text",
        chunk_tokens=32, stride=32,
    )
    packed = pack_sequences(chunks, seq_len=100, id_col="url")
    return {
        "ext": ext, "gated": gated, "pairs": pairs, "comp": comp,
        "kept": kept, "capped": capped, "chunks": chunks, "packed": packed,
    }


def q_corpus_pipeline(spark, sf_dir):
    """Packed training sequences out of the full extract->curate chain
    (see _corpus_chain). Oracle recomputes the ENTIRE pipeline in SQL:
    the extraction derivation, the round-6 quality gate, exact-Jaccard
    pairs, recursive-CTE closure, keeper filter, md5-rank host cap,
    chunking and window-cumsum packing."""
    return _corpus_chain(spark, sf_dir)["packed"].select(
        "seq_id", "tok_start", "tok_end", "url", "chunk_idx",
        "chunk_tok_start", "chunk_tok_end",
    )


def q_corpus_pipeline_stats(spark, sf_dir):
    """Per-stage survivor counts of the same chain — the lineage row a
    production run logs per stage (extracted/gated/pairs/component
    docs/kept/capped/chunks/packed pieces)."""
    c = _corpus_chain(spark, sf_dir)

    def _n(name, df):
        return df.agg(
            F.lit(name).alias("stage"), F.count(F.lit(1)).alias("n")
        )

    out = _n("1_extracted", c["ext"])
    for name, key in [
        ("2_gated", "gated"), ("3_dup_pairs", "pairs"),
        ("4_component_docs", "comp"), ("5_kept", "kept"),
        ("6_capped", "capped"), ("7_chunks", "chunks"),
        ("8_packed_pieces", "packed"),
    ]:
        out = out.unionByName(_n(name, c[key]))
    return out


def q_salted_agg(spark, sf_dir):  # skew handling: two-phase salted agg
    from ocr_poc_spark.operators.hoststats import salted_agg

    e = _t(spark, sf_dir, "events")
    out = salted_agg(e, key_col="event_type", salt_src_col="event_id",
                     value_col="value")
    return out.select("event_type", "n_rows", "sum_value")



def q_range_join(spark, sf_dir):  # J3: zone-containment (range) join
    e = _t(spark, sf_dir, "events")
    zones = spark.createDataFrame(
        [("tiny", 0.0, 5.0), ("small", 5.0, 25.0), ("mid", 25.0, 100.0),
         ("large", 100.0, 1000.0)],
        "zone string, lo double, hi double",
    )
    j = e.join(
        F.broadcast(zones),
        (e["value"] >= zones["lo"]) & (e["value"] < zones["hi"]),
    )
    return j.groupBy("zone").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


def q_band_join(spark, sf_dir):  # J4: directional band binding w/ boost
    e = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    errs = e.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), "user_id", us.alias("e_us")
    )
    views = e.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", us.alias("v_us"),
        F.col("value").alias("v_value"),
    )
    # Skew-bounded two-sided band join: equi-key (user, 5-min bucket),
    # identical output to the plain user_id join + abs filter; measured
    # contrast in BENCH/SCALE10X.md "Skew stress" (the plain-key
    # baseline concentrates a 10%-hot user's rows 4.6x median on one
    # task; this path stays ~1x).
    from ocr_poc_spark.operators.bandjoin import abs_banded_join

    j = abs_banded_join(
        errs, views, key="user_id", left_us="e_us", right_us="v_us",
        band_us=300_000_000,
    )
    boosted = F.round(
        F.when(F.col("v_us") > F.col("e_us"), F.col("v_value") * 1.5)
        .otherwise(F.col("v_value")), 6,
    )
    w = Window.partitionBy("err_id").orderBy(F.desc("boosted"), F.asc("view_id"))
    return (
        j.withColumn("boosted", boosted)
        .withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("err_id", "view_id", "boosted")
    )



def q_multimodal_decode(spark, sf_dir):  # opaque-binary media decode plumbing
    """Multimodal column plumbing checked end-to-end: media payloads are
    synthesised NATIVELY (binary header + body built from documents), the
    Arrow-batched decode UDF parses them, and the DuckDB oracle re-derives
    every output (dims, byte stats feature vector, unsupported fallback)
    from the same arithmetic — documents are ASCII so char counts == byte
    counts on both engines."""
    from ocr_poc_spark.operators.multimodal import decode_media

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    w = (did % 100 + 1).cast("int")
    h = (did % 50 + 1).cast("int")
    nf = (did % 10 + 1).cast("int")
    kch = F.element_at(F.array(F.lit("I"), F.lit("A"), F.lit("V")), (did % 3 + 1).cast("int"))
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")), (did % 3 + 1).cast("int")
    )
    z = F.char(F.lit(0))
    hdr = F.concat(F.lit("FAKE"), kch, F.char(w), z, F.char(h), z, F.char(nf), z)
    payload = F.when(did % 7 == 0, F.col("text")).otherwise(
        F.concat(hdr, F.col("text"))
    ).cast("binary")
    media = d.select(did.alias("media_id"), kind.alias("kind"), payload.alias("payload"))
    dec = decode_media(media)
    return dec.select(
        "media_id", "kind", "status", "width", "height", "n_frames", "n_bytes",
        F.get("feature", 0).alias("f_len"),
        F.round(F.get("feature", 1), 6).alias("f_mean"),
        F.get("feature", 2).alias("f_min"),
        F.get("feature", 3).alias("f_max"),
    )


def q_zone_transform(spark, sf_dir):  # J3+: zone join after estimated rotation
    """Template zones bound after per-document transform estimation
    (rotation from first two anchor points, offset/scale from bounds) —
    the notebook's estimate_transformation/extract_from_zone semantics
    over synthetic positioned points derived from the events table."""
    from ocr_poc_spark.operators.zones import (
        estimate_transform,
        transformed_zone_join,
    )

    e = _t(spark, sf_dir, "events", spread=True)
    blocks = e.select(
        F.concat(F.lit("u"), F.col("user_id")).alias("url"),
        F.col("event_id").cast("int").alias("idx"),
        F.col("event_type").alias("text"),
        ((F.col("event_id") % 37) * F.lit(10.0)).alias("x"),
        ((F.col("event_id") % 23) * F.lit(12.0)).alias("y"),
        ((F.col("event_id") % 13 + 1) / F.lit(13.0)).alias("score"),
    )
    # Three consumers (bounds agg, anchor window, the zone join) — one
    # materialized pass over the events scan instead of three.
    blocks = blocks.localCheckpoint(eager=True)
    bounds = blocks.groupBy("url").agg(
        F.min("x").alias("min_x"), F.max("x").alias("max_x"),
        F.min("y").alias("min_y"), F.max("y").alias("max_y"),
    )
    tr = estimate_transform(bounds, blocks)
    zones = spark.createDataFrame(
        [("hot", 0.0, 0.0, 0.5, 0.5, ["click"]),
         ("cold", 0.5, 0.5, 0.5, 0.5, [])],
        "field string, zx double, zy double, zw double, zh double, "
        "anchors array<string>",
    )
    out = transformed_zone_join(blocks, zones, tr, score_col="score")
    return out.select(
        "url", "field", "idx", "text", F.round("zscore", 6).alias("zscore")
    )


def q_json_props(spark, sf_dir):  # semi-structured metadata extraction
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum(F.col("k").cast("long")).alias("sum_k"),
        )
    )



def q_set_ops(spark, sf_dir):  # union/intersect/except (§2.7 set ops)
    d = _t(spark, sf_dir, "documents")
    long_docs = d.where(F.col("n_chars") > 250).select("doc_id")
    en_docs = d.where(F.col("lang") == "en").select("doc_id")
    inter = long_docs.intersect(en_docs).withColumn("which", F.lit("long_and_en"))
    only_long = long_docs.exceptAll(en_docs).withColumn("which", F.lit("long_not_en"))
    return inter.unionByName(only_long).groupBy("which").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_id")
    )


def q_boilerplate_shingles(spark, sf_dir):  # RefinedWeb-style cross-doc span dedup signal
    from ocr_poc_spark.operators.curation import boilerplate_shingle_stats

    return boilerplate_shingle_stats(
        _t(spark, sf_dir, "documents", spread=True), k=5, min_docs=2
    )


def q_decontaminate(spark, sf_dir):  # benchmark n-gram overlap (eval decontamination)
    from ocr_poc_spark.operators.curation import decontaminate

    d = _t(spark, sf_dir, "documents", spread=True)
    # Deterministic benchmark split: every 23rd doc plays the eval set.
    bench = d.where(F.col("doc_id") % 23 == 0)
    corpus = d.where(F.col("doc_id") % 23 != 0)
    return decontaminate(corpus, bench, n=8, min_overlap=1)


def q_decontaminate_spans(spark, sf_dir):
    """Surgical benchmark decontamination (span excision): rewrite each
    corpus document with every 8-token window that appears verbatim in
    the benchmark slice removed — the span-level counterpart of
    q_decontaminate's doc-level flags (and the zero-surviving-copy
    counterpart of q_span_dedup). Benchmark = every 23rd doc, broadcast
    as a distinct shingle-hash set; the oracle replays tokenisation,
    hashes, coverage union, and the index-ordered rebuild in SQL."""
    from ocr_poc_spark.operators.curation import decontaminate_spans

    d = _t(spark, sf_dir, "documents", spread=True)
    bench = d.where(F.col("doc_id") % 23 == 0)
    corpus = d.where(F.col("doc_id") % 23 != 0)
    return decontaminate_spans(corpus, bench, span_tokens=8)


def q_benchmark_coverage(spark, sf_dir):
    """Benchmark-side contamination report (curation.benchmark_coverage,
    the reverse of q_decontaminate): same %23 eval split, but measured
    per BENCH doc — what fraction of each eval item's 8-grams the
    corpus already contains. The oracle mirrors the membership
    semi-join and ratio in SQL."""
    from ocr_poc_spark.operators.curation import benchmark_coverage

    d = _t(spark, sf_dir, "documents", spread=True)
    bench = d.where(F.col("doc_id") % 23 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    corpus = d.where(F.col("doc_id") % 23 != 0)
    return benchmark_coverage(corpus, bench, n=8)


def q_corpus_grep(spark, sf_dir):
    """Corpus grep (search.find_text): exact char positions of the
    literal 'table' across the corpus — the leak-localization tool
    downstream of benchmark_coverage. The oracle replays the split +
    cumulative-length offsets with a per-doc window."""
    from ocr_poc_spark.operators.search import find_text

    return find_text(_t(spark, sf_dir, "documents", spread=True), "table")


def q_stratified_sample(spark, sf_dir):  # deterministic corpus-mixing sampler
    from ocr_poc_spark.operators.curation import stratified_sample

    d = _t(spark, sf_dir, "documents")
    return stratified_sample(
        d, {"en": 0.5, "fr": 0.25, "de": 0.1}, strat_col="lang"
    ).select("doc_id", "lang", "source")


def q_normalize_urls(spark, sf_dir):  # URL canonicalization (first CC pass)
    from ocr_poc_spark.operators.curation import normalize_urls

    d = _t(spark, sf_dir, "documents")
    # Deterministic messy URLs synthesised from doc_id (mixed case,
    # default ports, tracking params, fragments) — the oracle builds the
    # identical strings and normalises them with its own functions.
    i = F.col("doc_id")
    url = F.concat(
        F.when(i % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https")),
        F.lit("://WWW.Site"), (i % 7).cast("string"), F.lit(".COM"),
        F.when(i % 3 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.when(i % 5 == 0, F.lit("")).otherwise(
            F.concat(F.lit("/articles/"), i.cast("string"))
        ),
        F.when(i % 2 == 0, F.lit("?utm_source=tw&b=2&a=1"))
        .when(i % 3 == 0, F.lit("?ref=home"))
        .otherwise(F.lit("")),
        F.when(i % 4 == 0, F.lit("#sec2")).otherwise(F.lit("")),
    )
    return normalize_urls(d.select("doc_id", url.alias("url"))).select(
        "doc_id", "url", "url_norm"
    )


def q_strip_boilerplate(spark, sf_dir):
    """Exact line dedup that REWRITES text (the RefinedWeb curation
    transform; boilerplate_shingles is the read-only signal). The
    documents fixture is single-line, so multi-line pages are
    synthesized deterministically — a global subscribe banner, a
    per-source 'About'/'(c)' header/footer (each source has several
    docs, so these are corpus-boilerplate), and the doc's own words in
    10-word body lines. The oracle rebuilds the same pages and replays
    the strip in SQL (same 60-bit line hashes, same >= 2-docs rule)."""
    from ocr_poc_spark.operators.curation import strip_boilerplate_lines

    d = _t(spark, sf_dir, "documents", spread=True)
    w = F.split(F.lower(F.trim(F.coalesce("text", F.lit("")))), r"\s+")
    body = F.expr(
        "array_join(transform("
        "sequence(0, greatest(cast(ceil(size(_w) / 10.0) as int), 1) - 1), "
        "i -> concat_ws(' ', slice(_w, i * 10 + 1, 10))), '\\n')"
    )
    pages = d.select(
        "doc_id",
        "source",
        w.alias("_w"),
    ).select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("Subscribe to our newsletter"),
            F.concat(F.lit("About "), F.col("source")),
            body,
            F.concat(F.lit("(c) "), F.col("source")),
        ).alias("text"),
    )
    return strip_boilerplate_lines(pages)


def q_repeat_line_dedup(spark, sf_dir):
    """Within-document repeated-line rewrite (curation.
    strip_repeated_lines): synthesized multi-line pages repeat their
    nav chrome INSIDE each page; the pass drops the later copies and
    keeps body + structure. Map-only HOF filter; oracle replays the
    synth + the earlier-occurrence rule with a correlated NOT EXISTS."""
    from ocr_poc_spark.operators.curation import strip_repeated_lines

    d = _t(spark, sf_dir, "documents", spread=True)
    body = F.concat_ws(
        " ",
        F.slice(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda x: F.length(x) > 0,
            ),
            1, 10,
        ),
    )
    pages = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.lit("nav "), F.col("source")),
            body,
            F.concat(F.lit("NAV "), F.col("source")),
            F.concat(F.lit("unique "), F.col("doc_id").cast("string")),
        ).alias("text"),
    )
    return strip_repeated_lines(pages)


def q_span_dedup(spark, sf_dir):
    """Span-level exact substring dedup (Lee et al. 2022): every
    8-token span occurring >= 2 times corpus-wide is removed except its
    globally-first (doc_id, pos) occurrence; overlapping duplicated
    shingles extend removal to the maximal shared span. The documents
    fixture's templated vocabulary yields ~1k duplicated 8-grams at
    sf0.01, so the pass has real work without synthetic pages. Oracle
    replays the whole pipeline in SQL: same 60-bit shingle hashes, a
    row_number-over-hash canonical pick, positional coverage join, and
    an index-ordered string_agg rebuild."""
    from ocr_poc_spark.operators.curation import dedup_spans

    return dedup_spans(
        _t(spark, sf_dir, "documents", spread=True), span_tokens=8
    )


def q_temperature_sample(spark, sf_dir):
    """Multilingual temperature rebalancing (XLM-R/mT5 p^alpha corpus
    mixing): per-language sampling rates DERIVED from corpus counts —
    rate = (n_min/n_lang)^(1-alpha), rarest language kept whole — then
    the reproducible md5 bucket keeps/drops rows. alpha=0.5 makes the
    rate an IEEE sqrt (correctly rounded in both engines), so the
    thresholds are bit-identical cross-engine; floor-quantised to
    1/10000. Oracle recomputes counts, thresholds, and buckets in SQL
    with a null-safe stratum join (NULL lang is its own stratum)."""
    from ocr_poc_spark.operators.curation import temperature_sample

    return temperature_sample(
        _t(spark, sf_dir, "documents"), alpha=0.5, strat_col="lang"
    ).select("doc_id", "lang", "source")


def q_shuffle_shards(spark, sf_dir):
    """Deterministic training-order shuffle + token-balanced shards:
    global order = md5('ep0:' || doc_id), greedy cut every 5000 tokens
    (whole docs, standard sharding rule). The prefix sums run two-phase
    (range repartition on the uniform 60-bit key + per-partition
    windows + broadcast offsets — never one global window), and the
    output is a pure function of the order, so the single-window SQL
    oracle agrees row-for-row at any parallelism."""
    from ocr_poc_spark.operators.curation import shuffle_shards

    d = _t(spark, sf_dir, "documents", spread=True)
    # Empty words filtered: split('') = [''] would count a phantom
    # token for empty docs (run_shards uses the same rule).
    n_tokens = F.size(
        F.filter(
            F.split(F.lower(F.trim(F.coalesce("text", F.lit("")))), r"\s+"),
            lambda w: F.length(w) > 0,
        )
    )
    return shuffle_shards(
        d.withColumn("n_tokens", n_tokens), shard_tokens=5000, seed="ep0"
    )


def q_quality_classifier(spark, sf_dir):
    """Supervised quality-classifier filtering (operators/classifier.py,
    the GPT-3/LLaMA quality-gate recipe): a hashed-n-gram Naive Bayes
    model trained on the en-language docs as the positive class vs the
    rest as negative, then every doc scored with its log-odds and kept
    above 0 — plus the deterministic md5-uniform soft acceptance
    (probability e^score) that admits a calibrated sliver of
    below-threshold docs, the role GPT-3's Pareto draw plays. Counts
    are exact integers; the ln-sum rides the 4-decimal rounding margin
    (the dsir contract); the model is a full 4096-bucket spine,
    broadcast into scoring."""
    from ocr_poc_spark.operators.classifier import nb_train_score_self

    d = _t(spark, sf_dir, "documents", spread=True)
    # Fused self-train shape: one tokenize+hash pass feeds pos counts,
    # neg counts AND scoring (provably equal to
    # nb_score(d, nb_train(pos, neg)) — see nb_train_score_self).
    return nb_train_score_self(d, F.col("lang") == "en")


def q_robots_filter(spark, sf_dir):
    """Robots-policy gate (crawl.robots_filter, RFC 9309 longest-match
    subset): per-host directive table applied before extraction.
    Synthesis: doc urls at '<source>.example/sec<id%5>/doc/<id>'; every
    host except src7's carries the same directives — disallow /sec0
    with a LONGER allow /sec0/doc (longest match wins -> allowed),
    disallow /sec2 (blocked), equal-length allow+disallow /sec4/ (allow
    wins ties). The oracle replays the longest-match rank in SQL rather
    than hard-coding outcomes."""
    from ocr_poc_spark.operators.crawl import robots_filter

    d = _t(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example/sec"),
            (F.col("doc_id") % 5).cast("string"), F.lit("/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    directives = [
        ("disallow", "/sec0"),
        ("allow", "/sec0/doc"),
        ("disallow", "/sec2"),
        ("disallow", "/sec4/"),
        ("allow", "/sec4/"),
    ]
    rules = (
        d.where(F.col("source") != "src7")
        .select(F.concat(F.col("source"), F.lit(".example")).alias("host"))
        .distinct()
        .select(
            "host",
            F.explode(
                F.array(*[
                    F.struct(F.lit(r).alias("rule"), F.lit(p).alias("path_prefix"))
                    for r, p in directives
                ])
            ).alias("_d"),
        )
        .select("host", "_d.rule", "_d.path_prefix")
    )
    return robots_filter(docs, rules)


def q_bitext_mine(spark, sf_dir):
    """Margin-based parallel-document mining (similarity.bitext_mine,
    after Artetxe & Schwenk 2019 / the CCMatrix recipe): en docs as the
    source side, fr docs as the target side, hashing-trick INTEGER
    embeddings (dim 16) so every cosine is bit-exact cross-engine, k=3
    neighbor averages summed by an explicit sorted left-to-right chain
    (fixed operand order — an unordered SUM() would differ in ulps),
    mutual-best intersection at margin > 1. The exact all-pairs config
    is the oracle path; production mines from ANN candidates
    (candidates=)."""
    from ocr_poc_spark.operators.similarity import bitext_mine
    from ocr_poc_spark.operators.textstats import hash_embedding

    d = _t(spark, sf_dir, "documents", spread=True)
    emb = hash_embedding(d, dim=16)
    src = emb.join(d.where(F.col("lang") == "en").select("doc_id"), "doc_id")
    tgt = emb.join(d.where(F.col("lang") == "fr").select("doc_id"), "doc_id")
    out = bitext_mine(
        src.select(F.col("doc_id").alias("vec_id"), "embedding"),
        tgt.select(F.col("doc_id").alias("vec_id"), "embedding"),
        k=3, margin_threshold=1.0, strategy="intersect",
    )
    return out.select(
        "src_id", "tgt_id", F.round("cosine", 6).alias("cosine"), "margin"
    )


def q_chunk_documents(spark, sf_dir):  # training-sequence chunking
    from ocr_poc_spark.operators.curation import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents", spread=True), chunk_tokens=32, stride=16
    )


def q_chunk_subword(spark, sf_dir):
    """Subword-budget chunking: word-aligned 32/32 windows whose
    n_tokens is the GREEDY-SUBWORD token count (deterministic
    longest-match over the committed functions/subword.py vocab, pure
    HOF fold — no UDF, no tokenizer lib), the budget a real BPE-sized
    packing run needs. Oracle replays the greedy rule per word with a
    recursive CTE over the same committed vocab."""
    from ocr_poc_spark.operators.curation import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents", spread=True),
        chunk_tokens=32, stride=32, tokenizer="subword",
    )


def q_pack_subword(spark, sf_dir):
    """Packing under SUBWORD budgets: same concat-and-slice rule as
    pack_sequences but the token stream is counted in greedy-subword
    tokens (chunk_subword's n_tokens), sizing 100-token training
    sequences in BPE-approximating units. Oracle = recursive-CTE
    subword counts + the same window-cumsum recompute."""
    from ocr_poc_spark.operators.curation import chunk_documents, pack_sequences

    chunks = chunk_documents(
        _t(spark, sf_dir, "documents", spread=True),
        chunk_tokens=32, stride=32, tokenizer="subword",
    )
    return pack_sequences(chunks, seq_len=100)


def q_pack_sequences(spark, sf_dir):  # training-sequence packing
    """GPT-style concat-and-slice packing of chunk_documents output into
    fixed 100-token sequences with per-piece boundary attribution. The
    packing rule is a pure function of global (doc_id, chunk_idx) order,
    so DuckDB recomputes it exactly with a window cumsum; the Spark path
    computes the same prefix sum two-phase (no global window)."""
    from ocr_poc_spark.operators.curation import chunk_documents, pack_sequences

    chunks = chunk_documents(
        _t(spark, sf_dir, "documents", spread=True), chunk_tokens=32, stride=32
    )
    return pack_sequences(chunks, seq_len=100)


def q_bm25_search(spark, sf_dir):
    """Keyword retrieval over the corpus: Okapi BM25 top-20 for a fixed
    query (operators/search.py). Integer tf/df witnesses are exact; the
    ln-based score rides the 4-decimal rounding margin and BOTH engines
    cut the top-k on the rounded score with an id tie-break."""
    from ocr_poc_spark.operators.search import bm25_topk

    return bm25_topk(
        _t(spark, sf_dir, "documents", spread=True),
        "spark hash join window table",
        top_n=20,
    )


def q_hybrid_search(spark, sf_dir):
    """Hybrid retrieval (operators/search.hybrid_topk): BM25 sparse leg
    + hashing-trick-embedding cosine dense leg fused by Reciprocal
    Rank Fusion. Cross-engine exactness: the sparse leg ranks on the
    ROUNDED-4 BM25 score, the dense leg on the UNROUNDED cosine of
    INTEGER feature-hash vectors (exact dots), and 1/(60+rank) is one
    IEEE division summed in a fixed order — the oracle replays both
    legs, both rank windows, and the fusion join in SQL."""
    from ocr_poc_spark.operators.search import hybrid_topk

    return hybrid_topk(
        _t(spark, sf_dir, "documents", spread=True),
        "spark hash join window table",
        pool=20, top_n=10,
    )


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style cluster-then-dedup (similarity.semantic_dedup):
    integer hashing-trick embeddings assigned to the 8 shared integer
    centroids (broadcast, map-side), exact cosine pairs WITHIN each
    cluster only, hub-safe connected components, one keeper per group.
    Integer vectors + integer centroids make assignment, cosine and
    closure bit-exactly recomputable in SQL."""
    from ocr_poc_spark.operators.similarity import semantic_dedup
    from ocr_poc_spark.operators.textstats import hash_embedding

    emb = hash_embedding(_t(spark, sf_dir, "documents", spread=True), dim=16)
    return semantic_dedup(
        emb, _ivf_lookup_centroids(), id_col="doc_id",
        cosine_threshold=0.99,
    )


def _semantic_bcast_centroids() -> list[list[float]]:
    """80 INTEGER centroids (> similarity.MAX_LITERAL_CENTROIDS = 64)
    shared by q_semantic_dedup_bcast and its SQL oracle — the
    production-shaped quantizer config (k tracks ~sqrt(n) instead of
    the 8-cluster fixture freeze VERDICT r3/r4 flagged), keeping every
    distance/argmin/cosine exact in doubles. Distinct seed from the
    IVF twins so cluster boundaries differ across the suite."""
    import numpy as np

    rs = np.random.RandomState(31)
    return rs.randint(-3, 4, size=(80, 16)).astype(float).tolist()


def q_semantic_dedup_bcast(spark, sf_dir):
    """SemDeDup at the PRODUCTION quantizer scale: same cluster-then-
    dedup chain as semantic_dedup but with 80 supplied integer
    centroids (> MAX_LITERAL_CENTROIDS) — the k ~ sqrt(n) regime where
    in-cluster pair work is bounded at ~n^2/k (SCALE10X measured the
    frozen-k=8 config at ~156M in-cluster cosines at 10x; this config
    is the one a 100 TB run ships). Assignment rides the single-row
    broadcast centroid array (similarity._with_centroids_col), exactly
    like ann_ivf_bcast — the r4 verdict's asked-for mirror. Integer
    vectors + integer centroids keep assignment, cosine and the
    component closure bit-exactly recomputable in SQL."""
    from ocr_poc_spark.operators.similarity import (
        MAX_LITERAL_CENTROIDS,
        semantic_dedup,
    )
    from ocr_poc_spark.operators.textstats import hash_embedding

    cents = _semantic_bcast_centroids()
    assert len(cents) > MAX_LITERAL_CENTROIDS
    emb = hash_embedding(_t(spark, sf_dir, "documents", spread=True), dim=16)
    return semantic_dedup(
        emb, cents, id_col="doc_id", cosine_threshold=0.99,
    )


def q_crawl_frontier(spark, sf_dir):
    """Politeness-aware crawl scheduling (operators/crawl.crawl_frontier):
    synthesized frontier urls (one per document, the robots_filter url
    recipe), per-host priority = the host's document count (the
    "recrawl big hosts first" baseline signal; pagerank/churn slot in
    the same way), per_host=2 waves. The oracle replays the url
    synthesis, host regex, priority join, and the hash-ordered
    partitioned window in SQL."""
    from ocr_poc_spark.operators.crawl import crawl_frontier

    d = _t(spark, sf_dir, "documents", spread=True)
    urls = d.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url")
    )
    pr = d.groupBy("source").agg(F.count(F.lit(1)).alias("_n")).select(
        F.concat(F.col("source"), F.lit(".example")).alias("host"),
        F.col("_n").cast("double").alias("priority"),
    )
    return crawl_frontier(urls, priority=pr, per_host=2)


def q_ann_quantized(spark, sf_dir):
    """ANN over int8-quantized embeddings (similarity.
    quantize_embeddings): floor-quantized integer cells are
    bit-identical cross-engine (one IEEE mul + div + floor per cell),
    cosine is scale-invariant so retrieval runs directly on the
    quantized vectors, and integer dots make every cosine exact —
    the 4x-memory ANN serving path with a complete SQL oracle."""
    from ocr_poc_spark.operators.similarity import (
        cosine_topk, quantize_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qd = quantize_embeddings(emb).select(
        "vec_id", F.col("qvec").alias("embedding")
    )
    return cosine_topk(qd, query_ids=[0, 1, 2, 3, 4], k=3).select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


def q_ann_recall(spark, sf_dir):
    """ANN quality audit (similarity.ann_recall): recall@2 of the
    broadcast-centroid IVF path against exact cosine ground truth for
    a 10-query sample, both legs over the integer hashing-trick
    embeddings — so BOTH the exact leg, the whole approximate leg
    (assignment, probes, re-rank), and the recall arithmetic are
    bit-exactly recomputable in SQL."""
    from ocr_poc_spark.operators.similarity import (
        ann_recall, cosine_topk, ivf_ann_topk,
    )
    from ocr_poc_spark.operators.textstats import hash_embedding

    qids = list(range(10))
    # Both audit legs (exact + IVF) read the same embedding frame;
    # materialize it once instead of re-running the md5 hashing fold
    # per leg (values identical — the checkpoint is the same frame).
    emb = hash_embedding(
        _t(spark, sf_dir, "documents", spread=True), dim=16
    ).select(F.col("doc_id").alias("vec_id"), "embedding").localCheckpoint(
        eager=True
    )
    exact = cosine_topk(emb, query_ids=qids, k=2)
    approx = ivf_ann_topk(
        emb, k=2, dim=16, n_probe=3, centroids=_ivf_bcast_centroids()
    ).where(F.col("query_id").isin(qids))
    return ann_recall(exact, approx)


def q_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail quality split (textstats.ccnet_buckets):
    per-language ppl-rank terciles — integer rank cuts (n div 3), no
    interpolated thresholds, so bucket labels are bit-exact
    cross-engine on top of the round-4 ppl margin."""
    from ocr_poc_spark.operators.textstats import ccnet_buckets

    return ccnet_buckets(_t(spark, sf_dir, "documents", spread=True))


def q_kn_perplexity(spark, sf_dir):
    """Interpolated Kneser-Ney bigram perplexity (textstats.
    kn_lm_scores) — the KenLM-family smoothing upgrade over
    lm_perplexity's add-alpha: absolute discount + continuation-count
    redistribution. Counts exact; the fixed probability expression
    tree is parenthesised identically in the SQL oracle; log2/pow on
    the 4-decimal margin."""
    from ocr_poc_spark.operators.textstats import kn_lm_scores

    return kn_lm_scores(_t(spark, sf_dir, "documents", spread=True))


def q_bitext_url(spark, sf_dir):
    """URL-pattern bitext candidates (similarity.bitext_url_candidates,
    the CCAligned recipe): language-marked synthetic urls — one
    article id per 4 documents — pair across languages on the
    lang-stripped key. Pure string ops (plain replace, no regex), so
    the oracle replays everything exactly."""
    from ocr_poc_spark.operators.similarity import bitext_url_candidates

    d = _t(spark, sf_dir, "documents", spread=True)
    u = d.select(
        "doc_id", "lang",
        F.concat(
            F.lit("https://site.example/"), F.col("lang"), F.lit("/art/"),
            F.expr("doc_id div 4").cast("string"),
        ).alias("url"),
    )
    return bitext_url_candidates(u)


def q_tokenizer_fertility(spark, sf_dir):
    """Tokenizer-health audit (textstats.tokenizer_fertility): per-doc
    subword fertility + chars/token under the committed SUBWORD_VOCAB.
    Counts are integers from the same bounded greedy HOF fold
    chunk_subword uses; the oracle replays it with the same
    recursive-CTE longest-prefix machinery."""
    from ocr_poc_spark.operators.textstats import tokenizer_fertility

    return tokenizer_fertility(_t(spark, sf_dir, "documents", spread=True))


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing fingerprints (textstats.winnow_fingerprints; the MOSS
    algorithm): min-of-window selection over 5-shingle 60-bit hashes,
    window 4 — the sampled span-index companion to span_dedup. The
    oracle replays shingle hashing, windowing (incl. the single-window
    short-doc rule), and the (hash, pos) min tie-break in SQL."""
    from ocr_poc_spark.operators.textstats import winnow_fingerprints

    return winnow_fingerprints(
        _t(spark, sf_dir, "documents", spread=True), k=5, window=4
    )


def q_cluster_profile(spark, sf_dir):
    """Corpus cartography: assign every document to its nearest shared
    centroid (similarity.assign_clusters — map-side broadcast argmin
    over the hashing-trick embeddings) and profile each cluster with
    its doc count and top-3 terms by frequency — the unsupervised
    what-is-in-this-corpus report a curation run starts from. Exact
    integer counts; (count desc, term) rank ties deterministic."""
    from ocr_poc_spark.operators.similarity import assign_clusters
    from ocr_poc_spark.operators.textstats import hash_embedding

    docs = _t(spark, sf_dir, "documents", spread=True)
    assigned = assign_clusters(
        hash_embedding(docs, dim=16), _ivf_lookup_centroids(), id_col="doc_id"
    ).select("doc_id", "cluster")
    sizes = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_docs"))
    words = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term")
    ).where(F.col("term") != "")
    tf = (
        words.join(assigned, "doc_id")
        .groupBy("cluster", "term")
        .agg(F.count(F.lit(1)).alias("term_count"))
    )
    w = Window.partitionBy("cluster").orderBy(
        F.desc("term_count"), F.asc("term")
    )
    top = tf.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= 3)
    return top.join(sizes, "cluster").select(
        "cluster", "n_docs", F.col("rank").cast("int").alias("rank"),
        "term", "term_count",
    )


def q_corpus_pipeline_splits(spark, sf_dir):
    """The production artifact's LAST stage: leakage-safe train/val/
    test assignment of the corpus_pipeline survivor set (the capped
    docs), keyed on the language section so near-dup pages within a
    section never straddle the boundary. One row per surviving doc
    (url, section, split); oracle extends the whole-chain recompute
    with the same md5 cumulative-threshold CASE corpus_split proves."""
    from ocr_poc_spark.operators.curation import split_corpus

    capped = _corpus_chain(spark, sf_dir)["capped"]
    return split_corpus(
        capped, {"train": 0.9, "val": 0.05, "test": 0.05}, id_col="url",
        by="section",
    ).select("url", "section", "split")


def q_dsir_weights(spark, sf_dir):
    """DSIR-style data selection (operators/dsir.py, after Xie et al.
    NeurIPS 2023): hashed unigram+bigram importance weights of every
    raw document against a small target exemplar set (the en-language
    docs with doc_id%10==0). Counts are exact integers; the ln-sum
    rides the 4-decimal rounding margin; the bucket log-ratio table is
    broadcast and only (id, bucket, count) rows cross shuffles."""
    from ocr_poc_spark.operators.dsir import importance_weights

    docs = _t(spark, sf_dir, "documents", spread=True)
    target = docs.where((F.col("lang") == "en") & (F.col("doc_id") % 10 == 0))
    return importance_weights(docs, target)


def q_dsir_resample(spark, sf_dir):
    """DSIR Gumbel-top-k importance RESAMPLING (dsir.dsir_resample) —
    the paper's sampling rule on top of q_dsir_weights' exact-count
    weights: key = logw + Gumbel(md5 uniform), top-40 without
    replacement. The oracle extends the dsir_weights replay with the
    same deterministic noise and the parenthesized-limit ordering."""
    from ocr_poc_spark.operators.dsir import dsir_resample

    docs = _t(spark, sf_dir, "documents", spread=True)
    target = docs.where((F.col("lang") == "en") & (F.col("doc_id") % 10 == 0))
    return dsir_resample(docs, target, top_n=40, seed="ep0")


def _link_pages(spark, sf_dir):
    """Deterministic linked-page synthesis shared by the webgraph
    queries: each doc's page lives on '<source>.example' and links to
    hosts derived from its id (absolute, plus a root-relative self link
    for even ids and a scheme-relative link for ids % 5 == 0) — the
    same construction the SQL oracles replay arithmetically."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    did = F.col("doc_id")
    t1 = F.concat(F.lit("src"), ((did * 7) % 20).cast("string"), F.lit(".example"))
    t2 = F.concat(F.lit("src"), ((did * 3) % 20).cast("string"), F.lit(".example"))
    html = F.concat(
        F.lit('<a href="https://'), t1, F.lit('/p">x</a>'),
        F.when(did % 2 == 0, F.lit('<a href="/self">s</a>')).otherwise(F.lit("")),
        F.when(did % 5 == 0,
               F.concat(F.lit('<a href="//'), t2, F.lit('/q">y</a>'))
               ).otherwise(F.lit("")),
    )
    return docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example/doc/"),
            did.cast("string"),
        ).alias("url"),
        html.alias("html"),
    )


def q_anchor_texts(spark, sf_dir):
    """Anchor-text corpus (webgraph.extract_anchor_texts): aligned
    href/inner-text regexp extraction over the synthesized linked
    pages, resolved like extract_links — the classic target-page
    relevance signal. Oracle replays the synthesis arithmetically."""
    from ocr_poc_spark.operators.webgraph import extract_anchor_texts

    return extract_anchor_texts(_link_pages(spark, sf_dir))


def _anchor_profile_pages(spark, sf_dir):
    """Linked-page synthesis for the anchor-PROFILE query: unlike
    _link_pages (one fixed anchor letter per link form), every target
    collects SEVERAL competing anchor phrases with different counts —
    kw{doc_id % 3} from every linker, plus a 'hub' phrase from the
    doc_id % 4 == 0 linkers — so the per-dst top-k ranking, the
    (count desc, anchor asc) tie-break and the n_links total all have
    real work. Page urls live on hosts t0..t19, link targets on hosts
    t0..t24: targets t20+ exercise the in_corpus=false leg of the
    corpus join. The SQL oracle replays the arithmetic."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    did = F.col("doc_id")
    t = F.concat(
        F.lit("https://t"), (did % 25).cast("string"), F.lit(".example/page")
    )
    html = F.concat(
        F.lit('<a href="'), t, F.lit('">kw'), (did % 3).cast("string"),
        F.lit("</a>"),
        F.when(
            did % 4 == 0,
            F.concat(F.lit('<a href="'), t, F.lit('">hub</a>')),
        ).otherwise(F.lit("")),
    )
    url = F.concat(
        F.lit("https://t"), (did % 20).cast("string"), F.lit(".example/d/"),
        did.cast("string"),
    )
    return docs.select(url.alias("url"), html.alias("html"))


def q_anchor_profile(spark, sf_dir):
    """Per-target anchor profile (webgraph.anchor_profile): the raw
    anchor-text corpus aggregated to each dst's top-2 phrases with
    counts + total inbound links, host-joined back to the corpus
    (in_corpus). The heavy reduction is the partially-aggregable
    (dst, anchor) groupBy; the rank window sees only already-collapsed
    distinct-phrase rows — no global window. Exact integer counts;
    (n desc, anchor asc) rank deterministic."""
    from ocr_poc_spark.operators.webgraph import (
        anchor_profile,
        extract_anchor_texts,
    )

    pages = _anchor_profile_pages(spark, sf_dir)
    return anchor_profile(
        extract_anchor_texts(pages), top_k=2, docs=pages
    )


def q_host_graph(spark, sf_dir):
    """Host-level link graph (webgraph.extract_links + host_graph) over
    deterministically synthesized pages: href regexp extraction,
    absolute/scheme-relative/root-relative resolution, per-(src, dst)
    host counts. Map-only until the one uniform-host-key aggregation."""
    from ocr_poc_spark.operators.webgraph import extract_links, host_graph

    return host_graph(extract_links(_link_pages(spark, sf_dir)))


def q_host_pagerank(spark, sf_dir):
    """Fixed-3-iteration weighted PageRank over the host graph (self
    loops excluded) — the crawl-prioritization score. Deterministic by
    construction; the oracle replays all three iterations as chained
    CTEs; round-6 rides cross-engine summation-order ulps."""
    from ocr_poc_spark.operators.webgraph import (
        extract_links,
        host_graph,
        pagerank,
    )

    g = host_graph(extract_links(_link_pages(spark, sf_dir))).where(
        F.col("src_host") != F.col("dst_host")
    )
    pr = pagerank(g, n_iter=3, weight="n_links")
    return pr.select("host", F.round("rank", 6).alias("rank"))


def q_clean_text(spark, sf_dir):
    """Unicode cleanup pass (textstats.clean_text) over a
    deterministically dirtied corpus: every doc gets a control char,
    curly quotes, a zero-width space, doubled spaces and trailing
    blank-line soup injected identically in both engines; the oracle
    replays the full normalization with RE2 regexps ('g' flag — DuckDB
    regexp_replace is first-match-only without it)."""
    from ocr_poc_spark.operators.textstats import clean_text

    docs = _t(spark, sf_dir, "documents", spread=True).select(
        "doc_id",
        F.concat(
            F.lit("\u0001\u201cdirty\u201d "),
            F.regexp_replace("text", " ", "  "),
            F.lit("\u200b line\n\n\n\nend  "),
        ).alias("text"),
    )
    return clean_text(docs)


def q_gopher_rules(spark, sf_dir):
    """The published Gopher quality rules (textstats.gopher_rules; Rae
    et al. 2021 Appendix A): per-rule booleans + conjunctive keep over
    the documents table. Flags compare UNROUNDED ratios of exact
    integer counts (IEEE division bit-equal cross-engine); the ratio
    columns are round-6 display values."""
    from ocr_poc_spark.operators.textstats import gopher_rules

    return gopher_rules(
        _t(spark, sf_dir, "documents", spread=True), min_words=20
    )


def q_url_blocklist(spark, sf_dir):
    """Domain-blocklist filtering (curation.url_blocklist_filter): the
    first pass of a web pipeline. Documents become urls under
    '<source>.example' hosts with a subdomain variant for every 3rd
    doc; three blocked domains must remove their docs AND their
    subdomains, and nothing else. Map-only EXISTS over the broadcast
    blocklist literal."""
    from ocr_poc_spark.operators.curation import url_blocklist_filter

    docs = _t(spark, sf_dir, "documents", spread=True).select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 3 == 0, F.lit("https://cdn."))
            .otherwise(F.lit("https://")),
            F.col("source"), F.lit(".example/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    return url_blocklist_filter(
        docs, ["src3.example", "src7.example", "src12.example"]
    )


def q_corpus_split(spark, sf_dir):
    """Deterministic train/val/test assignment keyed on the HOST column
    (curation.split_corpus, by="source") — leakage-safe: every document
    of a host lands in the same split, so near-dup pages within a site
    never straddle the train/test boundary. Zero shuffle, no RNG; the
    oracle recomputes the md5-bucket thresholds exactly."""
    from ocr_poc_spark.operators.curation import split_corpus

    return split_corpus(
        _t(spark, sf_dir, "documents", spread=True),
        {"train": 0.8, "val": 0.1, "test": 0.1},
        by="source",
    ).select("doc_id", "source", "split")


def q_crawl_diff(spark, sf_dir):
    """Crawl-snapshot diff (operators/crawl.py): classify every url
    across two snapshots as added/deleted/changed/unchanged from sha2
    content digests — the batch primitive that lets a rolling crawl
    re-process only changed pages. Old = the documents table; new =
    a deterministic edit (drop doc_id%7==0, append ' v2' to text of
    doc_id%5==0, add doc_id%11==0 under shifted ids), derived
    identically in both engines."""
    from ocr_poc_spark.operators.crawl import crawl_diff

    docs = _t(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    did = F.col("doc_id")
    new = (
        docs.where(did % 7 != 0)
        .select(
            "doc_id",
            F.when(did % 5 == 0, F.concat(F.col("text"), F.lit(" v2")))
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            docs.where(did % 11 == 0).select(
                (did + 1000000).alias("doc_id"), "text"
            )
        )
    )
    return crawl_diff(docs, new, id_col="doc_id", content_col="text")


def q_asof_join(spark, sf_dir):
    """Backward as-of join (operators/timeseries.py): for every click
    event, the user's latest prior-or-same-instant view — the canonical
    time-series join Spark lacks natively, formulated as union +
    carry-forward window (one exchange, one sort, NO join node, output
    exactly |L| rows). Oracle = DuckDB's NATIVE ASOF LEFT JOIN — a
    fully independent implementation of the same semantics. Timestamps
    compare as integer microseconds."""
    from ocr_poc_spark.operators.timeseries import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = e.where(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        clicks, views, on="user_id", ts_col="ts", tie_col="event_id"
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(F.col("ts_asof").cast("timestamp")).alias("view_ts_us"),
        F.col("event_id_asof").alias("view_event_id"),
        F.round("value_asof", 6).alias("view_value"),
    )


def q_asof_forward(spark, sf_dir):
    """Forward as-of with tolerance: for every click, the user's NEXT
    view within one hour — reverse-time carry-forward scan, matches
    farther than the tolerance nulled (merge_asof semantics, never
    next-nearest). Oracle = DuckDB ASOF LEFT JOIN with the inequality
    flipped (l.ts <= r.ts) and a post-join tolerance CASE."""
    from ocr_poc_spark.operators.timeseries import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = e.where(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        clicks, views, on="user_id", ts_col="ts", tie_col="event_id",
        direction="forward", tolerance=3600.0,
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(F.col("ts_asof").cast("timestamp")).alias("view_ts_us"),
        F.col("event_id_asof").alias("view_event_id"),
        F.round("value_asof", 6).alias("view_value"),
    )


def q_crawl_churn(spark, sf_dir):
    """Per-host churn rollup (crawl.crawl_churn_stats) — the recrawl-
    scheduling signal. Documents become urls 'https://<source>/doc/<id>'
    so hosts are the source column; the new snapshot applies the same
    deterministic edit as crawl_diff. Counts are exact; churn is a
    round-6 ratio."""
    from ocr_poc_spark.operators.crawl import crawl_churn_stats

    docs = _t(spark, sf_dir, "documents", spread=True).select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit("/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        "text",
        F.col("doc_id").alias("_did"),
    )
    did = F.col("_did")
    new = (
        docs.where(did % 7 != 0)
        .select(
            "url",
            F.when(did % 5 == 0, F.concat(F.col("text"), F.lit(" v2")))
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            docs.where(did % 11 == 0).select(
                F.concat(F.lit("https://recrawl.example/doc/"), did.cast("string")).alias("url"),
                "text",
            )
        )
    )
    return crawl_churn_stats(docs.select("url", "text"), new)


def q_corpus_quantiles(spark, sf_dir):
    """Distribution summary (textstats.corpus_quantiles, exact witness
    variant): per-language doc-length percentiles + mean over the
    documents table. Exact linear-interpolation percentile matches
    DuckDB quantile_cont bit-for-bit on integer inputs (round 6 rides
    any last-ulp divergence); the approx_percentile scale path is
    pytest-bounded against this witness."""
    from ocr_poc_spark.operators.textstats import corpus_quantiles

    return corpus_quantiles(
        _t(spark, sf_dir, "documents", spread=True),
        "n_chars",
        keys=["lang"],
        ps=(0.25, 0.5, 0.9, 0.99),
        exact=True,
    ).select(
        "lang", "n", F.round("mean", 6).alias("mean"),
        F.round("p25", 6).alias("p25"), F.round("p50", 6).alias("p50"),
        F.round("p90", 6).alias("p90"), F.round("p99", 6).alias("p99"),
    )


def q_bm25_serve(spark, sf_dir):
    """Serving-mode BM25: build the persistable inverted file
    (search.bm25_index — (term, doc_id, tf, dl) rows, never text) and
    answer a query from it alone, the index-once/query-many shape of
    minhash_band_index and IVF serving. Corpus stats (N, avg length)
    come from the index's distinct (doc_id, dl) pairs, i.e. documents
    with >= 1 token; the oracle recomputes BM25 under exactly those
    serving semantics."""
    from ocr_poc_spark.operators.search import bm25_index, bm25_topk

    docs = _t(spark, sf_dir, "documents", spread=True)
    # Materialized like the persisted artifact it models: the serving
    # query reads the index twice (corpus stats + term lookup) and
    # would otherwise re-tokenize the corpus per reference.
    idx = bm25_index(docs).localCheckpoint(eager=True)
    return bm25_topk(
        docs, "stream filter merge vector", top_n=20, index=idx
    )


def q_bpe_merges(spark, sf_dir):
    """Tokenizer vocabulary induction: learn 30 BPE merges from the
    corpus word frequencies (curation.bpe_learn — counts are exact
    integers; deterministic (count desc, pair asc) tie-break). Oracle =
    committed golden from the pure-Python mirror
    (scripts/make_goldens.py::golden_bpe; freshness-guarded)."""
    from ocr_poc_spark.operators.curation import bpe_learn

    # batch_merges=4: the tie-frontier guard makes batched acceptance
    # provably equal to sequential BPE whenever no created pair outranks
    # a later accepted one before the recount; verified BYTE-IDENTICAL
    # merges at sf0.001/0.01/0.1 (tests/test_optimizations_r06.py) while
    # cutting corpus passes ~30 -> ~18 (OPTIMIZATION_r06.md).
    return bpe_learn(
        _t(spark, sf_dir, "documents", spread=True), n_merges=30,
        batch_merges=4,
    )


def q_chunk_bpe(spark, sf_dir):
    """LEARNED-tokenizer chunking: the greedy longest-match budget of
    chunk_subword, but over the vocab bpe_learn induces from THIS
    corpus (30 merged symbols; single-char fallback covers the rest) —
    train-tokenizer -> size-training-sequences, composed. The merge
    list is golden-pinned (bpe_merges), so the oracle reads the SAME
    learned vocab from the committed golden parquet and replays the
    greedy rule with a recursive CTE."""
    from ocr_poc_spark.operators.curation import bpe_learn, chunk_documents

    # batch_merges=4: byte-identical merges, ~40% fewer corpus passes
    # (see q_bpe_merges / OPTIMIZATION_r06.md).
    merges = bpe_learn(
        _t(spark, sf_dir, "documents", spread=True), n_merges=30,
        batch_merges=4,
    )
    vocab = [r["merged"] for r in merges.collect()]  # 30 rows, bounded
    return chunk_documents(
        _t(spark, sf_dir, "documents", spread=True),
        chunk_tokens=32, stride=32, tokenizer="subword", vocab=vocab,
    )


def q_vocab_topk(spark, sf_dir):  # corpus vocabulary stats
    from ocr_poc_spark.operators.curation import vocab_topk

    return vocab_topk(
        _t(spark, sf_dir, "documents", spread=True),
        top_k=50, min_count=2, id_col="doc_id",
    )


def q_host_cap(spark, sf_dir):  # domain-balance cap, stable hash order
    from ocr_poc_spark.operators.curation import host_cap

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return host_cap(d, max_per_host=5, host_col="source")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # REGISTRY ORDER IS LOAD-BEARING: the driver's correctness gate
    # verifies the FIRST 50 entries only.  Round-5 rotation (VERDICT r4
    # item 1): the first block keeps one architecturally load-bearing,
    # already-driver-green representative per family; the second block
    # promotes every query that had no driver-verified row in
    # CORRECTNESS_r01..r04 (the round-4 suite) plus the new round-5
    # queries.  The tail holds near-duplicate variants of families whose
    # representative is (or was, in r01-r04) driver-green — they remain
    # fully oracle-checked by scripts/oracle_check.py and pytest; see
    # README "Correctness evidence map".
    return {
        # -- block 1: driver-green representatives kept in the window --
        "corpus_pipeline": q_corpus_pipeline,
        "dedup_minhash": q_dedup_minhash,
        "dedup_incremental": q_dedup_incremental,
        "dedup_components": q_dedup_components,
        "components_incremental": q_components_incremental,
        "dedup_simhash": q_dedup_simhash,
        "minhash_estimate": q_minhash_estimate,
        "ann_ivf_bcast": q_ann_ivf_bcast,
        "strip_boilerplate": q_strip_boilerplate,
        "decontaminate_spans": q_decontaminate_spans,
        "benchmark_coverage": q_benchmark_coverage,
        "corpus_grep": q_corpus_grep,
        "fuzzy_anchor_join": q_fuzzy_anchor_join,
        "proximity_binding": q_proximity_binding,
        "band_join": q_band_join,
        # -- block 2: promoted (no driver row before r5) + new in r5 --
        "extract_pipeline": q_extract_pipeline,
        "pack_subword": q_pack_subword,
        "bpe_merges": q_bpe_merges,
        "chunk_bpe": q_chunk_bpe,
        "bm25_serve": q_bm25_serve,
        "hybrid_search": q_hybrid_search,
        "anchor_profile": q_anchor_profile,
        "host_graph": q_host_graph,
        "host_pagerank": q_host_pagerank,
        "clean_text": q_clean_text,
        "gopher_rules": q_gopher_rules,
        "url_blocklist": q_url_blocklist,
        "corpus_split": q_corpus_split,
        "crawl_diff": q_crawl_diff,
        "crawl_frontier": q_crawl_frontier,
        "ann_quantized": q_ann_quantized,
        "ann_recall": q_ann_recall,
        "cluster_profile": q_cluster_profile,
        "dsir_weights": q_dsir_weights,
        "dsir_resample": q_dsir_resample,
        "semantic_dedup_bcast": q_semantic_dedup_bcast,
        "asof_join": q_asof_join,
        "corpus_quantiles": q_corpus_quantiles,
        "ccnet_buckets": q_ccnet_buckets,
        "kn_perplexity": q_kn_perplexity,
        "tokenizer_fertility": q_tokenizer_fertility,
        "winnow_fingerprints": q_winnow_fingerprints,
        "repeat_line_dedup": q_repeat_line_dedup,
        "span_dedup": q_span_dedup,
        "temperature_sample": q_temperature_sample,
        "shuffle_shards": q_shuffle_shards,
        "quality_classifier": q_quality_classifier,
        "bitext_mine": q_bitext_mine,
        "bitext_url": q_bitext_url,
        "robots_filter": q_robots_filter,
        # -- tail: demoted variants (driver-green in r01-r04 or same-
        #    family siblings of in-window queries; still covered by
        #    scripts/oracle_check.py + pytest every round) --
        "semantic_dedup": q_semantic_dedup,
        "corpus_pipeline_splits": q_corpus_pipeline_splits,
        "chunk_subword": q_chunk_subword,
        "pack_sequences": q_pack_sequences,
        "vocab_topk": q_vocab_topk,
        "crawl_churn": q_crawl_churn,
        "chunk_documents": q_chunk_documents,
        "bm25_search": q_bm25_search,
        "text_dedup_e2e": q_text_dedup_e2e,
        "ann_lsh": q_ann_lsh,
        "anchor_texts": q_anchor_texts,
        "stratified_sample": q_stratified_sample,
        "host_cap": q_host_cap,
        "salted_agg": q_salted_agg,
        "dedup_exact": q_dedup_exact,
        "normalize_urls": q_normalize_urls,
        "decontaminate": q_decontaminate,
        "asof_forward": q_asof_forward,
        "embedding_near_dup": q_embedding_near_dup,
        "embedding_topk": q_embedding_topk,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "quality_gate": q_quality_gate,
        "noise_filter": q_noise_filter,
        "regex_claims": q_regex_claims,
        "rank_window": q_rank_window,
        "elimination_antijoin": q_elimination_antijoin,
        "pivot_consolidation": q_pivot_consolidation,
        "sessionization": q_sessionization,
        "ann_ivf": q_ann_ivf,
        "ann_ivf_lookup": q_ann_ivf_lookup,
        "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
        "lang_id": q_lang_id,
        "token_stats": q_token_stats,
        "quality_score": q_quality_score,
        "fingerprint": q_fingerprint,
        "hash_embed": q_hash_embed,
        "text_embed_near_dup": q_text_embed_near_dup,
        "pii_scrub": q_pii_scrub,
        "repetition_stats": q_repetition_stats,
        "lm_perplexity": q_lm_perplexity,
        "tpch_pricing": q_tpch_pricing,
        "tpch_part_profit": q_tpch_part_profit,
        "tpch_top_orders": q_tpch_top_orders,
        "region_rollup": q_region_rollup,
        "range_join": q_range_join,
        "zone_transform": q_zone_transform,
        "multimodal_decode": q_multimodal_decode,
        "json_props": q_json_props,
        "set_ops": q_set_ops,
        "boilerplate_shingles": q_boilerplate_shingles,
        "corpus_pipeline_stats": q_corpus_pipeline_stats,
    }


_WORDS_SQL = "string_split_regex(lower(trim(text)), '\\s+')"

# Shared hashing-trick embedding fragments (must mirror
# textstats.hash_embedding with dim=16): ONE definition interpolated
# into every embedding oracle — a drifting copy would make one oracle
# silently test a different embedding.
_EMBED_CELLS_SQL = f"""tok AS (
              SELECT doc_id, ('0x' || substr(md5(w.w), 1, 15))::BIGINT AS h
              FROM documents, unnest({_WORDS_SQL}) AS w(w)
              WHERE len(w.w) > 0),
            cell AS (
              SELECT doc_id, h & 15 AS pos,
                     SUM(CASE WHEN (h >> 4) & 1 = 1 THEN -1 ELSE 1 END) AS s
              FROM tok GROUP BY doc_id, pos)"""
_EMBED_VEC_SQL = f"""{_EMBED_CELLS_SQL},
            full_cells AS (
              SELECT d.doc_id, p.pos, CAST(COALESCE(c.s, 0) AS DOUBLE) AS val
              FROM (SELECT DISTINCT doc_id FROM documents) d
              CROSS JOIN (SELECT unnest(range(16)) AS pos) p
              LEFT JOIN cell c ON c.doc_id = d.doc_id AND c.pos = p.pos),
            vec AS (
              SELECT doc_id, list(val ORDER BY pos) AS v
              FROM full_cells GROUP BY doc_id)"""
# Shared add-0.5 bigram-LM replay (see textstats.bigram_lm_scores):
# ends with lmppl(doc_id, n_bigrams, n_seen, cross_entropy, ppl).
# Counts are exact integers; log2/pow ride the 4-decimal margin.
_LM_PPL_SQL = f"""lmws AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
            lmbg AS (
              SELECT doc_id, w[i] AS w1, w[i+1] AS w2
              FROM lmws, unnest(range(1, len(w))) AS u(i)
              WHERE len(w) >= 2),
            lmbigc AS (SELECT w1, w2, COUNT(*) AS c_big FROM lmbg GROUP BY w1, w2),
            lmprec AS (SELECT w1, COUNT(*) AS c_pre FROM lmbg GROUP BY w1),
            lmvoc AS (SELECT COUNT(DISTINCT t) AS v
                      FROM (SELECT unnest(w) AS t FROM lmws) WHERE t <> ''),
            lmscored AS (
              SELECT b.doc_id,
                     c.c_big,
                     -log2((COALESCE(c.c_big, 0) + 0.5)
                           / (COALESCE(p.c_pre, 0) + 0.5 * (lmvoc.v + 1))) AS nll
              FROM lmbg b
              LEFT JOIN lmbigc c ON b.w1 = c.w1 AND b.w2 = c.w2
              LEFT JOIN lmprec p ON b.w1 = p.w1
              CROSS JOIN lmvoc),
            lmppl AS (
              SELECT doc_id,
                     COUNT(*)::BIGINT AS n_bigrams,
                     CAST(SUM(CASE WHEN c_big IS NOT NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_seen,
                     ROUND(SUM(nll) / COUNT(*), 4) AS cross_entropy,
                     ROUND(pow(2.0, SUM(nll) / COUNT(*)), 4) AS ppl
              FROM lmscored GROUP BY doc_id)"""


def _fertility_sql() -> str:
    """Recursive-CTE replay of tokenizer_fertility: per-word greedy
    longest-prefix token counts (same max(len) correlated-subquery
    trick as _subword_chunks_sql), per-doc sums, NULL-guarded ratios.
    Vocab = the SAME committed SUBWORD_VOCAB."""
    from ocr_poc_spark.functions.subword import SUBWORD_VOCAB

    vocab_rows = ", ".join(f"('{v}')" for v in SUBWORD_VOCAB)
    return f"""
            WITH RECURSIVE voc(v) AS (VALUES {vocab_rows}),
            tw AS (SELECT doc_id,
                          COALESCE(list_filter({_WORDS_SQL},
                                               x -> len(x) > 0), []) AS w
                   FROM documents),
            wrd AS (SELECT doc_id, CAST(j AS INTEGER) AS widx, w[j+1] AS word
                    FROM tw, unnest(range(0, len(w))) AS u(j)),
            tk(doc_id, widx, word, pos, n) AS (
              SELECT doc_id, widx, word, 0, 0 FROM wrd
              UNION ALL
              SELECT doc_id, widx, word,
                     pos + COALESCE((SELECT max(len(v)) FROM voc
                                     WHERE substr(word, pos + 1, len(v)) = v), 1),
                     n + 1
              FROM tk WHERE pos < len(word)),
            wc AS (SELECT doc_id, widx, max(n) AS c
                   FROM tk GROUP BY doc_id, widx),
            agg AS (SELECT doc_id, COUNT(*) AS n_words, SUM(c) AS n_subtokens
                    FROM wc GROUP BY doc_id),
            base AS (SELECT doc_id, len(array_to_string(w, '')) AS n_chars
                     FROM tw)
            SELECT b.doc_id,
                   CAST(COALESCE(a.n_words, 0) AS BIGINT) AS n_words,
                   CAST(COALESCE(a.n_subtokens, 0) AS BIGINT) AS n_subtokens,
                   CASE WHEN COALESCE(a.n_words, 0) > 0
                        THEN ROUND(a.n_subtokens / a.n_words, 6) END AS fertility,
                   CASE WHEN COALESCE(a.n_subtokens, 0) > 0
                        THEN ROUND(b.n_chars / a.n_subtokens, 6) END
                     AS chars_per_token
            FROM base b LEFT JOIN agg a USING (doc_id)
        """


def _subword_chunks_sql() -> str:
    """Recursive-CTE replay of the greedy subword tokenizer over 32/32
    word windows: ends with swch(doc_id, chunk_idx, chunk_text,
    n_tokens). Vocab interpolated from the SAME committed list the
    Spark HOFs use (functions/subword.py) — one definition."""
    from ocr_poc_spark.functions.subword import SUBWORD_VOCAB

    vocab_rows = ", ".join(f"('{v}')" for v in SUBWORD_VOCAB)
    return f"""voc(v) AS (VALUES {vocab_rows}),
    swt AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents
            WHERE length(trim(text)) > 0),
    swn AS (SELECT doc_id, w,
                   1 + CAST(ceil(greatest(len(w) - 32, 0) / 32.0) AS INTEGER) AS nc
            FROM swt),
    swcw AS (
      SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
             w[i*32 + 1 : i*32 + 32] AS cws,
             array_to_string(w[i*32 + 1 : i*32 + 32], ' ') AS chunk_text
      FROM swn, unnest(range(0, nc)) AS u(i)),
    swwrd AS (
      SELECT doc_id, chunk_idx, CAST(j AS INTEGER) AS widx, cws[j+1] AS word
      FROM swcw, unnest(range(0, len(cws))) AS uu(j)),
    swtk(doc_id, chunk_idx, widx, word, pos, n) AS (
      SELECT doc_id, chunk_idx, widx, word, 0, 0 FROM swwrd
      UNION ALL
      SELECT doc_id, chunk_idx, widx, word,
             pos + COALESCE((SELECT max(len(v)) FROM voc
                             WHERE substr(word, pos + 1, len(v)) = v), 1),
             n + 1
      FROM swtk WHERE pos < len(word)),
    swwc AS (SELECT doc_id, chunk_idx, widx, max(n) AS c
             FROM swtk GROUP BY doc_id, chunk_idx, widx),
    swsum AS (SELECT doc_id, chunk_idx, CAST(SUM(c) AS INTEGER) AS n_tokens
              FROM swwc GROUP BY doc_id, chunk_idx),
    swch AS (SELECT c.doc_id, c.chunk_idx, c.chunk_text, s.n_tokens
             FROM swcw c JOIN swsum s
               ON c.doc_id = s.doc_id AND c.chunk_idx = s.chunk_idx)"""


# Full-pipeline composition chain (corpus_pipeline[_stats]): the whole
# extract -> gate -> dedup -> components -> keeper -> host-cap chain as
# one reusable CTE prefix. Quality terms are copied VERBATIM (same
# float addition order) from the extract_pipeline derivation above;
# extracted text = the document text (= the author field on this
# corpus, see _corpus_chain). Ends with: ext(url, lang, text, q6),
# gated, p (dup pairs), comp, kept, capped.
_CORPUS_CHAIN_SQL = f"""d0 AS (
      SELECT 'https://docs.example/' || lang || '/' || doc_id AS url,
             lang, text,
             doc_id % 28 + 1 AS day, doc_id % 12 + 1 AS month,
             doc_id % 20 AS writer, doc_id % 40 + 2 AS rt, doc_id
      FROM documents),
    sc AS (
      SELECT *,
        ROUND(0.7::DOUBLE + 0.3::DOUBLE * LEAST(1.0::DOUBLE,
          (4 + LENGTH(CAST(doc_id AS VARCHAR)))::DOUBLE / 40.0::DOUBLE), 4) AS s_docn,
        ROUND(0.7::DOUBLE + 0.3::DOUBLE * LEAST(1.0::DOUBLE,
          (7 + LENGTH(CAST(writer AS VARCHAR)))::DOUBLE / 40.0::DOUBLE), 4) AS s_writer,
        ROUND(0.7::DOUBLE + 0.3::DOUBLE * LEAST(1.0::DOUBLE,
          (6 + LENGTH(CAST(day AS VARCHAR)) + LENGTH(CAST(month AS VARCHAR)))::DOUBLE / 40.0::DOUBLE), 4) AS s_date,
        ROUND(0.7::DOUBLE + 0.3::DOUBLE * LEAST(1.0::DOUBLE,
          (9 + LENGTH(CAST(rt AS VARCHAR)))::DOUBLE / 40.0::DOUBLE), 4) AS s_rt,
        ROUND(0.7::DOUBLE + 0.3::DOUBLE * LEAST(1.0::DOUBLE,
          LENGTH(text)::DOUBLE / 40.0::DOUBLE), 4) AS s_text
      FROM d0),
    ext AS (
      SELECT url, lang, text,
             ROUND((s_docn + 0.219::DOUBLE + 0.219::DOUBLE + 0.2213::DOUBLE
                    + 0.805::DOUBLE + s_docn + 0.745::DOUBLE + s_writer
                    + s_date + s_rt + s_text + 0.8425::DOUBLE
                    + 0.246::DOUBLE) / 13.0::DOUBLE, 6) AS q6
      FROM sc),
    gated AS (
      SELECT url, lang, text FROM ext
      WHERE q6 >= 0.6235 AND lang IN ('en', 'fr', 'de', 'es')),
    shing AS (
      SELECT url, lang, text,
             list_distinct(list_transform(
                 range(1, greatest(len({_WORDS_SQL})-2, 0)+1),
                 i -> array_to_string(({_WORDS_SQL})[i:i+2], ' '))) AS shg
      FROM gated),
    p AS (
      SELECT a.url AS id_a, b.url AS id_b
      FROM shing a JOIN shing b ON a.url < b.url
      WHERE len(list_intersect(a.shg, b.shg))::DOUBLE
              / len(list_distinct(a.shg || b.shg)) >= 0.5),
    e AS (SELECT id_a AS u, id_b AS v FROM p
          UNION SELECT id_b, id_a FROM p),
    reach(u, v) AS (
      SELECT u, v FROM e
      UNION
      SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u
        WHERE e2.v != r.u),
    comp AS (SELECT u AS url, least(u, min(v)) AS cid FROM reach GROUP BY u),
    kept AS (
      SELECT g.url, g.lang, g.text FROM gated g
      LEFT JOIN comp c ON g.url = c.url
      WHERE c.cid IS NULL OR c.cid = g.url),
    capped AS (
      SELECT url, lang, text FROM (
        SELECT url, lang, text,
               ROW_NUMBER() OVER (
                 PARTITION BY lang
                 ORDER BY ('0x' || substr(md5(url), 1, 15))::BIGINT ASC,
                          url ASC) AS hr
        FROM kept)
      WHERE hr <= 80),
    ch AS (
      SELECT url, CAST(i AS INTEGER) AS chunk_idx,
             len(w[i*32 + 1 : i*32 + 32]) AS n_tokens
      FROM (SELECT url, w,
                   1 + CAST(ceil(greatest(len(w) - 32, 0) / 32.0) AS INTEGER) AS nc
            FROM (SELECT url, {_WORDS_SQL} AS w FROM capped
                  WHERE length(trim(text)) > 0)),
           unnest(range(0, nc)) AS u(i)),
    pk AS (
      SELECT url, chunk_idx, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
                 ORDER BY url, chunk_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS BIGINT) AS st
      FROM ch WHERE n_tokens > 0),
    packed AS (
      SELECT CAST(s AS BIGINT) AS seq_id,
             CAST(GREATEST(st, s*100) - s*100 AS INTEGER) AS tok_start,
             CAST(LEAST(st + n_tokens, (s+1)*100) - s*100 AS INTEGER) AS tok_end,
             url, chunk_idx,
             CAST(GREATEST(st, s*100) - st AS INTEGER) AS chunk_tok_start,
             CAST(LEAST(st + n_tokens, (s+1)*100) - st AS INTEGER) AS chunk_tok_end
      FROM pk, unnest(range(st // 100, (st + n_tokens - 1) // 100 + 1)) AS u(s))"""

_STOP = {
    "en": "['the','a','of','and','to','in','is','that','it','for']",
    "fr": "['le','la','les','de','des','et','un','une','que','pour']",
    "de": "['der','die','das','und','ein','eine','zu','mit','ist','den']",
    "es": "['el','la','los','de','y','un','una','que','es','para']",
}



def _semantic_dedup_oracle(centroids: list[list[float]]) -> str:
    """SemDeDup oracle SQL shared by semantic_dedup (8 fixture
    centroids) and semantic_dedup_bcast (80 production-shaped
    centroids): integer-exact recompute of the whole cluster-then-
    dedup chain — nearest-centroid assignment ((dist, ci) order),
    in-cluster cosine pairs at 0.99, recursive-CTE closure, min-id
    keeper."""
    cent_rows = ", ".join(
        "({}, [{}])".format(i, ", ".join(f"{x:.1f}" for x in c))
        for i, c in enumerate(centroids)
    )
    return f"""
            WITH RECURSIVE {_EMBED_VEC_SQL},
            cent(ci, cv) AS (VALUES {cent_rows}),
            assign AS (
              SELECT doc_id, ci FROM (
                SELECT v.doc_id, t.ci,
                       ROW_NUMBER() OVER (
                         PARTITION BY v.doc_id
                         ORDER BY list_sum(list_transform(range(1, 17),
                             i -> (v.v[i] - t.cv[i]) * (v.v[i] - t.cv[i]))),
                           t.ci) AS rn
                FROM vec v CROSS JOIN cent t)
              WHERE rn = 1),
            p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM vec a JOIN assign aa ON aa.doc_id = a.doc_id
                   JOIN assign bb ON aa.ci = bb.ci
                   JOIN vec b ON b.doc_id = bb.doc_id AND a.doc_id < b.doc_id
              WHERE list_sum(list_transform(range(1, 17), i -> a.v[i] * b.v[i]))
                      / NULLIF(
                          sqrt(list_sum(list_transform(range(1, 17), i -> a.v[i] * a.v[i])))
                          * sqrt(list_sum(list_transform(range(1, 17), i -> b.v[i] * b.v[i]))),
                          0)
                    >= 0.99),
            e AS (SELECT id_a AS u, id_b AS v FROM p
                  UNION SELECT id_b, id_a FROM p),
            reach(u, v) AS (
              SELECT u, v FROM e
              UNION
              SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u
                WHERE e2.v != r.u),
            comp AS (
              SELECT u AS doc_id, least(u, min(v)) AS component_id
              FROM reach GROUP BY u)
            SELECT c.doc_id, CAST(a2.ci AS INTEGER) AS cluster,
                   c.component_id, (c.doc_id = c.component_id) AS keeper
            FROM comp c JOIN assign a2 ON a2.doc_id = c.doc_id
        """



def oracle_sql() -> dict[str, str]:
    lang_hits = ", ".join(
        f"CAST(len(list_intersect(list_distinct({_WORDS_SQL}), {_STOP[lang]}))"
        f" AS INTEGER) AS hits_{lang}"
        for lang in ["en", "fr", "de", "es"]
    )
    return {
        "quality_gate": """
            SELECT source, lang, COUNT(*) AS n_docs,
                   ROUND(AVG(n_chars), 4) AS avg_chars,
                   CAST(SUM(CASE WHEN n_chars > 300 THEN 1 ELSE 0 END) AS BIGINT) AS n_good
            FROM documents GROUP BY source, lang
            HAVING COUNT(*) >= 5 AND ROUND(AVG(n_chars), 4) >= 100
        """,
        "noise_filter": """
            SELECT doc_id, lang, n_chars FROM documents
            WHERE n_chars >= 150 AND length(trim(text)) > 0 AND lang <> 'zh'
        """,
        "regex_claims": """
            SELECT source, MIN(doc_id) AS claimed_id, COUNT(*) AS n_matches
            FROM documents WHERE regexp_matches(text, 'join [a-z]+ hash')
            GROUP BY source
        """,
        "rank_window": """
            SELECT source, doc_id, n_chars, CAST(rnk AS INTEGER) AS rnk FROM (
                SELECT source, doc_id, n_chars,
                       ROW_NUMBER() OVER (PARTITION BY source
                                          ORDER BY n_chars DESC, doc_id ASC) AS rnk
                FROM documents) WHERE rnk <= 3
        """,
        "elimination_antijoin": """
            SELECT d.doc_id, d.source FROM documents d
            WHERE NOT EXISTS (
                SELECT 1 FROM (
                    SELECT source, MIN(doc_id) AS doc_id FROM documents
                    WHERE regexp_matches(text, 'join [a-z]+ hash') GROUP BY source
                ) cl WHERE cl.source = d.source AND cl.doc_id = d.doc_id)
        """,
        "pivot_consolidation": """
            SELECT source,
                   CAST(SUM(CASE WHEN lang='en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
                   CAST(SUM(CASE WHEN lang='fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_fr,
                   CAST(SUM(CASE WHEN lang='de' THEN 1 ELSE 0 END) AS BIGINT) AS n_de,
                   CAST(SUM(CASE WHEN lang='es' THEN 1 ELSE 0 END) AS BIGINT) AS n_es,
                   CAST(SUM(CASE WHEN lang='zh' THEN 1 ELSE 0 END) AS BIGINT) AS n_zh
            FROM documents GROUP BY source
        """,
        "fuzzy_anchor_join": """
            SELECT a.anchor, COUNT(*) AS n_docs
            FROM documents d
            CROSS JOIN (VALUES ('src0'), ('src7'), ('sr12'), ('zrc3')) a(anchor)
            WHERE levenshtein(d.source, a.anchor) <= 1
            GROUP BY a.anchor
        """,
        "proximity_binding": """
            WITH clicks AS (
                SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_us
                FROM events WHERE event_type = 'click'),
            buys AS (
                SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_us,
                       value AS p_value
                FROM events WHERE event_type = 'purchase'),
            pairs AS (
                SELECT click_id, purchase_id,
                       ROUND(p_value / (1.0 + (p_us - c_us) / 1e6), 6) AS score
                FROM clicks JOIN buys USING (user_id)
                WHERE p_us > c_us AND p_us <= c_us + 3600000000)
            SELECT click_id, purchase_id, score FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY click_id
                         ORDER BY score DESC, purchase_id ASC) AS rn FROM pairs)
            WHERE rn = 1
        """,
        "sessionization": """
            SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions, COUNT(*) AS n_events FROM (
                SELECT user_id,
                       CASE WHEN lag_us IS NULL OR us - lag_us > 1800000000
                            THEN 1 ELSE 0 END AS new_sess
                FROM (SELECT user_id, epoch_us(ts) AS us,
                             LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY ts ASC, event_id ASC) AS lag_us
                      FROM events))
            GROUP BY user_id
        """,
        "dedup_exact": f"""
            SELECT keeper_id, n_copies FROM (
                SELECT array_to_string(({_WORDS_SQL})[1:5], ' ') AS prefix,
                       MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
                FROM documents GROUP BY prefix)
            WHERE n_copies > 1
        """,
        "dedup_ngram_jaccard": f"""
            WITH s AS (SELECT doc_id, source, lang,
                              list_distinct(({_WORDS_SQL})[1:30]) AS ws
                       FROM documents)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   ROUND(len(list_intersect(a.ws, b.ws))::DOUBLE
                         / len(list_distinct(a.ws || b.ws)), 6) AS jaccard
            FROM s a JOIN s b ON a.source = b.source AND a.lang = b.lang
                             AND a.doc_id < b.doc_id
            WHERE len(list_intersect(a.ws, b.ws))::DOUBLE
                  / len(list_distinct(a.ws || b.ws)) >= 0.6
        """,
        "embedding_topk": """
            WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                          FROM embeddings),
            pairs AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       list_dot_product(q.v, c.v)
                           / (sqrt(list_dot_product(q.v, q.v))
                              * sqrt(list_dot_product(c.v, c.v))) AS cosine
                FROM base q CROSS JOIN base c
                WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id)
            SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
                   ROUND(cosine, 6) AS cosine FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM pairs)
            WHERE rank <= 3
        """,
        "embedding_near_dup": """
            WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                          FROM embeddings)
            SELECT a.vec_id AS id_a, c.vec_id AS id_b,
                   ROUND(list_dot_product(a.v, c.v)
                         / (sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
            FROM base a JOIN base c ON a.vec_id < c.vec_id
            WHERE list_dot_product(a.v, c.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(c.v, c.v))) >= 0.45
        """,
        # embedding_near_dup_lsh: exact all-pairs recompute over the SAME
        # planted-duplicate augmentation the Spark query builds (scaled
        # copies under vec_id+100000). Because x2.0 scaling is IEEE-exact,
        # the LSH path provably emits exactly this set (see the query
        # docstring); any bucketing / dedup / join-back / threshold bug
        # shows up as a hash mismatch here.
        "embedding_near_dup_lsh": """
            WITH aug AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
                UNION ALL
                SELECT vec_id + 100000,
                       list_transform(CAST(embedding AS DOUBLE[]),
                                      x -> x * 2.0::DOUBLE)
                FROM embeddings
            )
            SELECT a.vec_id AS id_a, c.vec_id AS id_b,
                   ROUND(list_dot_product(a.v, c.v)
                         / (sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
            FROM aug a JOIN aug c ON a.vec_id < c.vec_id
            WHERE list_dot_product(a.v, c.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(c.v, c.v))) >= 0.95
        """,
        "lang_id": f"""
            WITH scored AS (SELECT doc_id, lang AS lang_true, {lang_hits}
                            FROM documents)
            SELECT doc_id, lang_true,
                   CASE WHEN greatest(hits_en, hits_fr, hits_de, hits_es) = 0
                        THEN 'unknown'
                        WHEN hits_en = greatest(hits_en, hits_fr, hits_de, hits_es) THEN 'en'
                        WHEN hits_fr = greatest(hits_en, hits_fr, hits_de, hits_es) THEN 'fr'
                        WHEN hits_de = greatest(hits_en, hits_fr, hits_de, hits_es) THEN 'de'
                        ELSE 'es' END AS lang_guess,
                   hits_en, hits_fr, hits_de, hits_es
            FROM scored
        """,
        "token_stats": f"""
            SELECT doc_id,
                   CAST(len({_WORDS_SQL}) AS INTEGER) AS n_tokens,
                   CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_subwords_est,
                   CAST(length(text) AS INTEGER) AS n_chars_calc,
                   ROUND(len(list_distinct({_WORDS_SQL}))::DOUBLE
                         / len({_WORDS_SQL}), 6) AS distinct_ratio
            FROM documents
        """,
        "quality_score": f"""
            SELECT doc_id,
                   CAST(length(text) AS INTEGER) AS n_chars_calc,
                   CAST(len({_WORDS_SQL}) AS INTEGER) AS n_words,
                   CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS INTEGER)
                       AS n_punct,
                   ROUND(0.4 * least(1.0, length(text) / 500.0)
                         + 0.3 * (len(list_intersect(list_distinct({_WORDS_SQL}),
                                      {_STOP['en']})) / 10.0)
                         + 0.3 * (1.0 - least(1.0,
                               (length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
                                / length(text)) * 10)), 6) AS quality
            FROM documents
        """,
        "fingerprint": """
            WITH n AS (
              SELECT doc_id,
                     regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm,
                     string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                                  ' ') AS w
              FROM documents)
            SELECT doc_id, md5(norm) AS md5_fp,
                   list_min(list_transform(
                       range(1, greatest(len(w) - 4, 0) + 1),
                       i -> ('0x' || substr(md5(array_to_string(w[i:i+4], ' ')),
                                            1, 15))::BIGINT)) AS winnow_fp
            FROM n
        """,
        "pii_scrub": r"""
            WITH aug AS (
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com from 10.1.'
                          || CAST(doc_id % 200 AS VARCHAR)
                          || '.7 call +1 555 01'
                          || CAST(doc_id % 90 + 10 AS VARCHAR) AS t
              FROM documents),
            s1 AS (SELECT doc_id,
                          CAST(len(regexp_extract_all(t,
                              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
                              AS n_emails,
                          regexp_replace(t,
                              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                              '<EMAIL>', 'g') AS t
                   FROM aug),
            s2 AS (SELECT doc_id, n_emails,
                          CAST(len(regexp_extract_all(t,
                              '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT)
                              AS n_ipv4,
                          regexp_replace(t,
                              '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
                              '<IP>', 'g') AS t
                   FROM s1)
            SELECT doc_id, n_emails, n_ipv4,
                   CAST(len(regexp_extract_all(t, '\+[0-9][0-9 ]{7,}[0-9]')) AS INT)
                       AS n_phones,
                   md5(regexp_replace(t, '\+[0-9][0-9 ]{7,}[0-9]', '<PHONE>', 'g'))
                       AS scrubbed_md5
            FROM s2
        """,
        "repetition_stats": f"""
            WITH d AS (
              SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
            t AS (
              SELECT doc_id, w,
                     CASE WHEN len(w) >= 3 THEN
                       list_transform(range(1, len(w) - 1),
                                      i -> array_to_string(w[i:i+2], ' '))
                     ELSE [] END AS tri
              FROM d)
            SELECT doc_id,
                   CAST(len(w) AS INT) AS n_words,
                   ROUND(CASE WHEN len(tri) > 0
                         THEN (len(tri) - len(list_distinct(tri)))::DOUBLE / len(tri)
                         ELSE 0.0 END, 6) AS dup_trigram_ratio,
                   ROUND(CASE WHEN len(w) > 0
                         THEN list_sum(list_transform(w, x -> length(x)))::DOUBLE / len(w)
                         ELSE 0.0 END, 6) AS mean_word_len,
                   CAST(COALESCE(list_max(list_transform(w, x -> length(x))), 0) AS INT)
                       AS max_word_len,
                   ROUND(CASE WHEN len(w) > 0
                         THEN len(list_filter(w, x -> regexp_matches(x, '^[a-z]+$')))::DOUBLE
                              / len(w)
                         ELSE 0.0 END, 6) AS alpha_word_ratio
            FROM t
        """,
        "tpch_pricing": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE)
                       AS sum_disc_price,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_part_profit": """
            SELECT n_name AS nation, p_brand AS brand,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE)
                       AS revenue,
                   COUNT(*) AS n_lines
            FROM lineitem
              JOIN part ON p_partkey = l_partkey
              JOIN supplier ON s_suppkey = l_suppkey
              JOIN nation ON n_nationkey = s_nationkey
            GROUP BY n_name, p_brand
        """,
        "tpch_top_orders": """
            SELECT o_orderkey, CAST(revenue_dec AS DOUBLE) AS revenue,
                   CAST(rnk AS INTEGER) AS rnk FROM (
                SELECT o_orderkey, revenue_dec,
                       ROW_NUMBER() OVER (ORDER BY revenue_dec DESC, o_orderkey ASC)
                           AS rnk
                FROM (SELECT o.o_orderkey,
                             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                                 * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS revenue_dec
                      FROM lineitem l
                      JOIN orders o ON l.l_orderkey = o.o_orderkey
                      JOIN customer c ON o.o_custkey = c.c_custkey
                      WHERE c.c_mktsegment = 'BUILDING'
                      GROUP BY o.o_orderkey))
            WHERE rnk <= 10
        """,
        "salted_agg": """
            SELECT event_type, COUNT(*) AS n_rows,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM events GROUP BY event_type
        """,
        "set_ops": """
            WITH long_docs AS (SELECT doc_id FROM documents WHERE n_chars > 250),
                 en_docs AS (SELECT doc_id FROM documents WHERE lang = 'en'),
                 u AS (
                   SELECT doc_id, 'long_and_en' AS which
                   FROM (SELECT doc_id FROM long_docs INTERSECT SELECT doc_id FROM en_docs)
                   UNION ALL
                   SELECT doc_id, 'long_not_en' AS which
                   FROM (SELECT doc_id FROM long_docs EXCEPT ALL SELECT doc_id FROM en_docs)
                 )
            SELECT which, COUNT(*) AS n_docs, MIN(doc_id) AS min_id
            FROM u GROUP BY which
        """,
        "json_props": """
            SELECT event_type, COUNT(*) AS n_events,
                   MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
                   MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
                   CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
                       AS sum_k
            FROM events GROUP BY event_type
        """,
        "range_join": """
            SELECT z.zone, COUNT(*) AS n_events,
                   CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM events e
            CROSS JOIN (VALUES ('tiny', 0.0, 5.0), ('small', 5.0, 25.0),
                               ('mid', 25.0, 100.0), ('large', 100.0, 1000.0))
                 z(zone, lo, hi)
            WHERE e.value >= z.lo AND e.value < z.hi
            GROUP BY z.zone
        """,
        "band_join": """
            WITH errs AS (SELECT event_id AS err_id, user_id, epoch_us(ts) AS e_us
                          FROM events WHERE event_type = 'error'),
            views AS (SELECT event_id AS view_id, user_id, epoch_us(ts) AS v_us,
                             value AS v_value
                      FROM events WHERE event_type = 'view'),
            j AS (SELECT err_id, view_id,
                         ROUND(CASE WHEN v_us > e_us THEN v_value * 1.5
                                    ELSE v_value END, 6) AS boosted
                  FROM errs JOIN views USING (user_id)
                  WHERE abs(v_us - e_us) <= 300000000)
            SELECT err_id, view_id, boosted FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY err_id
                         ORDER BY boosted DESC, view_id ASC) AS rn FROM j)
            WHERE rn = 1
        """,
        "region_rollup": """
            SELECT r.r_name, COUNT(*) AS n_items,
                   CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_name
        """,
        "multimodal_decode": """
            WITH m AS (
              SELECT doc_id AS media_id,
                     ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
                     (doc_id % 7 = 0) AS raw,
                     CAST(doc_id % 100 + 1 AS INT) AS w,
                     CAST(doc_id % 50 + 1 AS INT) AS h,
                     CAST(doc_id % 10 + 1 AS INT) AS nf,
                     text,
                     list_transform(range(1, length(text) + 1),
                                    i -> ascii(text[i])) AS codes
              FROM documents)
            SELECT media_id, kind,
                   CASE WHEN raw THEN 'unsupported' ELSE 'ok' END AS status,
                   CASE WHEN raw THEN NULL ELSE w END AS width,
                   CASE WHEN raw THEN NULL ELSE h END AS height,
                   CASE WHEN raw THEN NULL ELSE nf END AS n_frames,
                   CAST(CASE WHEN raw THEN length(text)
                             ELSE length(text) + 11 END AS BIGINT) AS n_bytes,
                   CASE WHEN raw THEN NULL
                        ELSE CAST(length(text) AS DOUBLE) END AS f_len,
                   CASE WHEN raw THEN NULL
                        ELSE ROUND(COALESCE(list_sum(codes), 0)::DOUBLE
                                   / greatest(length(text), 1), 6) END AS f_mean,
                   CASE WHEN raw THEN NULL
                        ELSE CAST(COALESCE(list_min(codes), 0) AS DOUBLE) END AS f_min,
                   CASE WHEN raw THEN NULL
                        ELSE CAST(COALESCE(list_max(codes), 0) AS DOUBLE) END AS f_max
            FROM m
        """,
        "zone_transform": """
            WITH b AS (
              SELECT 'u' || user_id AS url, CAST(event_id AS INT) AS idx,
                     event_type AS text,
                     (event_id % 37) * 10.0 AS x, (event_id % 23) * 12.0 AS y
              FROM events),
            bounds AS (SELECT url, MIN(x) AS min_x, MAX(x) AS max_x,
                              MIN(y) AS min_y, MAX(y) AS max_y
                       FROM b GROUP BY url),
            a2 AS (SELECT * FROM (
                     SELECT url, x, y,
                            ROW_NUMBER() OVER (PARTITION BY url ORDER BY idx ASC) AS rn
                     FROM b) WHERE rn <= 2),
            piv AS (SELECT url,
                           MIN(CASE WHEN rn=1 THEN x END) AS p1x,
                           MIN(CASE WHEN rn=1 THEN y END) AS p1y,
                           MIN(CASE WHEN rn=2 THEN x END) AS p2x,
                           MIN(CASE WHEN rn=2 THEN y END) AS p2y,
                           COUNT(*) AS n_anchors
                    FROM a2 GROUP BY url),
            tr AS (SELECT bounds.url, min_x AS offset_x, min_y AS offset_y,
                          max_x - min_x AS width, max_y - min_y AS height,
                          COALESCE(CASE
                            WHEN n_anchors < 2 THEN 0.0
                            WHEN abs(atan2(p2y-p1y, p2x-p1x)) < pi()/4
                                 THEN atan2(p2y-p1y, p2x-p1x)
                            WHEN abs(atan2(p2y-p1y, p2x-p1x) - pi()/2) < pi()/4
                                 THEN atan2(p2y-p1y, p2x-p1x) - pi()/2
                            ELSE 0.0 END, 0.0) AS rotation
                   FROM bounds LEFT JOIN piv ON bounds.url = piv.url),
            g AS (SELECT b.url, z.field, b.idx, b.text, b.x, b.y,
                         (b.idx % 13 + 1) / 13.0 AS score, z.anchors,
                         offset_x + width/2 AS cx, offset_y + height/2 AS cy,
                         cos(-rotation) AS cr, sin(-rotation) AS sr,
                         z.zx*width + offset_x AS xa1, z.zy*height + offset_y AS ya1,
                         (z.zx+z.zw)*width + offset_x AS xa2,
                         (z.zy+z.zh)*height + offset_y AS ya2
                  FROM b JOIN tr ON b.url = tr.url
                  CROSS JOIN (VALUES ('hot',0.0,0.0,0.5,0.5,['click']),
                                     ('cold',0.5,0.5,0.5,0.5,[]))
                       z(field, zx, zy, zw, zh, anchors)),
            r AS (SELECT url, field, idx, text, x, y, score, anchors,
                         cr*(xa1-cx) - sr*(ya1-cy) + cx AS x1r,
                         sr*(xa1-cx) + cr*(ya1-cy) + cy AS y1r,
                         cr*(xa2-cx) - sr*(ya2-cy) + cx AS x2r,
                         sr*(xa2-cx) + cr*(ya2-cy) + cy AS y2r
                  FROM g),
            zz AS (SELECT url, field, idx, text, x, y, score, anchors,
                          least(x1r,x2r) - (greatest(x1r,x2r)-least(x1r,x2r))*0.2 AS x1,
                          greatest(x1r,x2r) + (greatest(x1r,x2r)-least(x1r,x2r))*0.2 AS x2,
                          least(y1r,y2r) - (greatest(y1r,y2r)-least(y1r,y2r))*0.2 AS y1,
                          greatest(y1r,y2r) + (greatest(y1r,y2r)-least(y1r,y2r))*0.2 AS y2
                   FROM r),
            cand AS (SELECT url, field, idx, text,
                            score * (CASE WHEN sqrt(power(x2-x1,2)+power(y2-y1,2)) > 0
                                     THEN 1.0 - sqrt(power(x-(x1+x2)/2, 2)
                                                     + power(y-(y1+y2)/2, 2))
                                          / sqrt(power(x2-x1,2)+power(y2-y1,2))
                                     ELSE 1.0 END) AS zscore
                     FROM zz
                     WHERE length(trim(text)) > 0
                       AND x >= x1 AND x <= x2 AND y >= y1 AND y <= y2
                       AND len(list_filter(anchors,
                               a -> position(upper(a) IN upper(text)) > 0)) = 0)
            SELECT url, field, idx, text, ROUND(zscore, 6) AS zscore FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY url, field
                         ORDER BY zscore DESC, idx ASC) AS rn FROM cand)
            WHERE rn = 1
        """,
        # MinHash+LSH oracle: the EXACT all-pairs shingle Jaccard — fully
        # independent of the Spark hash path. The LSH banding's recall on
        # this corpus is exactly 1.0 (all true pairs have jaccard >= 0.9,
        # band-collision p ~ 1-4e-4), and the verify step filters on the
        # exact jaccard, so LSH output == exact output. A banding recall
        # miss would surface here as a row-count mismatch — that is the
        # point of the oracle (it caught the seeded-minhash bug).
        "dedup_minhash": f"""
            WITH s AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                         range(1, greatest(len({_WORDS_SQL})-2, 0)+1),
                         i -> array_to_string(({_WORDS_SQL})[i:i+2], ' '))) AS sh
              FROM documents),
            p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     len(list_intersect(a.sh, b.sh))::DOUBLE
                         / len(list_distinct(a.sh || b.sh)) AS j
              FROM s a JOIN s b ON a.doc_id < b.doc_id)
            SELECT id_a, id_b, ROUND(j, 6) AS jaccard FROM p WHERE j >= 0.5
        """,
        # Hashing-trick embedding: bucket = low-4 hash bits, sign = bit 4
        # of the same md5-hex15 hash; INTEGER sums, so every cell is
        # exact in both engines.
        "hash_embed": f"""
            WITH {_EMBED_CELLS_SQL}
            SELECT d.doc_id, CAST(p.pos AS INTEGER) AS pos,
                   CAST(COALESCE(c.s, 0) AS BIGINT) AS val
            FROM (SELECT DISTINCT doc_id FROM documents) d
            CROSS JOIN (SELECT unnest(range(16)) AS pos) p
            LEFT JOIN cell c ON c.doc_id = d.doc_id AND c.pos = p.pos
        """,
        # Embedding composition: same cells -> per-doc double vectors ->
        # all-pairs exact cosine. Integer dots/norms are exact in
        # doubles and sqrt is correctly rounded, so the cosine is
        # bit-identical to Spark's HOF fold.
        "text_embed_near_dup": f"""
            WITH {_EMBED_VEC_SQL},
            scored AS (
              -- NULLIF mirrors the engine's zero-norm-cosine-is-NULL
              -- contract (_cosine_or_null): a zero vector yields NULL
              -- (filtered by the threshold), never NaN (which DuckDB
              -- sorts greatest and which passes >= thresholds).
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     list_sum(list_transform(range(1, 17), i -> a.v[i] * b.v[i]))
                       / NULLIF(
                           sqrt(list_sum(list_transform(range(1, 17), i -> a.v[i] * a.v[i])))
                           * sqrt(list_sum(list_transform(range(1, 17), i -> b.v[i] * b.v[i]))),
                           0) AS cos_raw
              FROM vec a JOIN vec b ON a.doc_id < b.doc_id)
            SELECT id_a, id_b, ROUND(cos_raw, 6) AS cosine
            FROM scored WHERE cos_raw >= 0.99
        """,
        # Serving-mode IVF oracle: integer vectors + integer centroid
        # literals make assignment distances, probe ordering and the
        # cosine re-rank all exact in SQL. Same (d, ci) / (cos desc,
        # id asc) tie-breaks as the Spark windows.
        "ann_ivf_lookup": f"""
            WITH {_EMBED_VEC_SQL},
            cent(ci, cv) AS (VALUES {{cent_rows}}),
            corpus AS (SELECT doc_id, v FROM vec WHERE doc_id % 4 != 0),
            qs AS (SELECT doc_id, v FROM vec WHERE doc_id % 4 = 0),
            assign AS (
              SELECT doc_id, ci FROM (
                SELECT c.doc_id, t.ci,
                       ROW_NUMBER() OVER (
                         PARTITION BY c.doc_id
                         ORDER BY list_sum(list_transform(range(1, 17),
                             i -> (c.v[i] - t.cv[i]) * (c.v[i] - t.cv[i]))),
                           t.ci) AS rn
                FROM corpus c CROSS JOIN cent t)
              WHERE rn = 1),
            probes AS (
              SELECT doc_id, ci FROM (
                SELECT q.doc_id, t.ci,
                       ROW_NUMBER() OVER (
                         PARTITION BY q.doc_id
                         ORDER BY list_sum(list_transform(range(1, 17),
                             i -> (q.v[i] - t.cv[i]) * (q.v[i] - t.cv[i]))),
                           t.ci) AS rn
                FROM qs q CROSS JOIN cent t)
              WHERE rn <= 3),
            cand AS (
              -- serving mode: no self-pair filter (frames are disjoint
              -- here by the %4 split; a collision would be a re-queried
              -- doc whose indexed copy is a legitimate neighbor)
              SELECT p.doc_id AS qid, a.doc_id AS nid
              FROM probes p JOIN assign a ON p.ci = a.ci),
            scored AS (
              SELECT c.qid, c.nid,
                     list_sum(list_transform(range(1, 17), i -> q.v[i] * n.v[i]))
                       / NULLIF(
                           sqrt(list_sum(list_transform(range(1, 17), i -> q.v[i] * q.v[i])))
                           * sqrt(list_sum(list_transform(range(1, 17), i -> n.v[i] * n.v[i]))),
                           0) AS cos_raw
              FROM cand c JOIN qs q ON q.doc_id = c.qid
                JOIN corpus n ON n.doc_id = c.nid),
            ranked AS (
              SELECT qid, nid, cos_raw,
                     ROW_NUMBER() OVER (
                       PARTITION BY qid ORDER BY cos_raw DESC, nid ASC) AS rnk
              FROM scored WHERE cos_raw IS NOT NULL)
            SELECT qid AS query_id, nid AS neighbor_id,
                   CAST(rnk AS INTEGER) AS rank,
                   ROUND(cos_raw, 6) AS cosine
            FROM ranked WHERE rnk <= 2
        """.format(
            cent_rows=", ".join(
                "({}, [{}])".format(
                    i, ", ".join(f"{x:.1f}" for x in c)
                )
                for i, c in enumerate(_ivf_lookup_centroids())
            )
        ),
        # Broadcast-centroid IVF oracle (self-search): same exact
        # integer arithmetic as ann_ivf_lookup, but over the FULL doc
        # set with the self-pair filter, 80 centroids. The NULLIF guard
        # mirrors the engine's zero-norm-cosine-is-NULL contract
        # (_cosine_or_null): a zero vector must be dropped, not ranked
        # first via NaN (DuckDB sorts NaN greatest).
        "ann_ivf_bcast": f"""
            WITH {_EMBED_VEC_SQL},
            cent(ci, cv) AS (VALUES {{cent_rows}}),
            assign AS (
              SELECT doc_id, ci FROM (
                SELECT v.doc_id, t.ci,
                       ROW_NUMBER() OVER (
                         PARTITION BY v.doc_id
                         ORDER BY list_sum(list_transform(range(1, 17),
                             i -> (v.v[i] - t.cv[i]) * (v.v[i] - t.cv[i]))),
                           t.ci) AS rn
                FROM vec v CROSS JOIN cent t)
              WHERE rn = 1),
            probes AS (
              SELECT doc_id, ci FROM (
                SELECT v.doc_id, t.ci,
                       ROW_NUMBER() OVER (
                         PARTITION BY v.doc_id
                         ORDER BY list_sum(list_transform(range(1, 17),
                             i -> (v.v[i] - t.cv[i]) * (v.v[i] - t.cv[i]))),
                           t.ci) AS rn
                FROM vec v CROSS JOIN cent t)
              WHERE rn <= 3),
            cand AS (
              SELECT p.doc_id AS qid, a.doc_id AS nid
              FROM probes p JOIN assign a ON p.ci = a.ci
              WHERE p.doc_id != a.doc_id),
            scored AS (
              SELECT c.qid, c.nid,
                     list_sum(list_transform(range(1, 17), i -> q.v[i] * n.v[i]))
                       / NULLIF(
                           sqrt(list_sum(list_transform(range(1, 17), i -> q.v[i] * q.v[i])))
                           * sqrt(list_sum(list_transform(range(1, 17), i -> n.v[i] * n.v[i]))),
                           0) AS cos_raw
              FROM cand c JOIN vec q ON q.doc_id = c.qid
                JOIN vec n ON n.doc_id = c.nid),
            ranked AS (
              SELECT qid, nid, cos_raw,
                     ROW_NUMBER() OVER (
                       PARTITION BY qid ORDER BY cos_raw DESC, nid ASC) AS rnk
              FROM scored WHERE cos_raw IS NOT NULL)
            SELECT qid AS query_id, nid AS neighbor_id,
                   CAST(rnk AS INTEGER) AS rank,
                   ROUND(cos_raw, 6) AS cosine
            FROM ranked WHERE rnk <= 2
        """.format(
            cent_rows=", ".join(
                "({}, [{}])".format(
                    i, ", ".join(f"{x:.1f}" for x in c)
                )
                for i, c in enumerate(_ivf_bcast_centroids())
            )
        ),
        # Full extract->curate composition: the entire chain recomputed
        # from the documents table (see _CORPUS_CHAIN_SQL).
        "corpus_pipeline": f"""
            WITH RECURSIVE {_CORPUS_CHAIN_SQL}
            SELECT seq_id, tok_start, tok_end, url, chunk_idx,
                   chunk_tok_start, chunk_tok_end
            FROM packed
        """,
        # Chain + split: the whole-pipeline recompute up to `capped`,
        # then the md5 cumulative-threshold CASE on the section
        # (sorted names: test 500, train 9500, val 10000 of 10000).
        "corpus_pipeline_splits": f"""
            WITH RECURSIVE {_CORPUS_CHAIN_SQL}
            SELECT url, lang AS section,
                   CASE WHEN b < 500 THEN 'test'
                        WHEN b < 9500 THEN 'train'
                        ELSE 'val' END AS split
            FROM (SELECT url, lang,
                         ('0x' || substr(md5(lang), 1, 15))::BIGINT % 10000 AS b
                  FROM capped)
        """,
        "corpus_pipeline_stats": f"""
            WITH RECURSIVE {_CORPUS_CHAIN_SQL}
            SELECT '1_extracted' AS stage, COUNT(*)::BIGINT AS n FROM ext
            UNION ALL SELECT '2_gated', COUNT(*) FROM gated
            UNION ALL SELECT '3_dup_pairs', COUNT(*) FROM p
            UNION ALL SELECT '4_component_docs', COUNT(*) FROM comp
            UNION ALL SELECT '5_kept', COUNT(*) FROM kept
            UNION ALL SELECT '6_capped', COUNT(*) FROM capped
            UNION ALL SELECT '7_chunks', COUNT(*) FROM ch
            UNION ALL SELECT '8_packed_pieces', COUNT(*) FROM packed
        """,
        # Full-pipeline oracle: cells -> vectors -> bit-exact cosines ->
        # transitive closure, all recomputed from scratch in SQL.
        "text_dedup_e2e": f"""
            WITH RECURSIVE {_EMBED_VEC_SQL},
            p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM vec a JOIN vec b ON a.doc_id < b.doc_id
              WHERE list_sum(list_transform(range(1, 17), i -> a.v[i] * b.v[i]))
                      / NULLIF(
                          sqrt(list_sum(list_transform(range(1, 17), i -> a.v[i] * a.v[i])))
                          * sqrt(list_sum(list_transform(range(1, 17), i -> b.v[i] * b.v[i]))),
                          0)
                    >= 0.99),
            e AS (SELECT id_a AS u, id_b AS v FROM p
                  UNION SELECT id_b, id_a FROM p),
            reach(u, v) AS (
              SELECT u, v FROM e
              UNION
              SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u
                WHERE e2.v != r.u)
            SELECT u AS doc_id, least(u, min(v)) AS component_id
            FROM reach GROUP BY u ORDER BY doc_id
        """,
        # Incremental oracle: identical exact-Jaccard recompute, restricted
        # to pairs touching the "new crawl" slice (doc_id % 4 == 0).
        "dedup_incremental": f"""
            WITH s AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                         range(1, greatest(len({_WORDS_SQL})-2, 0)+1),
                         i -> array_to_string(({_WORDS_SQL})[i:i+2], ' '))) AS sh
              FROM documents),
            p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     len(list_intersect(a.sh, b.sh))::DOUBLE
                         / len(list_distinct(a.sh || b.sh)) AS j
              FROM s a JOIN s b ON a.doc_id < b.doc_id)
            SELECT id_a, id_b, ROUND(j, 6) AS jaccard FROM p
            WHERE j >= 0.5 AND (id_a % 4 = 0 OR id_b % 4 = 0)
        """,
        # Components oracle: the exact-Jaccard edge set (same construction
        # as the dedup_minhash oracle) closed transitively with a
        # recursive CTE; component id = min reachable doc id. Fully
        # independent of the Spark large-star/small-star iteration.
        "dedup_components": f"""
            WITH RECURSIVE s AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                         range(1, greatest(len({_WORDS_SQL})-2, 0)+1),
                         i -> array_to_string(({_WORDS_SQL})[i:i+2], ' '))) AS sh
              FROM documents),
            p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM s a JOIN s b ON a.doc_id < b.doc_id
              WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
                        / len(list_distinct(a.sh || b.sh)) >= 0.5),
            e AS (SELECT id_a AS u, id_b AS v FROM p
                  UNION SELECT id_b, id_a FROM p),
            reach(u, v) AS (
              SELECT u, v FROM e
              UNION
              SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u
                WHERE e2.v != r.u)
            SELECT u AS doc_id, least(u, min(v)) AS component_id
            FROM reach GROUP BY u ORDER BY doc_id
        """,
        "minhash_estimate": f"""
            WITH s AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                         range(1, greatest(len({_WORDS_SQL})-2, 0)+1),
                         i -> array_to_string(({_WORDS_SQL})[i:i+2], ' '))) AS sh
              FROM documents),
            s2 AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
            e AS (
              SELECT s2.doc_id, u.j AS hj,
                     MIN(('0x' || substr(md5(CAST(u.j AS VARCHAR) || ':' || sg.sg), 1, 15))::BIGINT) AS mh
              FROM s2, unnest(s2.sh) AS sg(sg), unnest(range(0, 16)) AS u(j)
              GROUP BY s2.doc_id, u.j),
            p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     len(list_intersect(a.sh, b.sh))::DOUBLE
                         / len(list_distinct(a.sh || b.sh)) AS jac
              FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id),
            pf AS (SELECT * FROM p WHERE jac >= 0.5),
            m AS (
              SELECT pf.id_a, pf.id_b, pf.jac,
                     SUM(CASE WHEN ea.mh = eb.mh THEN 1 ELSE 0 END) AS eq
              FROM pf
              JOIN e ea ON ea.doc_id = pf.id_a
              JOIN e eb ON eb.doc_id = pf.id_b AND eb.hj = ea.hj
              GROUP BY pf.id_a, pf.id_b, pf.jac)
            SELECT id_a, id_b, ROUND(jac, 6) AS jaccard,
                   ROUND(eq / 16.0, 6) AS est_jaccard,
                   ROUND(ABS(jac - eq / 16.0), 6) AS abs_err
            FROM m
        """,
        # Incremental CC must equal from-scratch CC over all pairs —
        # the oracle IS the dedup_components closure.
        "components_incremental": f"""
            WITH RECURSIVE s AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                         range(1, greatest(len({_WORDS_SQL})-2, 0)+1),
                         i -> array_to_string(({_WORDS_SQL})[i:i+2], ' '))) AS sh
              FROM documents),
            p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM s a JOIN s b ON a.doc_id < b.doc_id
              WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
                        / len(list_distinct(a.sh || b.sh)) >= 0.5),
            e AS (SELECT id_a AS u, id_b AS v FROM p
                  UNION SELECT id_b, id_a FROM p),
            reach(u, v) AS (
              SELECT u, v FROM e
              UNION
              SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u
                WHERE e2.v != r.u)
            SELECT u AS doc_id, least(u, min(v)) AS component_id
            FROM reach GROUP BY u ORDER BY doc_id
        """,
        # SimHash oracle: the 60-bit fingerprint is recomputed from
        # scratch in SQL (md5-hex15 token hash -> per-bit +/-1 sums ->
        # sign reassembly) and compared ALL-PAIRS — independent of the
        # Spark banding, whose pigeonhole slicing guarantees recall 1.0.
        "dedup_simhash": f"""
            WITH tok AS (
              SELECT doc_id, ('0x' || substr(md5(w.w), 1, 15))::BIGINT AS h
              FROM documents, unnest(({_WORDS_SQL})[1:32767]) AS w(w)),
            bits AS (SELECT doc_id, {{bit_sums}} FROM tok GROUP BY doc_id),
            sh AS (SELECT doc_id, {{reassemble}} AS simhash FROM bits)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
        """.format(
            bit_sums=", ".join(
                f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
                for b in range(60)
            ),
            reassemble=" + ".join(
                f"(CASE WHEN s{b} > 0 THEN (1::BIGINT << {b}) ELSE 0 END)"
                for b in range(60)
            ),
        ),
        # ann_lsh / extract_pipeline: semantics not expressible in SQL
        # Curation passes: the 60-bit shingle hash is the md5-hex15
        # construction shared with fingerprint/minhash, so DuckDB
        # recomputes every hash bit-exactly.
        "boilerplate_shingles": """
            WITH w AS (SELECT doc_id, {words} AS w FROM documents),
            sh AS (SELECT doc_id,
                          list_distinct(list_transform(
                              range(1, greatest(len(w) - 4, 0) + 1),
                              i -> ('0x' || substr(md5(array_to_string(w[i:i+4], ' ')),
                                                   1, 15))::BIGINT)) AS sh
                   FROM w),
            ex AS (SELECT doc_id, unnest(sh) AS h FROM sh),
            freq AS (SELECT h, COUNT(*) AS n_docs FROM ex GROUP BY h),
            per AS (SELECT doc_id, COUNT(*) AS n_shingles,
                           SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS n_boiler
                    FROM ex JOIN freq USING (h) GROUP BY doc_id)
            SELECT s.doc_id,
                   CAST(COALESCE(per.n_shingles, 0) AS BIGINT) AS n_shingles,
                   CAST(COALESCE(per.n_boiler, 0) AS BIGINT) AS n_boiler,
                   ROUND(COALESCE(per.n_boiler / per.n_shingles, 0.0), 6) AS boiler_ratio
            FROM sh s LEFT JOIN per USING (doc_id)
        """.format(words=_WORDS_SQL),
        "decontaminate": """
            WITH w AS (SELECT doc_id, {words} AS w FROM documents),
            ng AS (SELECT doc_id,
                          list_distinct(list_transform(
                              range(1, greatest(len(w) - 7, 0) + 1),
                              i -> ('0x' || substr(md5(array_to_string(w[i:i+7], ' ')),
                                                   1, 15))::BIGINT)) AS ng
                   FROM w),
            bench AS (SELECT DISTINCT unnest(ng) AS h FROM ng WHERE doc_id % 23 = 0),
            corpus AS (SELECT doc_id, ng FROM ng WHERE doc_id % 23 <> 0),
            ex AS (SELECT doc_id, unnest(ng) AS h FROM corpus),
            per AS (SELECT ex.doc_id, COUNT(*) AS n_ngrams,
                           SUM(CASE WHEN bench.h IS NOT NULL THEN 1 ELSE 0 END) AS n_overlap
                    FROM ex LEFT JOIN bench ON ex.h = bench.h GROUP BY ex.doc_id)
            SELECT c.doc_id,
                   CAST(COALESCE(per.n_ngrams, 0) AS BIGINT) AS n_ngrams,
                   CAST(COALESCE(per.n_overlap, 0) AS BIGINT) AS n_overlap,
                   COALESCE(per.n_overlap, 0) >= 1 AS contaminated
            FROM corpus c LEFT JOIN per USING (doc_id)
        """.format(words=_WORDS_SQL),
        "decontaminate_spans": f"""
            WITH tk AS (
              SELECT doc_id,
                     COALESCE(list_filter({_WORDS_SQL}, x -> len(x) > 0),
                              []) AS t
              FROM documents),
            bench AS (
              SELECT DISTINCT
                     ('0x' || substr(md5(array_to_string(t[i+1 : i+8], ' ')), 1, 15))::BIGINT AS h
              FROM tk, unnest(range(0, greatest(len(t) - 7, 0))) AS u(i)
              WHERE doc_id % 23 = 0),
            corp AS (SELECT doc_id, t FROM tk WHERE doc_id % 23 <> 0),
            occ AS (
              SELECT doc_id, CAST(i AS INTEGER) AS pos,
                     ('0x' || substr(md5(array_to_string(t[i+1 : i+8], ' ')), 1, 15))::BIGINT AS h
              FROM corp, unnest(range(0, greatest(len(t) - 7, 0))) AS u(i)),
            rem AS (
              SELECT DISTINCT occ.doc_id, occ.pos
              FROM occ JOIN bench ON occ.h = bench.h),
            tokrows AS (
              SELECT doc_id, CAST(i AS INTEGER) AS pos, t[i+1] AS w
              FROM corp, unnest(range(0, len(t))) AS u(i)),
            covered AS (
              SELECT DISTINCT tr.doc_id, tr.pos
              FROM tokrows tr JOIN rem r
                ON r.doc_id = tr.doc_id
               AND tr.pos BETWEEN r.pos AND r.pos + 7),
            keptrows AS (
              SELECT tr.doc_id, tr.pos, tr.w
              FROM tokrows tr LEFT JOIN covered c
                ON c.doc_id = tr.doc_id AND c.pos = tr.pos
              WHERE c.pos IS NULL),
            rebuilt AS (
              SELECT doc_id,
                     COALESCE(string_agg(w, ' ' ORDER BY pos), '') AS text_clean,
                     COUNT(*) AS n_kept
              FROM keptrows GROUP BY doc_id),
            totals AS (SELECT doc_id, len(t) AS n FROM corp)
            SELECT t.doc_id,
                   COALESCE(r.text_clean, '') AS text_clean,
                   CAST(t.n AS BIGINT) AS n_tokens,
                   CAST(t.n - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
            FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
        """,
        "benchmark_coverage": f"""
            WITH w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
            ng AS (SELECT doc_id,
                          list_distinct(list_transform(
                              range(1, greatest(len(w) - 7, 0) + 1),
                              i -> ('0x' || substr(md5(array_to_string(w[i:i+7], ' ')),
                                                   1, 15))::BIGINT)) AS ng,
                          len(w) AS nw
                   FROM w),
            corpus AS (SELECT DISTINCT unnest(ng) AS h FROM ng
                       WHERE doc_id % 23 <> 0 AND nw >= 8),
            bench AS (SELECT doc_id AS bench_id, ng, nw FROM ng
                      WHERE doc_id % 23 = 0),
            ex AS (SELECT bench_id, unnest(ng) AS h FROM bench WHERE nw >= 8),
            per AS (SELECT ex.bench_id, COUNT(*) AS n_ngrams,
                           SUM(CASE WHEN c.h IS NOT NULL THEN 1 ELSE 0 END) AS n_found
                    FROM ex LEFT JOIN corpus c ON ex.h = c.h
                    GROUP BY ex.bench_id)
            SELECT b.bench_id,
                   CAST(COALESCE(per.n_ngrams, 0) AS BIGINT) AS n_ngrams,
                   CAST(COALESCE(per.n_found, 0) AS BIGINT) AS n_found,
                   CASE WHEN b.nw >= 8
                        THEN ROUND(COALESCE(per.n_found, 0)
                                   / per.n_ngrams, 6) END AS coverage
            FROM bench b LEFT JOIN per USING (bench_id)
        """,
        "corpus_grep": """
            WITH parts AS (
              SELECT doc_id, string_split(text, 'table') AS p
              FROM documents WHERE text IS NOT NULL),
            hit AS (SELECT doc_id, p FROM parts WHERE len(p) > 1),
            r AS (
              SELECT doc_id, CAST(i AS INTEGER) AS idx, p[i+1] AS part,
                     len(p) AS np
              FROM hit, unnest(range(0, len(p))) AS u(i)),
            cum AS (
              SELECT doc_id, idx, np,
                     SUM(len(part)) OVER (
                       PARTITION BY doc_id ORDER BY idx
                       ROWS UNBOUNDED PRECEDING) AS cl
              FROM r)
            SELECT doc_id, CAST(idx AS INTEGER) AS occ_idx,
                   CAST(cl + idx * 5 AS BIGINT) AS pos
            FROM cum WHERE idx < np - 1
        """,
        "stratified_sample": """
            SELECT doc_id, lang, source FROM documents
            WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000
                  < CASE lang WHEN 'en' THEN 5000 WHEN 'fr' THEN 2500
                              WHEN 'de' THEN 1000 ELSE 0 END
        """,
        # Temperature rebalancing: counts -> sqrt(n_min/n) rates (IEEE
        # sqrt, bit-equal cross-engine) -> floor-quantised thresholds
        # -> md5 bucket filter. Null-safe stratum join: NULL lang is a
        # stratum, and a plain equi-join would silently drop it.
        "temperature_sample": """
            WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
            m AS (SELECT MIN(n) AS nmin FROM c),
            t AS (SELECT lang,
                         CAST(greatest(floor(sqrt(CAST(nmin AS DOUBLE) / CAST(n AS DOUBLE)) * 10000.0), 1) AS INTEGER) AS thresh
                  FROM c, m)
            SELECT d.doc_id, d.lang, d.source
            FROM documents d JOIN t ON d.lang IS NOT DISTINCT FROM t.lang
            WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 < t.thresh
        """,
        # Robots gate: full longest-match replay — same synthesized
        # urls + directive table, rank matching prefixes by (length
        # desc, allow-first) per url, allowed = no match or top allow.
        "robots_filter": """
            WITH u AS (
              SELECT doc_id,
                     'https://' || source || '.example/sec'
                       || CAST(doc_id % 5 AS VARCHAR) || '/doc/'
                       || CAST(doc_id AS VARCHAR) AS url,
                     source || '.example' AS host,
                     '/sec' || CAST(doc_id % 5 AS VARCHAR) || '/doc/'
                       || CAST(doc_id AS VARCHAR) AS path
              FROM documents),
            hosts AS (SELECT DISTINCT source || '.example' AS host
                      FROM documents WHERE source <> 'src7'),
            rules AS (
              SELECT h.host, r.rule, r.p FROM hosts h CROSS JOIN (VALUES
                ('disallow', '/sec0'), ('allow', '/sec0/doc'),
                ('disallow', '/sec2'),
                ('disallow', '/sec4/'), ('allow', '/sec4/')) AS r(rule, p)),
            m AS (
              SELECT u.doc_id, r.rule,
                     ROW_NUMBER() OVER (PARTITION BY u.doc_id
                       ORDER BY len(r.p) DESC, (r.rule = 'allow') DESC) AS rn
              FROM u JOIN rules r
                ON r.host = u.host AND starts_with(u.path, r.p))
            SELECT u.doc_id, u.url
            FROM u LEFT JOIN m ON m.doc_id = u.doc_id AND m.rn = 1
            WHERE m.rule IS NULL OR m.rule = 'allow'
        """,
        # Bitext mining: exact recompute — integer hash embeddings
        # (order-independent integer dots), explicit sorted chained
        # additions for the k-NN averages (the ONLY float sums, fixed
        # operand order in both engines), identical margin expression,
        # mutual-best windows with the same tie-break.
        "bitext_mine": f"""
            WITH {_EMBED_VEC_SQL},
            sv AS (SELECT v.doc_id AS id, v.v FROM vec v
                   JOIN documents d ON d.doc_id = v.doc_id AND d.lang = 'en'),
            tv AS (SELECT v.doc_id AS id, v.v FROM vec v
                   JOIN documents d ON d.doc_id = v.doc_id AND d.lang = 'fr'),
            p AS (
              SELECT s.id AS src_id, t.id AS tgt_id,
                     list_sum(list_transform(range(1, 17), i -> s.v[i] * t.v[i]))
                       / NULLIF(
                           sqrt(list_sum(list_transform(range(1, 17), i -> s.v[i] * s.v[i])))
                           * sqrt(list_sum(list_transform(range(1, 17), i -> t.v[i] * t.v[i]))),
                           0) AS cosine
              FROM sv s CROSS JOIN tv t),
            pc AS (SELECT * FROM p WHERE cosine IS NOT NULL),
            sk AS (
              SELECT src_id, (l[1] + l[2]) + l[3] AS ssum FROM (
                SELECT src_id, list(cosine ORDER BY cosine, tgt_id) AS l FROM (
                  SELECT src_id, tgt_id, cosine,
                         ROW_NUMBER() OVER (PARTITION BY src_id
                           ORDER BY cosine DESC, tgt_id) AS rn
                  FROM pc) WHERE rn <= 3 GROUP BY src_id)),
            tk AS (
              SELECT tgt_id, (l[1] + l[2]) + l[3] AS tsum FROM (
                SELECT tgt_id, list(cosine ORDER BY cosine, src_id) AS l FROM (
                  SELECT src_id, tgt_id, cosine,
                         ROW_NUMBER() OVER (PARTITION BY tgt_id
                           ORDER BY cosine DESC, src_id) AS rn
                  FROM pc) WHERE rn <= 3 GROUP BY tgt_id)),
            m AS (
              SELECT pc.src_id, pc.tgt_id, pc.cosine,
                     pc.cosine / (((sk.ssum / 3.0) + (tk.tsum / 3.0)) / 2.0) AS margin
              FROM pc JOIN sk USING (src_id) JOIN tk USING (tgt_id)),
            mf AS (SELECT * FROM m WHERE margin > 1.0),
            fwd AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
                      ORDER BY margin DESC, cosine DESC, tgt_id) AS r FROM mf),
            bwd AS (SELECT src_id, tgt_id, ROW_NUMBER() OVER (PARTITION BY tgt_id
                      ORDER BY margin DESC, cosine DESC, src_id) AS r FROM mf)
            SELECT f.src_id, f.tgt_id, ROUND(f.cosine, 6) AS cosine,
                   ROUND(f.margin, 6) AS margin
            FROM fwd f JOIN bwd b
              ON f.src_id = b.src_id AND f.tgt_id = b.tgt_id AND b.r = 1
            WHERE f.r = 1
        """,
        # Naive Bayes quality classifier: full recompute — hashed
        # n-gram class counts, add-alpha llr over the 4096-bucket
        # spine, per-doc log-odds (4dp margin for the ln sums), the
        # md5-uniform soft-acceptance arm (floor-quantised e^score).
        "quality_classifier": f"""
            WITH ws AS (SELECT doc_id, lang, {_WORDS_SQL} AS w FROM documents),
            grams AS (
              SELECT doc_id, lang, u.g FROM ws, unnest(w) AS u(g) WHERE u.g <> ''
              UNION ALL
              SELECT doc_id, lang, w[i.i - 1] || ' ' || w[i.i] AS g
              FROM ws, unnest(range(2, len(w)::BIGINT + 1)) AS i(i)),
            bk AS (SELECT doc_id, lang,
                          ('0x' || substr(md5(g), 1, 15))::BIGINT % 4096 AS b
                   FROM grams),
            cp AS (SELECT b, COUNT(*) AS c_pos FROM bk WHERE lang = 'en' GROUP BY b),
            cn AS (SELECT b, COUNT(*) AS c_neg FROM bk
                   WHERE lang <> 'en' OR lang IS NULL GROUP BY b),
            tot AS (SELECT (SELECT SUM(c_pos) FROM cp)::DOUBLE AS t_pos,
                           (SELECT SUM(c_neg) FROM cn)::DOUBLE AS t_neg,
                           (SELECT COUNT(*) FROM documents WHERE lang = 'en')::DOUBLE AS n_pos,
                           (SELECT COUNT(*) FROM documents
                            WHERE lang <> 'en' OR lang IS NULL)::DOUBLE AS n_neg),
            spine AS (SELECT i::INT AS b FROM range(0, 4096) t(i)),
            model AS (SELECT spine.b,
                   ln(COALESCE(c_pos, 0) + 0.5) - ln(t_pos + 0.5 * 4096)
                   - ln(COALESCE(c_neg, 0) + 0.5) + ln(t_neg + 0.5 * 4096) AS llr,
                   ln(n_pos) - ln(n_neg) AS prior
               FROM spine LEFT JOIN cp ON spine.b = cp.b
               LEFT JOIN cn ON spine.b = cn.b CROSS JOIN tot),
            per_doc AS (SELECT doc_id, b, COUNT(*) AS c_doc FROM bk GROUP BY doc_id, b),
            scored AS (
              SELECT doc_id, SUM(c_doc)::BIGINT AS n_terms,
                     ROUND(ANY_VALUE(prior) + SUM(c_doc * llr), 4) AS score
              FROM per_doc JOIN model USING (b) GROUP BY doc_id
              UNION ALL
              SELECT doc_id, 0::BIGINT,
                     ROUND((SELECT ANY_VALUE(prior) FROM model), 4)
              FROM documents WHERE trim(coalesce(text, '')) = '')
            SELECT doc_id, n_terms, score,
                   (score > 0 OR ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10000
                    < floor(exp(least(score, 0.0)) * 10000.0)) AS keep
            FROM scored
        """,
        # Training-order shuffle + shards: the oracle may use ONE global
        # window (fine at sf0.01); the operator's two-phase prefix sums
        # must agree with it row-for-row at any parallelism.
        "shuffle_shards": """
            WITH t AS (
              SELECT doc_id,
                     ('0x' || substr(md5('ep0:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS k,
                     CAST(len(list_filter(string_split_regex(lower(trim(coalesce(text, ''))), '\\s+'), w -> w <> '')) AS BIGINT) AS nt
              FROM documents),
            o AS (
              SELECT doc_id,
                     ROW_NUMBER() OVER (ORDER BY k, doc_id) - 1 AS pos,
                     COALESCE(SUM(nt) OVER (ORDER BY k, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
              FROM t)
            SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                   CAST(tok_offset AS BIGINT) AS tok_offset,
                   CAST(tok_offset // 5000 AS BIGINT) AS shard_id
            FROM o
        """,
        "chunk_documents": """
            WITH t AS (SELECT doc_id, {words} AS w FROM documents
                       WHERE length(trim(text)) > 0),
            n AS (SELECT doc_id, w,
                         1 + CAST(ceil(greatest(len(w) - 32, 0) / 16.0) AS INTEGER) AS nc
                  FROM t)
            SELECT doc_id,
                   CAST(i AS INTEGER) AS chunk_idx,
                   array_to_string(w[i*16 + 1 : i*16 + 32], ' ') AS chunk_text,
                   CAST(len(w[i*16 + 1 : i*16 + 32]) AS INTEGER) AS n_tokens
            FROM n, unnest(range(0, nc)) AS u(i)
        """.format(words=_WORDS_SQL),
        # Line-dedup strip: same page synthesis, same 60-bit line
        # hashes, same >= 2-distinct-docs rule, rebuilt with an
        # index-ordered string_agg. Pure string ops — exact.
        "strip_boilerplate": f"""
            WITH pages AS (
              SELECT doc_id,
                     'Subscribe to our newsletter' || chr(10)
                     || 'About ' || source || chr(10)
                     || array_to_string(list_transform(
                          range(0, greatest(CAST(ceil(len({_WORDS_SQL}) / 10.0) AS INTEGER), 1)),
                          i -> array_to_string(({_WORDS_SQL})[i*10 + 1 : i*10 + 10], ' ')),
                        chr(10))
                     || chr(10) || '(c) ' || source AS page
              FROM documents),
            lines AS (
              SELECT doc_id, CAST(i AS INTEGER) AS idx, ls[i+1] AS line,
                     lower(trim(ls[i+1])) AS nrm
              FROM (SELECT doc_id, string_split(page, chr(10)) AS ls FROM pages),
                   unnest(range(0, len(ls))) AS u(i)),
            freq AS (
              SELECT ('0x' || substr(md5(nrm), 1, 15))::BIGINT AS h,
                     COUNT(DISTINCT doc_id) AS nd
              FROM lines WHERE length(nrm) > 0
              GROUP BY 1),
            boiler AS (SELECT h FROM freq WHERE nd >= 2),
            kept AS (
              SELECT l.* FROM lines l
              LEFT JOIN boiler b
                ON length(l.nrm) > 0
               AND ('0x' || substr(md5(l.nrm), 1, 15))::BIGINT = b.h
              WHERE b.h IS NULL),
            rebuilt AS (
              SELECT doc_id,
                     COALESCE(string_agg(line, chr(10) ORDER BY idx), '') AS text_clean,
                     COUNT(*) AS n_kept
              FROM kept GROUP BY doc_id),
            totals AS (SELECT doc_id, COUNT(*) AS n_lines FROM lines GROUP BY doc_id)
            SELECT t.doc_id,
                   COALESCE(r.text_clean, '') AS text_clean,
                   CAST(t.n_lines AS BIGINT) AS n_lines,
                   CAST(t.n_lines - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
            FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
        """,
        # Span-level exact substring dedup: full SQL replay — same
        # 60-bit shingle hashes, canonical = row_number over (doc_id,
        # pos), coverage via positional BETWEEN join, index-ordered
        # string_agg rebuild. Pure string/integer ops — exact.
        "span_dedup": f"""
            WITH tk AS (
              SELECT doc_id,
                     COALESCE(list_filter({_WORDS_SQL}, x -> len(x) > 0),
                              []) AS t
              FROM documents),
            occ AS (
              SELECT doc_id, CAST(i AS INTEGER) AS pos,
                     ('0x' || substr(md5(array_to_string(t[i+1 : i+8], ' ')), 1, 15))::BIGINT AS h
              FROM tk, unnest(range(0, greatest(len(t) - 7, 0))) AS u(i)),
            ranked AS (
              SELECT doc_id, pos,
                     row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
                     COUNT(*) OVER (PARTITION BY h) AS cnt
              FROM occ),
            rem AS (SELECT doc_id, pos FROM ranked WHERE cnt >= 2 AND rn > 1),
            tokrows AS (
              SELECT doc_id, CAST(i AS INTEGER) AS pos, t[i+1] AS w
              FROM tk, unnest(range(0, len(t))) AS u(i)),
            covered AS (
              SELECT DISTINCT tr.doc_id, tr.pos
              FROM tokrows tr JOIN rem r
                ON r.doc_id = tr.doc_id
               AND tr.pos BETWEEN r.pos AND r.pos + 7),
            keptrows AS (
              SELECT tr.doc_id, tr.pos, tr.w
              FROM tokrows tr LEFT JOIN covered c
                ON c.doc_id = tr.doc_id AND c.pos = tr.pos
              WHERE c.pos IS NULL),
            rebuilt AS (
              SELECT doc_id,
                     COALESCE(string_agg(w, ' ' ORDER BY pos), '') AS text_clean,
                     COUNT(*) AS n_kept
              FROM keptrows GROUP BY doc_id),
            totals AS (SELECT doc_id, len(t) AS n FROM tk)
            SELECT t.doc_id,
                   COALESCE(r.text_clean, '') AS text_clean,
                   CAST(t.n AS BIGINT) AS n_tokens,
                   CAST(t.n - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
            FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
        """,
        # Bigram-LM perplexity: counts are exact integers; the log2
        # entropy rides the 4-decimal rounding margin (libm ulp noise
        # ~1e-13 per ~100-term sum — same pattern as kmeans rounding).
        "lm_perplexity": f"""
            WITH {_LM_PPL_SQL}
            SELECT doc_id, n_bigrams, n_seen, cross_entropy, ppl
            FROM lmppl
        """,
        "bitext_url": """
            WITH u AS (
              SELECT doc_id, lang,
                     'https://site.example/' || lang || '/art/'
                       || CAST(doc_id // 4 AS VARCHAR) AS url
              FROM documents WHERE lang IS NOT NULL),
            k AS (
              SELECT doc_id, lang, url,
                     replace(url, '/' || lang || '/', '/') AS key
              FROM u),
            kk AS (SELECT doc_id, lang, key FROM k WHERE key <> url)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.lang AS lang_a, b.lang AS lang_b, a.key AS key
            FROM kk a JOIN kk b ON a.key = b.key
            WHERE a.lang < b.lang AND a.doc_id <> b.doc_id
        """,
        "tokenizer_fertility": _fertility_sql(),
        "winnow_fingerprints": f"""
            WITH tk AS (
              SELECT doc_id,
                     COALESCE(list_filter({_WORDS_SQL}, x -> len(x) > 0),
                              []) AS t
              FROM documents),
            occ AS (
              SELECT doc_id, CAST(i AS INTEGER) AS pos,
                     ('0x' || substr(md5(array_to_string(t[i+1 : i+5], ' ')), 1, 15))::BIGINT AS h
              FROM tk, unnest(range(0, greatest(len(t) - 4, 0))) AS u(i)),
            cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM occ GROUP BY doc_id),
            win AS (
              SELECT doc_id, CAST(j AS INTEGER) AS wj
              FROM cnt, unnest(range(0, greatest(n_sh - 3, 1))) AS u(j)),
            pick AS (
              SELECT w.doc_id, o.pos, o.h,
                     ROW_NUMBER() OVER (
                       PARTITION BY w.doc_id, w.wj
                       ORDER BY o.h ASC, o.pos ASC) AS rn
              FROM win w JOIN occ o
                ON o.doc_id = w.doc_id
               AND o.pos BETWEEN w.wj AND w.wj + 3)
            SELECT DISTINCT doc_id, pos, h AS hash FROM pick WHERE rn = 1
        """,
        "repeat_line_dedup": f"""
            WITH pg AS (
              SELECT doc_id,
                     'nav ' || source || chr(10)
                       || array_to_string(
                            (list_filter({_WORDS_SQL}, x -> len(x) > 0))[1:10], ' ')
                       || chr(10) || 'NAV ' || source
                       || chr(10) || 'unique ' || CAST(doc_id AS VARCHAR) AS text
              FROM documents),
            ls AS (SELECT doc_id, string_split(COALESCE(text, ''), chr(10)) AS l
                   FROM pg),
            lrows AS (
              SELECT doc_id, CAST(i AS INTEGER) AS idx, l[i+1] AS line
              FROM ls, unnest(range(0, len(l))) AS u(i)),
            keep AS (
              SELECT r.doc_id, r.idx, r.line,
                     CASE WHEN regexp_replace(r.line, '^\\s+|\\s+$', '', 'g') = ''
                          THEN TRUE
                          ELSE NOT EXISTS (
                            SELECT 1 FROM lrows p
                            WHERE p.doc_id = r.doc_id AND p.idx < r.idx
                              AND lower(regexp_replace(p.line, '^\\s+|\\s+$', '', 'g'))
                                = lower(regexp_replace(r.line, '^\\s+|\\s+$', '', 'g')))
                     END AS k
              FROM lrows r),
            rebuilt AS (
              SELECT doc_id,
                     string_agg(line, chr(10) ORDER BY idx) AS text_clean,
                     COUNT(*) AS n_kept
              FROM keep WHERE k GROUP BY doc_id),
            tot AS (SELECT doc_id, COUNT(*) AS n FROM lrows GROUP BY doc_id)
            SELECT t.doc_id,
                   COALESCE(r.text_clean, '') AS text_clean,
                   CAST(t.n AS BIGINT) AS n_lines,
                   CAST(t.n - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
            FROM tot t LEFT JOIN rebuilt r USING (doc_id)
        """,
        "kn_perplexity": f"""
            WITH knws AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
            knbg AS (
              SELECT doc_id, w[i] AS w1, w[i+1] AS w2
              FROM knws, unnest(range(1, len(w))) AS u(i)
              WHERE len(w) >= 2),
            knbigc AS (SELECT w1, w2, COUNT(*) AS c_big FROM knbg GROUP BY w1, w2),
            knprec AS (SELECT w1, COUNT(*) AS c_pre,
                              COUNT(DISTINCT w2) AS n1_fwd
                       FROM knbg GROUP BY w1),
            knbwd AS (SELECT w2, COUNT(DISTINCT w1) AS n1_bwd
                      FROM knbg GROUP BY w2),
            kntot AS (SELECT COUNT(*) AS n_types
                      FROM (SELECT DISTINCT w1, w2 FROM knbg)),
            knvoc AS (SELECT COUNT(DISTINCT t) AS v
                      FROM (SELECT unnest(w) AS t FROM knws) WHERE t <> ''),
            knsc AS (
              SELECT b.doc_id, c.c_big,
                     -log2(CASE WHEN COALESCE(p.c_pre, 0) > 0 THEN
                         (greatest(COALESCE(c.c_big, 0) - 0.75, 0.0) / p.c_pre)
                         + (((0.75 * COALESCE(p.n1_fwd, 0)) / p.c_pre)
                            * ((COALESCE(bw.n1_bwd, 0) + 0.5)
                               / (kntot.n_types + 0.5 * (knvoc.v + 1))))
                       ELSE (COALESCE(bw.n1_bwd, 0) + 0.5)
                            / (kntot.n_types + 0.5 * (knvoc.v + 1))
                       END) AS nll
              FROM knbg b
              LEFT JOIN knbigc c ON b.w1 = c.w1 AND b.w2 = c.w2
              LEFT JOIN knprec p ON b.w1 = p.w1
              LEFT JOIN knbwd bw ON b.w2 = bw.w2
              CROSS JOIN kntot CROSS JOIN knvoc)
            SELECT doc_id,
                   COUNT(*)::BIGINT AS n_bigrams,
                   CAST(SUM(CASE WHEN c_big IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_seen,
                   ROUND(SUM(nll) / COUNT(*), 4) AS cross_entropy,
                   ROUND(pow(2.0, SUM(nll) / COUNT(*)), 4) AS ppl
            FROM knsc GROUP BY doc_id
        """,
        "ccnet_buckets": f"""
            WITH {_LM_PPL_SQL},
            j AS (
              SELECT l.doc_id, d.lang, l.ppl
              FROM lmppl l JOIN documents d USING (doc_id)),
            sz AS (SELECT lang, COUNT(*) AS n FROM j GROUP BY lang),
            r AS (
              SELECT j.doc_id, j.lang, j.ppl, sz.n,
                     ROW_NUMBER() OVER (
                       PARTITION BY j.lang
                       ORDER BY j.ppl ASC, j.doc_id ASC) AS rk
              FROM j JOIN sz ON j.lang IS NOT DISTINCT FROM sz.lang)
            SELECT doc_id, lang, ppl,
                   CASE WHEN rk <= n // 3 THEN 'head'
                        WHEN rk <= (2 * n) // 3 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM r
        """,
        # Same recursive greedy replay as chunk_subword, but the vocab
        # is the LEARNED merge list read from the bpe golden (ordering
        # for greedy match = longest-first; max(len) in the correlated
        # subquery implements it vocab-order-independently).
        "chunk_bpe": f"""
            WITH RECURSIVE voc(v) AS (
              SELECT merged FROM read_parquet('/root/repo/dist/golden/bpe_sf001.parquet')),
            swt AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents
                    WHERE length(trim(text)) > 0),
            swn AS (SELECT doc_id, w,
                           1 + CAST(ceil(greatest(len(w) - 32, 0) / 32.0) AS INTEGER) AS nc
                    FROM swt),
            swcw AS (
              SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
                     w[i*32 + 1 : i*32 + 32] AS cws,
                     array_to_string(w[i*32 + 1 : i*32 + 32], ' ') AS chunk_text
              FROM swn, unnest(range(0, nc)) AS u(i)),
            swwrd AS (
              SELECT doc_id, chunk_idx, CAST(j AS INTEGER) AS widx, cws[j+1] AS word
              FROM swcw, unnest(range(0, len(cws))) AS uu(j)),
            swtk(doc_id, chunk_idx, widx, word, pos, n) AS (
              SELECT doc_id, chunk_idx, widx, word, 0, 0 FROM swwrd
              UNION ALL
              SELECT doc_id, chunk_idx, widx, word,
                     pos + COALESCE((SELECT max(len(v)) FROM voc
                                     WHERE substr(word, pos + 1, len(v)) = v), 1),
                     n + 1
              FROM swtk WHERE pos < len(word)),
            swwc AS (SELECT doc_id, chunk_idx, widx, max(n) AS c
                     FROM swtk GROUP BY doc_id, chunk_idx, widx),
            swsum AS (SELECT doc_id, chunk_idx, CAST(SUM(c) AS INTEGER) AS n_tokens
                      FROM swwc GROUP BY doc_id, chunk_idx)
            SELECT c.doc_id, c.chunk_idx, c.chunk_text, s.n_tokens
            FROM swcw c JOIN swsum s
              ON c.doc_id = s.doc_id AND c.chunk_idx = s.chunk_idx
        """,
        "chunk_subword": f"""
            WITH RECURSIVE {_subword_chunks_sql()}
            SELECT doc_id, chunk_idx, chunk_text, n_tokens FROM swch
        """,
        "pack_subword": f"""
            WITH RECURSIVE {_subword_chunks_sql()},
            swp AS (SELECT doc_id, chunk_idx, n_tokens,
                           CAST(COALESCE(SUM(n_tokens) OVER (
                               ORDER BY doc_id, chunk_idx
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0) AS BIGINT) AS st
                    FROM swch WHERE n_tokens > 0)
            SELECT CAST(s AS BIGINT) AS seq_id,
                   CAST(GREATEST(st, s*100) - s*100 AS INTEGER) AS tok_start,
                   CAST(LEAST(st + n_tokens, (s+1)*100) - s*100 AS INTEGER) AS tok_end,
                   doc_id, chunk_idx,
                   CAST(GREATEST(st, s*100) - st AS INTEGER) AS chunk_tok_start,
                   CAST(LEAST(st + n_tokens, (s+1)*100) - st AS INTEGER) AS chunk_tok_end
            FROM swp, unnest(range(st // 100, (st + n_tokens - 1) // 100 + 1)) AS u(s)
        """,
        # pack_sequences: full recompute — re-derive the 32/32 chunks,
        # exclusive window cumsum over global (doc_id, chunk_idx) order,
        # slice every 100 tokens (integer div), attribute pieces.
        "pack_sequences": """
            WITH t AS (SELECT doc_id, {words} AS w FROM documents
                       WHERE length(trim(text)) > 0),
            n AS (SELECT doc_id, w,
                         1 + CAST(ceil(greatest(len(w) - 32, 0) / 32.0) AS INTEGER) AS nc
                  FROM t),
            ch AS (SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
                          len(w[i*32 + 1 : i*32 + 32]) AS n_tokens
                   FROM n, unnest(range(0, nc)) AS u(i)),
            p AS (SELECT doc_id, chunk_idx, n_tokens,
                         CAST(COALESCE(SUM(n_tokens) OVER (
                             ORDER BY doc_id, chunk_idx
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS BIGINT) AS st
                  FROM ch WHERE n_tokens > 0)
            SELECT CAST(s AS BIGINT) AS seq_id,
                   CAST(GREATEST(st, s*100) - s*100 AS INTEGER) AS tok_start,
                   CAST(LEAST(st + n_tokens, (s+1)*100) - s*100 AS INTEGER) AS tok_end,
                   doc_id, chunk_idx,
                   CAST(GREATEST(st, s*100) - st AS INTEGER) AS chunk_tok_start,
                   CAST(LEAST(st + n_tokens, (s+1)*100) - st AS INTEGER) AS chunk_tok_end
            FROM p, unnest(range(st // 100, (st + n_tokens - 1) // 100 + 1)) AS u(s)
        """.format(words=_WORDS_SQL),
        "vocab_topk": """
            WITH ws AS (SELECT {words} AS w FROM documents),
            tf AS (SELECT term, COUNT(*) AS term_count
                   FROM (SELECT unnest(w) AS term FROM ws)
                   WHERE term <> '' GROUP BY term),
            docf AS (SELECT term, COUNT(*) AS doc_count
                     FROM (SELECT unnest(list_distinct(w)) AS term FROM ws)
                     WHERE term <> '' GROUP BY term)
            SELECT term, CAST(term_count AS BIGINT) AS term_count,
                   CAST(doc_count AS BIGINT) AS doc_count
            FROM tf JOIN docf USING (term)
            WHERE term_count >= 2
            ORDER BY term_count DESC, term ASC LIMIT 50
        """.format(words=_WORDS_SQL),
        "normalize_urls": r"""
            WITH t AS (
              SELECT doc_id,
                     (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
                     || '://WWW.Site' || CAST(doc_id % 7 AS VARCHAR) || '.COM'
                     || (CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE '' END)
                     || (CASE WHEN doc_id % 5 = 0 THEN ''
                              ELSE '/articles/' || CAST(doc_id AS VARCHAR) END)
                     || (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=tw&b=2&a=1'
                              WHEN doc_id % 3 = 0 THEN '?ref=home' ELSE '' END)
                     || (CASE WHEN doc_id % 4 = 0 THEN '#sec2' ELSE '' END) AS url
              FROM documents),
            p AS (
              SELECT doc_id, url,
                     lower(regexp_extract(url,
                       '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 1)) AS scheme,
                     lower(regexp_extract(url,
                       '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 2)) AS host0,
                     regexp_extract(url,
                       '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 3) AS path0,
                     regexp_extract(url,
                       '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 4) AS qs
              FROM t),
            q AS (
              SELECT *,
                     list_sort(list_filter(string_split(qs, '&'),
                       prm -> NOT (starts_with(prm, 'utm_')
                                   OR regexp_matches(prm, '^(fbclid|gclid|msclkid|ref)(=|$)')
                                   OR prm = ''))) AS kept
              FROM p)
            SELECT doc_id, url,
                   CASE WHEN scheme = '' THEN url
                        ELSE scheme || '://'
                             || (CASE WHEN scheme = 'http' AND host0 LIKE '%:80'
                                      THEN substr(host0, 1, length(host0) - 3)
                                      WHEN scheme = 'https' AND host0 LIKE '%:443'
                                      THEN substr(host0, 1, length(host0) - 4)
                                      ELSE host0 END)
                             || (CASE WHEN path0 = '' THEN '/' ELSE path0 END)
                             || (CASE WHEN len(kept) > 0
                                      THEN '?' || array_to_string(kept, '&')
                                      ELSE '' END)
                   END AS url_norm
            FROM q
        """,
        "host_cap": """
            SELECT doc_id, source, CAST(host_rank AS INTEGER) AS host_rank FROM (
                SELECT doc_id, source,
                       ROW_NUMBER() OVER (
                           PARTITION BY source
                           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                                    1, 15))::BIGINT ASC,
                                    doc_id ASC) AS host_rank
                FROM documents)
            WHERE host_rank <= 5
        """,
        # (seeded hyperplane LSH; HTML DOM cascade). Oracle = committed
        # golden parquet produced by an INDEPENDENT reimplementation
        # (scripts/make_goldens.py: pure-Python LSH mirror resp. the
        # parity-tested sequential kernel over identically synthesised
        # pages, both at the driver's sf0.01 correctness scale);
        # tests/test_goldens.py asserts the files are current.
        "ann_lsh": """
            SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
                   ROUND(cosine, 6) AS cosine
            FROM read_parquet('/root/repo/dist/golden/ann_lsh_sf001.parquet')
        """,
        "ann_ivf": """
            SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
                   ROUND(cosine, 6) AS cosine
            FROM read_parquet('/root/repo/dist/golden/ann_ivf_sf001.parquet')
        """,
        # BM25: tokenize, tf for query terms only, df over those,
        # Lucene idf, length-normalized tf, rounded-score top-k. Same
        # (round-4, id) cut as the Spark side.
        "bm25_search": f"""
            WITH ws AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
            st AS (SELECT COUNT(*)::DOUBLE AS n_docs, AVG(len(w)) AS avg_len FROM ws),
            q(t) AS (VALUES ('hash'), ('join'), ('spark'), ('table'), ('window')),
            tf AS (
              SELECT doc_id, len(w) AS dl, u.t, COUNT(*) AS tf
              FROM ws, unnest(w) AS u(t)
              WHERE u.t IN (SELECT t FROM q)
              GROUP BY doc_id, len(w), u.t),
            dfreq AS (SELECT t, COUNT(*)::DOUBLE AS df FROM tf GROUP BY t),
            scored AS (
              SELECT tf.doc_id,
                     COUNT(*) AS n_hit_terms,
                     SUM(ln((st.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                         * (tf.tf * (1.2 + 1.0))
                         / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / st.avg_len))
                     ) AS s
              FROM tf JOIN dfreq d ON tf.t = d.t CROSS JOIN st
              GROUP BY tf.doc_id)
            SELECT doc_id, CAST(n_hit_terms AS BIGINT) AS n_hit_terms,
                   ROUND(s, 4) AS score
            FROM scored
            ORDER BY ROUND(s, 4) DESC, doc_id ASC
            LIMIT 20
        """,
        "hybrid_search": f"""
            WITH ws AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
            st AS (SELECT COUNT(*)::DOUBLE AS n_docs, AVG(len(w)) AS avg_len FROM ws),
            q(t) AS (VALUES ('hash'), ('join'), ('spark'), ('table'), ('window')),
            tf AS (
              SELECT doc_id, len(w) AS dl, u.t, COUNT(*) AS tf
              FROM ws, unnest(w) AS u(t)
              WHERE u.t IN (SELECT t FROM q)
              GROUP BY doc_id, len(w), u.t),
            dfreq AS (SELECT t, COUNT(*)::DOUBLE AS df FROM tf GROUP BY t),
            scored AS (
              SELECT tf.doc_id,
                     SUM(ln((st.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                         * (tf.tf * (1.2 + 1.0))
                         / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / st.avg_len))
                     ) AS s
              FROM tf JOIN dfreq d ON tf.t = d.t CROSS JOIN st
              GROUP BY tf.doc_id),
            sparse AS (
              SELECT doc_id, rn AS bm25_rank FROM (
                SELECT doc_id,
                       ROW_NUMBER() OVER (ORDER BY ROUND(s, 4) DESC, doc_id ASC) AS rn
                FROM scored)
              WHERE rn <= 20),
            {_EMBED_VEC_SQL},
            qtok AS (
              SELECT ('0x' || substr(md5(w.w), 1, 15))::BIGINT AS h
              FROM unnest(string_split_regex(lower(trim('spark hash join window table')), '\\s+')) AS w(w)
              WHERE len(w.w) > 0),
            qcell AS (
              SELECT h & 15 AS pos,
                     SUM(CASE WHEN (h >> 4) & 1 = 1 THEN -1 ELSE 1 END) AS s
              FROM qtok GROUP BY pos),
            qvec AS (
              SELECT list(val ORDER BY pos) AS v FROM (
                SELECT p.pos, CAST(COALESCE(c.s, 0) AS DOUBLE) AS val
                FROM (SELECT unnest(range(16)) AS pos) p
                LEFT JOIN qcell c ON c.pos = p.pos)),
            dcos AS (
              SELECT v.doc_id,
                     list_dot_product(v.v, q.v)
                       / NULLIF(sqrt(list_dot_product(v.v, v.v))
                                * sqrt(list_dot_product(q.v, q.v)), 0) AS cosr
              FROM vec v CROSS JOIN qvec q),
            dense AS (
              SELECT doc_id, rn AS cos_rank FROM (
                SELECT doc_id,
                       ROW_NUMBER() OVER (ORDER BY cosr DESC, doc_id ASC) AS rn
                FROM dcos WHERE cosr IS NOT NULL)
              WHERE rn <= 20),
            fused AS (
              SELECT COALESCE(sp.doc_id, de.doc_id) AS doc_id,
                     sp.bm25_rank, de.cos_rank,
                     COALESCE(1.0 / (60 + sp.bm25_rank), 0)
                       + COALESCE(1.0 / (60 + de.cos_rank), 0) AS rrf
              FROM sparse sp FULL OUTER JOIN dense de ON sp.doc_id = de.doc_id)
            SELECT doc_id,
                   CAST(bm25_rank AS INTEGER) AS bm25_rank,
                   CAST(cos_rank AS INTEGER) AS cos_rank,
                   ROUND(rrf, 6) AS rrf_score
            FROM fused
            ORDER BY ROUND(rrf, 6) DESC, doc_id ASC
            LIMIT 10
        """,
        "crawl_frontier": """
            WITH u AS (
              SELECT DISTINCT
                     'https://' || source || '.example/doc/'
                       || CAST(doc_id AS VARCHAR) AS url
              FROM documents),
            h AS (SELECT url,
                         regexp_extract(url, '^https?://([^/]+)', 1) AS host
                  FROM u),
            pr AS (SELECT source || '.example' AS host,
                          COUNT(*)::DOUBLE AS priority
                   FROM documents GROUP BY source),
            j AS (SELECT h.url, h.host, COALESCE(pr.priority, 0.0) AS priority
                  FROM h LEFT JOIN pr ON h.host = pr.host),
            s AS (SELECT url, host, priority,
                         ROW_NUMBER() OVER (
                           PARTITION BY host
                           ORDER BY ('0x' || substr(md5(url), 1, 15))::BIGINT,
                                    url) AS slot
                  FROM j)
            SELECT url, host, priority, CAST(slot AS INTEGER) AS slot,
                   CAST((slot - 1) // 2 AS INTEGER) AS wave
            FROM s
        """,
        "ann_quantized": """
            WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                          FROM embeddings),
            qz AS (
              SELECT vec_id,
                     CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
                          THEN list_transform(v, x -> CAST(floor(
                                 x * 127.0
                                 / list_max(list_transform(v, y -> abs(y))))
                               AS BIGINT))
                          ELSE list_transform(v, x -> CAST(0 AS BIGINT))
                     END AS q
              FROM base),
            pairs AS (
              SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                     list_dot_product(a.q, b.q)
                       / NULLIF(sqrt(list_dot_product(a.q, a.q))
                                * sqrt(list_dot_product(b.q, b.q)), 0) AS cosine
              FROM qz a CROSS JOIN qz b
              WHERE a.vec_id < 5 AND a.vec_id <> b.vec_id)
            SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
                   ROUND(cosine, 6) AS cosine FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
              FROM pairs WHERE cosine IS NOT NULL)
            WHERE rank <= 3
        """,
        "ann_recall": f"""
            WITH {_EMBED_VEC_SQL},
            cent(ci, cv) AS (VALUES {{cent_rows}}),
            exact_pairs AS (
              SELECT q.doc_id AS qid, c.doc_id AS nid,
                     list_sum(list_transform(range(1, 17), i -> q.v[i] * c.v[i]))
                       / NULLIF(
                           sqrt(list_sum(list_transform(range(1, 17), i -> q.v[i] * q.v[i])))
                           * sqrt(list_sum(list_transform(range(1, 17), i -> c.v[i] * c.v[i]))),
                           0) AS cos_raw
              FROM vec q CROSS JOIN vec c
              WHERE q.doc_id < 10 AND q.doc_id <> c.doc_id),
            exact_top AS (
              SELECT qid, nid FROM (
                SELECT qid, nid,
                       ROW_NUMBER() OVER (PARTITION BY qid
                         ORDER BY cos_raw DESC, nid ASC) AS rnk
                FROM exact_pairs WHERE cos_raw IS NOT NULL)
              WHERE rnk <= 2),
            assign AS (
              SELECT doc_id, ci FROM (
                SELECT v.doc_id, t.ci,
                       ROW_NUMBER() OVER (
                         PARTITION BY v.doc_id
                         ORDER BY list_sum(list_transform(range(1, 17),
                             i -> (v.v[i] - t.cv[i]) * (v.v[i] - t.cv[i]))),
                           t.ci) AS rn
                FROM vec v CROSS JOIN cent t)
              WHERE rn = 1),
            probes AS (
              SELECT doc_id, ci FROM (
                SELECT v.doc_id, t.ci,
                       ROW_NUMBER() OVER (
                         PARTITION BY v.doc_id
                         ORDER BY list_sum(list_transform(range(1, 17),
                             i -> (v.v[i] - t.cv[i]) * (v.v[i] - t.cv[i]))),
                           t.ci) AS rn
                FROM vec v CROSS JOIN cent t)
              WHERE rn <= 3),
            cand AS (
              SELECT p.doc_id AS qid, a.doc_id AS nid
              FROM probes p JOIN assign a ON p.ci = a.ci
              WHERE p.doc_id != a.doc_id),
            scored AS (
              SELECT c.qid, c.nid,
                     list_sum(list_transform(range(1, 17), i -> q.v[i] * n.v[i]))
                       / NULLIF(
                           sqrt(list_sum(list_transform(range(1, 17), i -> q.v[i] * q.v[i])))
                           * sqrt(list_sum(list_transform(range(1, 17), i -> n.v[i] * n.v[i]))),
                           0) AS cos_raw
              FROM cand c JOIN vec q ON q.doc_id = c.qid
                JOIN vec n ON n.doc_id = c.nid),
            approx_top AS (
              SELECT DISTINCT qid, nid FROM (
                SELECT qid, nid,
                       ROW_NUMBER() OVER (
                         PARTITION BY qid ORDER BY cos_raw DESC, nid ASC) AS rnk
                FROM scored WHERE cos_raw IS NOT NULL)
              WHERE rnk <= 2 AND qid < 10),
            per AS (
              SELECT e.qid,
                     COUNT(*) AS n_exact,
                     SUM(CASE WHEN a.nid IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
              FROM exact_top e
              LEFT JOIN approx_top a ON a.qid = e.qid AND a.nid = e.nid
              GROUP BY e.qid)
            SELECT qid AS query_id,
                   CAST(n_exact AS BIGINT) AS n_exact,
                   CAST(n_hit AS BIGINT) AS n_hit,
                   ROUND(n_hit / n_exact, 6) AS recall
            FROM per
        """.format(
            cent_rows=", ".join(
                "({}, [{}])".format(
                    i, ", ".join(f"{x:.1f}" for x in c)
                )
                for i, c in enumerate(_ivf_bcast_centroids())
            )
        ),
        # Cluster profile: same integer-exact assignment CTE as
        # semantic_dedup, then per-cluster doc counts and a (count
        # desc, term) row_number top-3 over exploded words.
        "cluster_profile": """
            WITH {_EVS},
            cent(ci, cv) AS (VALUES {cent_rows}),
            assign AS (
              SELECT doc_id, ci FROM (
                SELECT v.doc_id, t.ci,
                       ROW_NUMBER() OVER (
                         PARTITION BY v.doc_id
                         ORDER BY list_sum(list_transform(range(1, 17),
                             i -> (v.v[i] - t.cv[i]) * (v.v[i] - t.cv[i]))),
                           t.ci) AS rn
                FROM vec v CROSS JOIN cent t)
              WHERE rn = 1),
            sizes AS (SELECT ci, COUNT(*) AS n_docs FROM assign GROUP BY ci),
            words AS (
              SELECT d.doc_id, u.term
              FROM documents d,
                   unnest(string_split_regex(lower(trim(d.text)), '\\s+')) AS u(term)
              WHERE u.term <> ''),
            tf AS (
              SELECT a.ci, w.term, COUNT(*) AS term_count
              FROM words w JOIN assign a ON a.doc_id = w.doc_id
              GROUP BY a.ci, w.term),
            top AS (
              SELECT ci, term, term_count,
                     ROW_NUMBER() OVER (
                       PARTITION BY ci ORDER BY term_count DESC, term ASC) AS rank
              FROM tf)
            SELECT CAST(t.ci AS INTEGER) AS cluster, s.n_docs,
                   CAST(t.rank AS INTEGER) AS rank, t.term, t.term_count
            FROM top t JOIN sizes s ON s.ci = t.ci
            WHERE t.rank <= 3
        """.format(
            _EVS=_EMBED_VEC_SQL,
            cent_rows=", ".join(
                "({}, [{}])".format(
                    i, ", ".join(f"{x:.1f}" for x in c)
                )
                for i, c in enumerate(_ivf_lookup_centroids())
            )
        ),
        # DSIR: full recompute of the hashed n-gram importance model —
        # unigram+bigram features, md5-hex15 bucket % 4096, add-0.5
        # smoothing, ln log-ratios summed per doc, round 4. The raw
        # count table covers every doc bucket by construction; only the
        # target side needs COALESCE 0.
        "dsir_weights": f"""
            WITH ws AS (SELECT doc_id, lang, {_WORDS_SQL} AS w FROM documents),
            grams AS (
              SELECT doc_id, lang, u.g FROM ws, unnest(w) AS u(g) WHERE u.g <> ''
              UNION ALL
              SELECT doc_id, lang, w[i.i - 1] || ' ' || w[i.i] AS g
              FROM ws, unnest(range(2, len(w)::BIGINT + 1)) AS i(i)),
            bk AS (SELECT doc_id, lang,
                          ('0x' || substr(md5(g), 1, 15))::BIGINT % 4096 AS b
                   FROM grams),
            rawc AS (SELECT b, COUNT(*) AS c_raw FROM bk GROUP BY b),
            tgtc AS (SELECT b, COUNT(*) AS c_tgt FROM bk
                     WHERE lang = 'en' AND doc_id % 10 = 0 GROUP BY b),
            tot AS (SELECT (SELECT SUM(c_raw) FROM rawc)::DOUBLE AS t_raw,
                           (SELECT SUM(c_tgt) FROM tgtc)::DOUBLE AS t_tgt),
            ratio AS (
              SELECT rawc.b,
                     ln(COALESCE(c_tgt, 0) + 0.5) - ln(t_tgt + 0.5 * 4096)
                     - ln(c_raw + 0.5) + ln(t_raw + 0.5 * 4096) AS log_ratio
              FROM rawc LEFT JOIN tgtc ON rawc.b = tgtc.b CROSS JOIN tot),
            per_doc AS (
              SELECT doc_id, bk.b, COUNT(*) AS c_doc
              FROM bk GROUP BY doc_id, bk.b)
            SELECT doc_id, SUM(c_doc)::BIGINT AS n_ngrams,
                   ROUND(SUM(c_doc * log_ratio), 4) AS logw
            FROM per_doc JOIN ratio ON per_doc.b = ratio.b
            GROUP BY doc_id
        """,
        "dsir_resample": f"""
            WITH ws AS (SELECT doc_id, lang, {_WORDS_SQL} AS w FROM documents),
            grams AS (
              SELECT doc_id, lang, u.g FROM ws, unnest(w) AS u(g) WHERE u.g <> ''
              UNION ALL
              SELECT doc_id, lang, w[i.i - 1] || ' ' || w[i.i] AS g
              FROM ws, unnest(range(2, len(w)::BIGINT + 1)) AS i(i)),
            bk AS (SELECT doc_id, lang,
                          ('0x' || substr(md5(g), 1, 15))::BIGINT % 4096 AS b
                   FROM grams),
            rawc AS (SELECT b, COUNT(*) AS c_raw FROM bk GROUP BY b),
            tgtc AS (SELECT b, COUNT(*) AS c_tgt FROM bk
                     WHERE lang = 'en' AND doc_id % 10 = 0 GROUP BY b),
            tot AS (SELECT (SELECT SUM(c_raw) FROM rawc)::DOUBLE AS t_raw,
                           (SELECT SUM(c_tgt) FROM tgtc)::DOUBLE AS t_tgt),
            ratio AS (
              SELECT rawc.b,
                     ln(COALESCE(c_tgt, 0) + 0.5) - ln(t_tgt + 0.5 * 4096)
                     - ln(c_raw + 0.5) + ln(t_raw + 0.5 * 4096) AS log_ratio
              FROM rawc LEFT JOIN tgtc ON rawc.b = tgtc.b CROSS JOIN tot),
            per_doc AS (
              SELECT doc_id, bk.b, COUNT(*) AS c_doc
              FROM bk GROUP BY doc_id, bk.b),
            wts AS (
              SELECT doc_id, SUM(c_doc)::BIGINT AS n_ngrams,
                     ROUND(SUM(c_doc * log_ratio), 4) AS logw
              FROM per_doc JOIN ratio ON per_doc.b = ratio.b
              GROUP BY doc_id),
            keyed AS (
              SELECT doc_id, n_ngrams, logw,
                     ROUND(logw + (-ln(-ln(
                       (('0x' || substr(md5('ep0:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                          % 10000 + 0.5) / 10000.0))), 4) AS gumbel_key
              FROM wts)
            (SELECT doc_id, n_ngrams, logw, gumbel_key FROM keyed
             ORDER BY gumbel_key DESC, doc_id ASC LIMIT 40)
        """,
        "semantic_dedup": _semantic_dedup_oracle(_ivf_lookup_centroids()),
        "semantic_dedup_bcast": _semantic_dedup_oracle(
            _semantic_bcast_centroids()
        ),
        # Anchor profile: the _anchor_profile_pages synthesis replayed
        # arithmetically — (dst, anchor) counts, per-dst rank window
        # ((n desc, anchor asc)), windowed total, host-level corpus
        # join (page hosts t0..t19, targets t0..t24).
        "anchor_profile": """
            WITH links AS (
              SELECT CAST(doc_id % 25 AS VARCHAR) AS k,
                     'https://t' || CAST(doc_id % 25 AS VARCHAR)
                       || '.example/page' AS dst,
                     'kw' || CAST(doc_id % 3 AS VARCHAR) AS anchor
              FROM documents
              UNION ALL
              SELECT CAST(doc_id % 25 AS VARCHAR),
                     'https://t' || CAST(doc_id % 25 AS VARCHAR)
                       || '.example/page',
                     'hub'
              FROM documents WHERE doc_id % 4 = 0),
            counts AS (
              SELECT k, dst, anchor, COUNT(*) AS n_anchor
              FROM links GROUP BY k, dst, anchor),
            ranked AS (
              SELECT k, dst, anchor, n_anchor,
                     ROW_NUMBER() OVER (
                       PARTITION BY dst
                       ORDER BY n_anchor DESC, anchor) AS rank,
                     SUM(n_anchor) OVER (PARTITION BY dst) AS n_links
              FROM counts),
            hosts AS (
              SELECT DISTINCT CAST(doc_id % 20 AS VARCHAR) AS hk
              FROM documents)
            SELECT dst, CAST(rank AS INTEGER) AS rank, anchor,
                   CAST(n_anchor AS BIGINT) AS n_anchor,
                   CAST(n_links AS BIGINT) AS n_links,
                   (hk IS NOT NULL) AS in_corpus
            FROM ranked LEFT JOIN hosts ON ranked.k = hosts.hk
            WHERE rank <= 2
        """,
        # Anchor texts: the _link_pages synthesis replayed — absolute
        # link anchor 'x', root-relative '}s' (the regexp captures up
        # to the next '<': the '>' that closes the a-tag of the
        # FOLLOWING match never appears because matches are
        # non-overlapping left-to-right; here anchors are literal).
        "anchor_texts": """
            WITH docs AS (
              SELECT doc_id,
                     'https://src' || CAST(doc_id % 20 AS VARCHAR)
                       || '.example/doc/' || CAST(doc_id AS VARCHAR) AS src,
                     'src' || CAST(doc_id % 20 AS VARCHAR) || '.example' AS src_host,
                     'src' || CAST((doc_id * 7) % 20 AS VARCHAR) || '.example' AS t1,
                     'src' || CAST((doc_id * 3) % 20 AS VARCHAR) || '.example' AS t2
              FROM documents)
            SELECT src, 'https://' || t1 || '/p' AS dst, 'x' AS anchor FROM docs
            UNION ALL
            SELECT src, 'https://' || src_host || '/self', 's'
            FROM docs WHERE doc_id % 2 = 0
            UNION ALL
            SELECT src, 'https://' || t2 || '/q', 'y'
            FROM docs WHERE doc_id % 5 = 0
        """,
        # Webgraph: the synthesis rule replayed arithmetically (the
        # Spark side actually regex-extracts from the html it built).
        "host_graph": """
            WITH links AS (
              SELECT 'src' || CAST(doc_id % 20 AS VARCHAR) || '.example' AS src_host,
                     'src' || CAST((doc_id * 7) % 20 AS VARCHAR) || '.example' AS dst_host
              FROM documents
              UNION ALL
              SELECT 'src' || CAST(doc_id % 20 AS VARCHAR) || '.example',
                     'src' || CAST(doc_id % 20 AS VARCHAR) || '.example'
              FROM documents WHERE doc_id % 2 = 0
              UNION ALL
              SELECT 'src' || CAST(doc_id % 20 AS VARCHAR) || '.example',
                     'src' || CAST((doc_id * 3) % 20 AS VARCHAR) || '.example'
              FROM documents WHERE doc_id % 5 = 0)
            SELECT src_host, dst_host, COUNT(*) AS n_links
            FROM links GROUP BY src_host, dst_host
        """,
        # PageRank: three chained iterations, identical arithmetic
        # (rank*w/outw inflow sums, base + d*inflow), round-6 output.
        "host_pagerank": """
            WITH links AS (
              SELECT 'src' || CAST(doc_id % 20 AS VARCHAR) || '.example' AS sh,
                     'src' || CAST((doc_id * 7) % 20 AS VARCHAR) || '.example' AS dh
              FROM documents
              UNION ALL
              SELECT 'src' || CAST(doc_id % 20 AS VARCHAR) || '.example',
                     'src' || CAST(doc_id % 20 AS VARCHAR) || '.example'
              FROM documents WHERE doc_id % 2 = 0
              UNION ALL
              SELECT 'src' || CAST(doc_id % 20 AS VARCHAR) || '.example',
                     'src' || CAST((doc_id * 3) % 20 AS VARCHAR) || '.example'
              FROM documents WHERE doc_id % 5 = 0),
            e AS (
              SELECT sh AS u, dh AS v, COUNT(*)::DOUBLE AS w
              FROM links WHERE sh <> dh GROUP BY sh, dh),
            outd AS (SELECT u, SUM(w) AS outw FROM e GROUP BY u),
            nodes AS (SELECT DISTINCT u FROM (SELECT u FROM e UNION ALL SELECT v FROM e)),
            nn AS (SELECT COUNT(*)::DOUBLE AS n FROM nodes),
            r0 AS (SELECT u, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
            i1 AS (
              SELECT nodes.u,
                     (0.15 / (SELECT n FROM nn))
                       + 0.85 * COALESCE(s.infl, 0.0) AS rank
              FROM nodes LEFT JOIN (
                SELECT e.v AS u, SUM(r0.rank * e.w / outd.outw) AS infl
                FROM e JOIN r0 ON r0.u = e.u JOIN outd ON outd.u = e.u
                GROUP BY e.v) s ON s.u = nodes.u),
            i2 AS (
              SELECT nodes.u,
                     (0.15 / (SELECT n FROM nn))
                       + 0.85 * COALESCE(s.infl, 0.0) AS rank
              FROM nodes LEFT JOIN (
                SELECT e.v AS u, SUM(i1.rank * e.w / outd.outw) AS infl
                FROM e JOIN i1 ON i1.u = e.u JOIN outd ON outd.u = e.u
                GROUP BY e.v) s ON s.u = nodes.u),
            i3 AS (
              SELECT nodes.u,
                     (0.15 / (SELECT n FROM nn))
                       + 0.85 * COALESCE(s.infl, 0.0) AS rank
              FROM nodes LEFT JOIN (
                SELECT e.v AS u, SUM(i2.rank * e.w / outd.outw) AS infl
                FROM e JOIN i2 ON i2.u = e.u JOIN outd ON outd.u = e.u
                GROUP BY e.v) s ON s.u = nodes.u)
            SELECT u AS host, ROUND(rank, 6) AS rank FROM i3
        """,
        # clean_text: same dirt injection, then the full normalization
        # chain in RE2 (note the 'g' flags) + translate + trim. The
        # translate to-chars are built from chr() to dodge quoting.
        "clean_text": """
            WITH dirty AS (
              SELECT doc_id,
                     chr(1) || chr(8220) || 'dirty' || chr(8221) || ' '
                       || replace(text, ' ', '  ')
                       || chr(8203) || ' line' || repeat(chr(10), 4) || 'end  ' AS t
              FROM documents),
            cleaned AS (
              SELECT doc_id,
                     len(regexp_extract_all(t, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]')) AS n_ctrl,
                     len(regexp_extract_all(t, '[\\x{200b}\\x{200c}\\x{200d}\\x{feff}]')) AS n_zw,
                     trim(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(
                             translate(
                               regexp_replace(
                                 regexp_replace(t, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
                                 '[\\x{200b}\\x{200c}\\x{200d}\\x{feff}]', '', 'g'),
                               chr(8216) || chr(8217) || chr(8220) || chr(8221)
                                 || chr(8211) || chr(8212) || chr(160),
                               chr(39) || chr(39) || chr(34) || chr(34) || '--' || ' '),
                             '[ \\t]+', ' ', 'g'),
                           ' ?\\n ?', chr(10), 'g'),
                         '\\n{3,}', chr(10) || chr(10), 'g')
                     ) AS clean
              FROM dirty)
            SELECT doc_id, clean, n_ctrl::BIGINT AS n_ctrl, n_zw::BIGINT AS n_zw
            FROM cleaned
        """,
        # Gopher rules: full recompute — word/char counts, symbol and
        # ellipsis counts via replace-length deltas, line filters,
        # alpha regexp, stopword intersect; flags on UNROUNDED ratios.
        "gopher_rules": f"""
            WITH base AS (
              SELECT doc_id, COALESCE(text, '') AS t,
                     list_filter(string_split_regex(lower(trim(COALESCE(text, ''))), '\\s+'),
                                 x -> x <> '') AS w
              FROM documents),
            m AS (
              SELECT doc_id, t, w,
                     len(w) AS n_words,
                     list_sum(list_transform(w, x -> length(x)))::DOUBLE
                       / NULLIF(len(w), 0) AS mean_wl,
                     ((length(t) - length(replace(t, '#', '')))
                      + (length(t) - length(replace(t, '...', ''))) / 3.0)
                       / NULLIF(len(w), 0) AS sym_ratio,
                     len(list_filter(w, x -> regexp_matches(x, '[a-z]')))::DOUBLE
                       / NULLIF(len(w), 0) AS alpha_ratio,
                     len(list_intersect(list_distinct(w),
                         ['the','be','to','of','and','that','have','with'])) AS n_stop,
                     list_filter(string_split(t, chr(10)),
                                 ln -> trim(ln) <> '') AS lines
              FROM base),
            m2 AS (
              SELECT *,
                     len(list_filter(lines, ln ->
                         starts_with(trim(ln), '-') OR starts_with(trim(ln), '*')
                         OR starts_with(trim(ln), '•')))::DOUBLE
                       / NULLIF(len(lines), 0) AS bullet_ratio,
                     len(list_filter(lines, ln -> ends_with(rtrim(ln), '...')))::DOUBLE
                       / NULLIF(len(lines), 0) AS ell_ratio
              FROM m)
            SELECT doc_id,
                   n_words::BIGINT AS n_words,
                   ROUND(mean_wl, 6) AS mean_word_len,
                   ROUND(sym_ratio, 6) AS symbol_word_ratio,
                   ROUND(alpha_ratio, 6) AS alpha_word_ratio,
                   CAST(n_stop AS INTEGER) AS n_stopword_hits,
                   (n_words >= 20 AND n_words <= 100000) AS ok_words,
                   COALESCE(n_words > 0 AND mean_wl >= 3.0 AND mean_wl <= 10.0, FALSE) AS ok_word_len,
                   COALESCE(n_words > 0 AND sym_ratio <= 0.1, FALSE) AS ok_symbols,
                   COALESCE(bullet_ratio <= 0.9, TRUE) AS ok_bullets,
                   COALESCE(ell_ratio <= 0.3, TRUE) AS ok_ellipsis,
                   COALESCE(n_words > 0 AND alpha_ratio >= 0.8, FALSE) AS ok_alpha,
                   (n_stop >= 2) AS ok_stopwords,
                   ((n_words >= 20 AND n_words <= 100000)
                    AND COALESCE(n_words > 0 AND mean_wl >= 3.0 AND mean_wl <= 10.0, FALSE)
                    AND COALESCE(n_words > 0 AND sym_ratio <= 0.1, FALSE)
                    AND COALESCE(bullet_ratio <= 0.9, TRUE)
                    AND COALESCE(ell_ratio <= 0.3, TRUE)
                    AND COALESCE(n_words > 0 AND alpha_ratio >= 0.8, FALSE)
                    AND (n_stop >= 2)) AS gopher_keep
            FROM m2
        """,
        # Blocklist: same url synthesis; a doc survives unless its
        # host equals a blocked domain or ends with '.'+domain.
        "url_blocklist": """
            WITH docs AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0
                          THEN 'https://cdn.' || source || '.example/doc/' || CAST(doc_id AS VARCHAR)
                          ELSE 'https://' || source || '.example/doc/' || CAST(doc_id AS VARCHAR)
                     END AS url
              FROM documents),
            h AS (SELECT doc_id, url,
                         lower(regexp_extract(url, '^https?://([^/]+)', 1)) AS host
                  FROM docs)
            SELECT doc_id, url FROM h
            WHERE host = '' OR NOT EXISTS (
              SELECT 1 FROM (VALUES ('src12.example'), ('src3.example'),
                                    ('src7.example')) b(d)
              WHERE h.host = b.d OR ends_with(h.host, '.' || b.d))
        """,
        # Leakage-safe splits: md5-hex15 bucket of the HOST, cumulative
        # thresholds in sorted split-name order (test 1000, train 9000,
        # val 10000 of denom 10000) — exactly split_corpus's arithmetic.
        "corpus_split": """
            SELECT doc_id, source,
                   CASE WHEN b < 1000 THEN 'test'
                        WHEN b < 9000 THEN 'train'
                        ELSE 'val' END AS split
            FROM (SELECT doc_id, source,
                         ('0x' || substr(md5(source), 1, 15))::BIGINT % 10000 AS b
                  FROM documents)
        """,
        # Crawl diff: the same deterministic old/new synthesis, sha256
        # digests (NULL text digests to the 'null' sentinel — cannot
        # collide with 64-hex sha2 output), FULL OUTER on the id, and
        # the same 4-way status CASE.
        "crawl_diff": """
            WITH newsnap AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
              FROM documents WHERE doc_id % 7 <> 0
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 11 = 0),
            o AS (SELECT doc_id,
                         CASE WHEN text IS NULL THEN 'null'
                              ELSE sha256(text) END AS old_digest
                  FROM documents),
            n AS (SELECT doc_id,
                         CASE WHEN text IS NULL THEN 'null'
                              ELSE sha256(text) END AS new_digest
                  FROM newsnap)
            SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
                   CASE WHEN o.old_digest IS NULL THEN 'added'
                        WHEN n.new_digest IS NULL THEN 'deleted'
                        WHEN o.old_digest <> n.new_digest THEN 'changed'
                        ELSE 'unchanged' END AS status,
                   o.old_digest, n.new_digest
            FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        """,
        # As-of oracle: DuckDB's NATIVE ASOF LEFT JOIN — an independent
        # engine implementation of backward-inclusive as-of semantics.
        # Right side pre-collapsed to one row per (user, ts) by max
        # event_id, mirroring tie_col; epoch_us for integer comparison.
        "asof_join": """
            WITH l AS (SELECT event_id, user_id, ts FROM events
                       WHERE event_type = 'click'),
            r0 AS (SELECT user_id, ts, event_id, value FROM events
                   WHERE event_type = 'view' AND ts IS NOT NULL),
            r AS (SELECT user_id, ts,
                         arg_max(event_id, event_id) AS event_id,
                         arg_max(value, event_id) AS value
                  FROM r0 GROUP BY user_id, ts)
            SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
                   epoch_us(r.ts) AS view_ts_us,
                   r.event_id AS view_event_id,
                   ROUND(r.value, 6) AS view_value
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        # Forward-with-tolerance oracle: ASOF with l.ts <= r.ts picks
        # the nearest later view; the tolerance CASE nulls the whole
        # match (id, ts, value together) beyond one hour. max_by tie
        # collapse as in asof_join. epoch() diff is in seconds.
        "asof_forward": """
            WITH l AS (SELECT event_id, user_id, ts FROM events
                       WHERE event_type = 'click'),
            r0 AS (SELECT user_id, ts, event_id, value FROM events
                   WHERE event_type = 'view' AND ts IS NOT NULL),
            r AS (SELECT user_id, ts,
                         arg_max(event_id, event_id) AS event_id,
                         arg_max(value, event_id) AS value
                  FROM r0 GROUP BY user_id, ts),
            j AS (
              SELECT l.event_id, l.user_id, l.ts AS lts, r.ts AS rts,
                     r.event_id AS rid, r.value AS rv,
                     (r.ts IS NOT NULL
                      AND abs(epoch(l.ts) - epoch(r.ts)) <= 3600.0) AS ok
              FROM l ASOF LEFT JOIN r
                ON l.user_id = r.user_id AND l.ts <= r.ts)
            SELECT event_id, user_id, epoch_us(lts) AS ts_us,
                   CASE WHEN ok THEN epoch_us(rts) END AS view_ts_us,
                   CASE WHEN ok THEN rid END AS view_event_id,
                   CASE WHEN ok THEN ROUND(rv, 6) END AS view_value
            FROM j
        """,
        # Churn rollup: same synthesis as crawl_diff but over
        # 'https://<source>/doc/<id>' urls; host = regexp of the url;
        # counts exact, churn round-6.
        "crawl_churn": """
            WITH docs AS (
              SELECT 'https://' || source || '/doc/' || CAST(doc_id AS VARCHAR) AS url,
                     text, doc_id FROM documents),
            newsnap AS (
              SELECT url,
                     CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
              FROM docs WHERE doc_id % 7 <> 0
              UNION ALL
              SELECT 'https://recrawl.example/doc/' || CAST(doc_id AS VARCHAR), text
              FROM docs WHERE doc_id % 11 = 0),
            o AS (SELECT url, CASE WHEN text IS NULL THEN 'null'
                              ELSE sha256(text) END AS od FROM docs),
            n AS (SELECT url, CASE WHEN text IS NULL THEN 'null'
                              ELSE sha256(text) END AS nd FROM newsnap),
            d AS (
              SELECT COALESCE(o.url, n.url) AS url,
                     CASE WHEN o.od IS NULL THEN 'added'
                          WHEN n.nd IS NULL THEN 'deleted'
                          WHEN o.od <> n.nd THEN 'changed'
                          ELSE 'unchanged' END AS status
              FROM o FULL OUTER JOIN n ON o.url = n.url)
            SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
                   COUNT(*) AS n_urls,
                   SUM((status = 'added')::BIGINT) AS n_added,
                   SUM((status = 'changed')::BIGINT) AS n_changed,
                   SUM((status = 'deleted')::BIGINT) AS n_deleted,
                   SUM((status = 'unchanged')::BIGINT) AS n_unchanged,
                   ROUND((COUNT(*) - SUM((status = 'unchanged')::BIGINT))::DOUBLE
                         / COUNT(*), 6) AS churn
            FROM d GROUP BY 1
        """,
        # Exact percentile summary: quantile_cont's linear interpolation
        # is the same rank p*(n-1) rule as Spark's percentile; integer
        # inputs make it bit-equal, round-6 rides any ulp.
        "corpus_quantiles": """
            SELECT lang, COUNT(n_chars) AS n,
                   ROUND(AVG(n_chars), 6) AS mean,
                   ROUND(quantile_cont(n_chars, 0.25), 6) AS p25,
                   ROUND(quantile_cont(n_chars, 0.5), 6) AS p50,
                   ROUND(quantile_cont(n_chars, 0.9), 6) AS p90,
                   ROUND(quantile_cont(n_chars, 0.99), 6) AS p99
            FROM documents GROUP BY lang
        """,
        # Serving-mode BM25: identical scoring, but corpus stats (N,
        # avg length) are those the inverted file can see — documents
        # with at least one non-empty token (an all-whitespace doc has
        # no index rows). Same rounded-score/id cut as the Spark side.
        "bm25_serve": f"""
            WITH ws0 AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
            ws AS (SELECT doc_id, w FROM ws0
                   WHERE len(list_filter(w, x -> x <> '')) > 0),
            st AS (SELECT COUNT(*)::DOUBLE AS n_docs, AVG(len(w)) AS avg_len FROM ws),
            q(t) AS (VALUES ('filter'), ('merge'), ('stream'), ('vector')),
            tf AS (
              SELECT doc_id, len(w) AS dl, u.t, COUNT(*) AS tf
              FROM ws, unnest(w) AS u(t)
              WHERE u.t IN (SELECT t FROM q)
              GROUP BY doc_id, len(w), u.t),
            dfreq AS (SELECT t, COUNT(*)::DOUBLE AS df FROM tf GROUP BY t),
            scored AS (
              SELECT tf.doc_id,
                     COUNT(*) AS n_hit_terms,
                     SUM(ln((st.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                         * (tf.tf * (1.2 + 1.0))
                         / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / st.avg_len))
                     ) AS s
              FROM tf JOIN dfreq d ON tf.t = d.t CROSS JOIN st
              GROUP BY tf.doc_id)
            SELECT doc_id, CAST(n_hit_terms AS BIGINT) AS n_hit_terms,
                   ROUND(s, 4) AS score
            FROM scored
            ORDER BY ROUND(s, 4) DESC, doc_id ASC
            LIMIT 20
        """,
        # BPE merge learning: iterative argmax loop — not single-SQL
        # expressible; golden from the integer-exact pure-Python mirror
        # (freshness-guarded by tests/test_goldens.py).
        "bpe_merges": """
            SELECT CAST(rank AS INTEGER) AS rank, "left", "right", merged,
                   CAST(pair_count AS BIGINT) AS pair_count
            FROM read_parquet('/root/repo/dist/golden/bpe_sf001.parquet')
        """,
        # extract_pipeline: INDEPENDENT derivation — DuckDB recomputes the
        # expected extraction output straight from the documents table and
        # the deterministic page synthesis (_pages_from_documents), never
        # touching the kernel or the golden parquet. Derivation (traced
        # from the extractor SPEC, ocr_poc_spark/extractor.py):
        #
        #   The synthesised page parses to exactly 13 blocks:
        #     0 title "Doc N"            depth 3, ld=0
        #     1 li "Home"   (nav boiler) ld=1 -> score 0.219  (<0.3 noise)
        #     2 li "News"   (nav boiler) ld=1 -> score 0.219
        #     3 li "About"  (nav boiler) ld=1 -> score 0.2213
        #     4 p "We use cookies"       ld=0 -> score 0.805  (STOP_PHRASE)
        #     5 h1 "Doc N"               ld=0
        #     6 p "Author"               ld=0 -> score 0.745  (anchor)
        #     7 p "Writer K"             ld=0  (K = doc_id%20)
        #     8 p "D.M.YYYY"             ld=0  (fixed claim: pub_date)
        #     9 p "R min read"           ld=0  (fixed claim: reading_time)
        #    10 p <text>                 ld=0
        #    11 p "All rights reserved"  (footer boiler) -> 0.8425
        #    12 p "Terms of service"     (footer boiler, ld=1) -> 0.246
        #   block_score = ROUND((1-0.7*ld)*(0.7+0.3*LEAST(1,n/40)), 4);
        #   quality = mean of all 13 scores (all > 0), summed in block
        #   order (float addition order matters for last-ulp exactness).
        #   Cascade outcome: preprocess keeps blocks {0,5,6,7,8,9,10};
        #   pub_date/reading_time claimed by the fixed battery; "Writer K"
        #   is fuzzy-label-matched (WRITER~WRITTEN BY >= 0.75) so the
        #   proximity binding from the "Author" anchor binds the ONLY
        #   remaining candidate below it — the text paragraph; the two
        #   "Doc N" blocks are consumed by the title/category positional
        #   fallback; body ends empty (every survivor consumed) -> NULL.
        #   confidence = 5 filled of 7 html/article fields.
        #   The committed golden (dist/golden/extract_sf001.parquet,
        #   produced by the sequential kernel) remains a second witness:
        #   tests/test_goldens.py asserts golden == this derivation.
        "extract_pipeline": """
            WITH d AS (
              SELECT doc_id, lang, text,
                     doc_id % 28 + 1 AS day, doc_id % 12 + 1 AS month,
                     doc_id % 15 + 2010 AS yr,
                     doc_id % 20 AS writer, doc_id % 40 + 2 AS rt
              FROM documents
            ), s AS (
              SELECT *,
                ROUND(0.7::DOUBLE + 0.3::DOUBLE * LEAST(1.0::DOUBLE,
                  (4 + LENGTH(CAST(doc_id AS VARCHAR)))::DOUBLE / 40.0::DOUBLE), 4) AS s_docn,
                ROUND(0.7::DOUBLE + 0.3::DOUBLE * LEAST(1.0::DOUBLE,
                  (7 + LENGTH(CAST(writer AS VARCHAR)))::DOUBLE / 40.0::DOUBLE), 4) AS s_writer,
                ROUND(0.7::DOUBLE + 0.3::DOUBLE * LEAST(1.0::DOUBLE,
                  (6 + LENGTH(CAST(day AS VARCHAR)) + LENGTH(CAST(month AS VARCHAR)))::DOUBLE / 40.0::DOUBLE), 4) AS s_date,
                ROUND(0.7::DOUBLE + 0.3::DOUBLE * LEAST(1.0::DOUBLE,
                  (9 + LENGTH(CAST(rt AS VARCHAR)))::DOUBLE / 40.0::DOUBLE), 4) AS s_rt,
                ROUND(0.7::DOUBLE + 0.3::DOUBLE * LEAST(1.0::DOUBLE,
                  LENGTH(text)::DOUBLE / 40.0::DOUBLE), 4) AS s_text
              FROM d
            )
            SELECT
              'https://docs.example/' || lang || '/' || doc_id AS url,
              'html/article' AS doc_kind,
              TRUE AS success,
              ROUND((s_docn + 0.219::DOUBLE + 0.219::DOUBLE + 0.2213::DOUBLE
                     + 0.805::DOUBLE + s_docn + 0.745::DOUBLE + s_writer
                     + s_date + s_rt + s_text + 0.8425::DOUBLE
                     + 0.246::DOUBLE) / 13.0::DOUBLE, 6) AS quality_score,
              ROUND(5.0::DOUBLE / 7.0::DOUBLE, 6) AS confidence,
              'Doc ' || doc_id AS title,
              text AS author,
              day || '.' || month || '.' || yr AS pub_date,
              rt || ' min' AS reading_time,
              CAST(NULL AS VARCHAR) AS body_text,
              CAST(13 AS INTEGER) AS n_blocks
            FROM s
        """,
    }
