"""Driver contract for the spark-graft builder (PySpark target).

entry() runs the flagship extraction (the fused map-only kernel) over
pages synthesised from the documents table of the test data. queries()
holds 31 queries. The first 29 are the production-path contract: 16 pure-
relational re-expressions of the cascade's SQL shapes (SURVEY.md §2), 8
queries over the operators of the production path (extraction, MinHash
dedup and components, crawl diff and churn, host cap, boilerplate
shingles, language ID), and 5 that tests/test_entry_contract.py pins,
written out here in full because no production stage runs them. The
last 2 are the crawl-policy gates behind the CLI's --blocklist and
--robots (domain blocklist, robots rules). EVERY query has a DuckDB
oracle in oracle_sql() that re-derives its result in SQL (incl. the
exact all-pairs Jaccard behind MinHash and the HTML
extraction cascade's fields over the synthesised page template); the
committed extraction golden from the sequential kernel
(scripts/make_goldens.py) is a second witness for the cascade.

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


def q_dedup_ngram_jaccard(spark, sf_dir):  # word-set Jaccard of 30-word prefixes
    from ocr_poc_spark.functions.texthash import norm_words

    d = _t(spark, sf_dir, "documents", spread=True)
    ws = F.array_distinct(F.slice(norm_words("text"), 1, 30))
    a = d.select(F.col("doc_id").alias("id_a"), "source", "lang", ws.alias("wa"))
    b = d.select(F.col("doc_id").alias("id_b"), "source", "lang", ws.alias("wb"))
    # split() never yields an empty array, so the union is never empty
    jac = F.size(F.array_intersect("wa", "wb")) / F.size(F.array_union("wa", "wb"))
    pairs = a.join(b, ["source", "lang"]).where((F.col("id_a") < F.col("id_b")) & (jac >= 0.6))
    return pairs.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))


def q_dedup_minhash(spark, sf_dir):  # MinHash+LSH, exact-Jaccard verified
    from ocr_poc_spark.operators.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents", spread=True)
    return minhash_lsh_pairs(d, jaccard_threshold=0.5).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


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


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def _vectors(df: DataFrame, id_col: str, vec) -> DataFrame:
    """(id, v, n): the vector as doubles and its norm, computed once per
    vector rather than once per pair."""
    v = df.select(F.col(id_col).alias("id"), vec.cast("array<double>").alias("v"))
    return v.withColumn("n", F.sqrt(_dot("v", "v")))


def _side(vecs: DataFrame, name: str, *keep: str) -> DataFrame:
    """One side of a pair join: (name_id, name_v, name_n) and `keep`."""
    return vecs.select(*[F.col(c).alias(f"{name}_{c}") for c in ("id", "v", "n")], *keep)


def _cosine_or_null(a: str, b: str):
    """Exact cosine of sides a and b, NULL when either norm is zero (the
    oracles' NULLIF): under ANSI mode 0/0 fails the job, and NaN sorts first
    under DESC. A zero vector has no direction, so it is nobody's neighbor."""
    denom = F.col(f"{a}_n") * F.col(f"{b}_n")
    return F.when(denom > 0, _dot(f"{a}_v", f"{b}_v") / denom)


def _top_k(pairs: DataFrame, k: int) -> DataFrame:
    """Each query's k best neighbors, ranked on the unrounded cosine (desc,
    then neighbor_id asc); zero-norm pairs drop out before ranking."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("cosine", _cosine_or_null("query", "neighbor"))
        .where(F.col("cosine").isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


def _hash_vectors(docs: DataFrame) -> DataFrame:
    """Dim-16 hashing-trick vectors of doc text: each word adds -1 (bit 4 of
    its 60-bit hash set) or +1 to cell `hash & 15`. Integer cells keep every
    dot product and norm exact, so the oracles match the cosines bit for bit."""
    from ocr_poc_spark.functions.texthash import hash60, norm_words

    hashes = F.transform(F.filter(norm_words("text"), lambda w: F.length(w) > 0), hash60)

    def add(acc, h):
        sign = F.when(F.shiftright(h, 4).bitwiseAND(1) == 1, -1.0).otherwise(1.0)
        # the two-argument lambda is deliberate: i is the cell index
        return F.transform(acc, lambda x, i: x + F.when(h.bitwiseAND(15) == i, sign).otherwise(0.0))

    return _vectors(docs, "doc_id", F.aggregate(hashes, F.array_repeat(F.lit(0.0), 16), add))


def q_embedding_topk(spark, sf_dir):  # exact cosine top-3 of vectors 0-4
    vecs = _vectors(_t(spark, sf_dir, "embeddings"), "vec_id", F.col("embedding"))
    pairs = F.broadcast(_side(vecs.where("id < 5"), "query")).crossJoin(_side(vecs, "neighbor"))
    return _top_k(pairs.where("query_id != neighbor_id"), 3)


def _ivf_bcast_centroids() -> list[list[float]]:
    """80 INTEGER centroids shared by q_ann_ivf_bcast and its SQL oracle:
    a k ~ sqrt(n) quantizer that keeps every distance exact in doubles."""
    import numpy as np

    rs = np.random.RandomState(29)
    return rs.randint(-3, 4, size=(80, 16)).astype(float).tolist()


def q_ann_ivf_bcast(spark, sf_dir):
    """IVF ANN self-search over hashing-trick vectors: a vector's 3 nearest
    centroids (squared distance, then centroid id) are its probes and the
    nearest is its cluster; the candidates are the other vectors of a
    probed cluster, re-ranked by exact cosine."""
    # Spread by id: the per-id window then needs no shuffle of its own,
    # which AQE would coalesce, running every pair below in one task. The
    # clusters are broadcast, since a shuffle on ci would put each
    # cluster's quadratic pair count in one task.
    docs = _t(spark, sf_dir, "documents")
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    vecs = _hash_vectors(docs.repartition(n, "doc_id"))
    cents = spark.createDataFrame(
        list(enumerate(_ivf_bcast_centroids())), "ci int, cv array<double>"
    )
    diff = F.zip_with("v", "cv", lambda x, y: x - y)
    nearest = Window.partitionBy("id").orderBy(_dot(diff, diff), "ci")
    probes = vecs.crossJoin(F.broadcast(cents)).withColumn("rn", F.row_number().over(nearest))
    pairs = _side(probes.where("rn <= 3"), "query", "ci").join(
        F.broadcast(_side(probes.where("rn = 1"), "neighbor", "ci")), "ci"
    )
    return _top_k(pairs.where("query_id != neighbor_id"), 2)


def q_lang_id(spark, sf_dir):  # stopword-argmax language ID and its hit counts
    from ocr_poc_spark.functions.texthash import norm_words
    from ocr_poc_spark.operators.textstats import LANGS, _stopword_hits, lang_guess_expr

    hits = _stopword_hits(F.array_distinct(norm_words("text")))
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("lang").alias("lang_true"),
        lang_guess_expr(F.col("text")).alias("lang_guess"),
        *[h.alias(f"hits_{lang}") for lang, h in zip(LANGS, hits)],
    )


def q_fingerprint(spark, sf_dir):  # md5 + winnowed 5-word-shingle fingerprints
    from ocr_poc_spark.functions.texthash import shingle_hashes

    # Docs under 5 words have no shingle, so winnow_fp is NULL
    # (array_min of the empty array, as DuckDB's list_min).
    norm = F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
    d = _t(spark, sf_dir, "documents", spread=True).withColumn("_w", F.split(norm, " "))
    return d.select(
        "doc_id", F.md5(norm).alias("md5_fp"),
        F.array_min(shingle_hashes("_w", 5)).alias("winnow_fp"),
    )


def q_text_embed_near_dup(spark, sf_dir):
    # hashing-trick vectors, then every pair with exact cosine >= 0.99
    vecs = _hash_vectors(_t(spark, sf_dir, "documents", spread=True))
    return (
        _side(vecs, "a").join(_side(vecs, "b"), F.col("a_id") < F.col("b_id"))
        .withColumn("cosine", _cosine_or_null("a", "b"))
        .where("cosine >= 0.99")
        .select(
            F.col("a_id").alias("id_a"), F.col("b_id").alias("id_b"),
            F.round("cosine", 6).alias("cosine"),
        )
    )


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

    return boilerplate_shingle_stats(_t(spark, sf_dir, "documents", spread=True))


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


def q_crawl_diff(spark, sf_dir):
    """Crawl-snapshot diff (operators/crawl.py): classify every url
    across two snapshots as added/deleted/changed/unchanged from sha2
    content digests — the batch primitive that lets a rolling crawl
    re-process only changed pages. Old = the documents table; new =
    a deterministic edit (drop doc_id%7==0, append ' v2' to text of
    doc_id%5==0, add doc_id%11==0 under shifted ids), derived
    identically in both engines."""
    from ocr_poc_spark.operators.crawl import crawl_diff

    # crawl_diff keys on `url`: the doc id rides under that name.
    docs = _t(spark, sf_dir, "documents", spread=True).select(
        F.col("doc_id").alias("url"), "text"
    )
    did = F.col("url")
    new = (
        docs.where(did % 7 != 0)
        .select(
            "url",
            F.when(did % 5 == 0, F.concat(F.col("text"), F.lit(" v2")))
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            docs.where(did % 11 == 0).select((did + 1000000).alias("url"), "text")
        )
    )
    return crawl_diff(docs, new).withColumnRenamed("url", "doc_id")


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


def q_host_cap(spark, sf_dir):  # domain-balance cap, stable hash order
    from ocr_poc_spark.operators.curation import host_rank

    d = _t(spark, sf_dir, "documents").select("doc_id", F.col("source").alias("host"))
    return (
        host_rank(d)
        .where(F.col("host_rank") <= 5)
        .withColumnRenamed("host", "source")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # The correctness gate checks the first 50 entries; all 31 sit
    # inside that window, so every entry is checked against its
    # oracle. The three blocks of the production-path contract come
    # first; the two crawl-policy gates after them keep the operators
    # behind --blocklist and --robots oracle-checked.
    return {
        # -- pure relational: the cascade's SQL shapes, no operator import --
        "quality_gate": q_quality_gate,
        "noise_filter": q_noise_filter,
        "regex_claims": q_regex_claims,
        "rank_window": q_rank_window,
        "elimination_antijoin": q_elimination_antijoin,
        "pivot_consolidation": q_pivot_consolidation,
        "fuzzy_anchor_join": q_fuzzy_anchor_join,
        "sessionization": q_sessionization,
        "dedup_exact": q_dedup_exact,
        "tpch_pricing": q_tpch_pricing,
        "tpch_part_profit": q_tpch_part_profit,
        "tpch_top_orders": q_tpch_top_orders,
        "region_rollup": q_region_rollup,
        "range_join": q_range_join,
        "json_props": q_json_props,
        "set_ops": q_set_ops,
        # -- operators of the production path (run_job / run_dedup /
        #    run_curate and the crawl diff) --
        "extract_pipeline": q_extract_pipeline,
        "dedup_minhash": q_dedup_minhash,
        "dedup_components": q_dedup_components,
        "crawl_diff": q_crawl_diff,
        "crawl_churn": q_crawl_churn,
        "host_cap": q_host_cap,
        "boilerplate_shingles": q_boilerplate_shingles,
        "lang_id": q_lang_id,
        # -- pinned by tests/test_entry_contract.py --
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "embedding_topk": q_embedding_topk,
        "fingerprint": q_fingerprint,
        "text_embed_near_dup": q_text_embed_near_dup,
        "ann_ivf_bcast": q_ann_ivf_bcast,
        # -- crawl-policy gates (the CLI's --blocklist and --robots) --
        "url_blocklist": q_url_blocklist,
        "robots_filter": q_robots_filter,
    }


_WORDS_SQL = "string_split_regex(lower(trim(text)), '\\s+')"

# Shared hashing-trick embedding fragments (must mirror _hash_vectors):
# ONE definition interpolated into every embedding oracle — a drifting
# copy would make one oracle silently test a different embedding.
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

_STOP = {
    "en": "['the','a','of','and','to','in','is','that','it','for']",
    "fr": "['le','la','les','de','des','et','un','une','que','pour']",
    "de": "['der','die','das','und','ein','eine','zu','mit','ist','den']",
    "es": "['el','la','los','de','y','un','una','que','es','para']",
}


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
        # Broadcast-centroid IVF oracle (self-search): integer vectors +
        # integer centroid literals make assignment distances, probe
        # ordering and the cosine re-rank all exact in SQL, with the
        # same (d, ci) / (cos desc, id asc) tie-breaks as the Spark
        # windows and the self-pair filter. The NULLIF guard
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
        # Blocklist: same url synthesis; a doc survives unless its
        # host (host_of's regexp) equals a blocked domain or ends with
        # '.'+domain.
        "url_blocklist": """
            WITH docs AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0
                          THEN 'https://cdn.' || source || '.example/doc/' || CAST(doc_id AS VARCHAR)
                          ELSE 'https://' || source || '.example/doc/' || CAST(doc_id AS VARCHAR)
                     END AS url
              FROM documents),
            h AS (SELECT doc_id, url,
                         lower(regexp_extract(url,
                           '(?i)^https?://(?:[^/@?#]*@)?([^/:?#]+)', 1)) AS host
                  FROM docs)
            SELECT doc_id, url FROM h
            WHERE host = '' OR NOT EXISTS (
              SELECT 1 FROM (VALUES ('src12.example'), ('src3.example'),
                                    ('src7.example')) b(d)
              WHERE h.host = b.d OR ends_with(h.host, '.' || b.d))
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
        # Churn rollup: same synthesis as crawl_diff but over
        # 'https://<source>/doc/<id>' urls; host = host_of's regexp, lower-cased;
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
            SELECT lower(regexp_extract(url,
                     '(?i)^https?://(?:[^/@?#]*@)?([^/:?#]+)', 1)) AS host,
                   COUNT(*) AS n_urls,
                   SUM((status = 'added')::BIGINT) AS n_added,
                   SUM((status = 'changed')::BIGINT) AS n_changed,
                   SUM((status = 'deleted')::BIGINT) AS n_deleted,
                   SUM((status = 'unchanged')::BIGINT) AS n_unchanged,
                   ROUND((COUNT(*) - SUM((status = 'unchanged')::BIGINT))::DOUBLE
                         / COUNT(*), 6) AS churn
            FROM d GROUP BY 1
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
