"""Unit tests for cross-document curation operators (boilerplate
shingle dedup, host caps, crawl diff and policy gates)."""

import pyspark.sql.functions as F

from ocr_poc_spark.operators.curation import boilerplate_shingle_stats, host_rank

BOILER = "we use cookies to improve your experience on this site"


def _docs(spark):
    rows = [
        (1, BOILER + " alpha beta gamma delta epsilon zeta eta theta", "en", "s0"),
        (2, BOILER + " one two three four five six seven eight nine", "en", "s0"),
        (3, "completely unique text about spark pipelines and shuffles here", "en", "s1"),
        (4, "tiny doc", "en", "s1"),  # < k words -> zero shingles
        (5, BOILER, "fr", "s1"),  # pure boilerplate
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def test_boilerplate_ratio_bounds_and_short_doc(spark):
    out = {r["doc_id"]: r for r in boilerplate_shingle_stats(_docs(spark)).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    # doc 4 is shorter than k: zero shingles, ratio 0, no crash.
    assert out[4]["n_shingles"] == 0 and out[4]["boiler_ratio"] == 0.0
    # doc 3 shares nothing: ratio 0 with nonzero shingles.
    assert out[3]["n_shingles"] > 0 and out[3]["n_boiler"] == 0
    # doc 5 is a strict prefix of docs 1/2: every one of its shingles is
    # shared, ratio exactly 1.
    assert out[5]["boiler_ratio"] == 1.0
    # docs 1/2 share the 10-word boilerplate prefix (6 shingles of the
    # prefix window) but their tails differ.
    assert 0.0 < out[1]["boiler_ratio"] < 1.0
    assert out[1]["n_boiler"] == out[2]["n_boiler"]


def test_host_cap_stable_under_partitioning(spark):
    """The set of documents host_rank puts within a cap of 10 depends on
    ids only, not on input partitioning."""
    docs = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("h"), (F.col("id") % 3).cast("string")).alias("host"),
    )

    def capped(df):
        return host_rank(df).where(F.col("host_rank") <= 10)

    per_host = {r["host"]: r["n"] for r in capped(docs).groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert per_host == {"h0": 10, "h1": 10, "h2": 10}
    a = sorted(map(tuple, capped(docs).collect()))
    b = sorted(map(tuple, capped(docs.repartition(7)).collect()))
    assert a == b


def test_run_curate_stage(spark, pages_df, tmp_path):
    """CLI curation stage: pages mirrored under a second host share
    their whole body -> boiler_ratio 1.0 on mirror AND original, both
    dropped; unique docs stay kept subject to the per-host cap; over-cap
    and over-ratio rows remain in the list with kept=False."""
    from collections import Counter

    from ocr_poc_spark.plans.job import run_curate, run_job

    base = pages_df.limit(40)
    dups = base.limit(10).select(
        F.concat(F.lit("https://mirror.example/x"), F.col("url")).alias("url"),
        "warc_ts", "html", "text", "lang",
    )
    out = str(tmp_path / "cur")
    run_job(spark, base.unionByName(dups), out, mode="fused", n_buckets=2)
    res = run_curate(spark, out, max_boiler_ratio=0.5, max_per_host=5)
    rows = spark.read.parquet(res["curation_dir"]).collect()
    assert res["curation_rows"] == len(rows) > 0
    # mirrored bodies are fully duplicated -> ratio 1.0 -> dropped
    mirrored = [r for r in rows if r["host"] == "mirror.example"]
    assert mirrored and all(r["boiler_ratio"] == 1.0 and not r["kept"] for r in mirrored)
    # host cap: kept docs per host never exceed 5; over-cap rows remain
    # in the list (kept=False), not silently dropped
    kept_hosts = Counter(r["host"] for r in rows if r["kept"])
    assert kept_hosts and all(n <= 5 for n in kept_hosts.values())
    assert res["curation_kept"] == sum(kept_hosts.values())
    # boiler-rejected rows carry NULL host_rank (they never consume cap
    # slots); passing rows are kept iff within the cap
    assert all(
        (r["host_rank"] is None and not r["kept"])
        if r["boiler_ratio"] > 0.5
        else r["kept"] == (r["host_rank"] <= 5)
        for r in rows
    )


def test_null_text_docs_keep_rows(spark):
    """NULL text must not vanish from curation outputs (ANSI size(NULL)
    is NULL, which satisfies neither size branch without the coalesce)."""
    docs = spark.createDataFrame(
        [(1, None, "en", "s0"), (2, BOILER + " tail words here", "en", "s0")],
        "doc_id long, text string, lang string, source string",
    )
    b = {r["doc_id"]: r for r in boilerplate_shingle_stats(docs).collect()}
    assert b[1]["n_shingles"] == 0 and b[1]["boiler_ratio"] == 0.0


def test_run_curate_dup_urls_and_zero_cap(spark, tmp_path):
    """Re-crawled duplicate urls collapse to ONE keep-list row; unparsed
    urls do not share a NULL-host cap bucket; --host-cap 0 keeps nothing
    (falsy-zero must not disable the cap)."""
    from ocr_poc_spark.plans.job import run_curate

    out = str(tmp_path / "dup")
    rows = [
        ("https://a.example/x", True, "alpha beta gamma delta epsilon zeta", "en"),
        ("https://a.example/x", True, "totally different recrawl body content here", "en"),
        ("https://b.example/y", True, "one two three four five six seven", "en"),
        ("not-a-parseable-url-1", True, "unique body one two three four", "en"),
        ("not-a-parseable-url-2", True, "another body five six seven eight", "en"),
    ]
    spark.createDataFrame(
        rows, "url string, success boolean, body_text string, lang_guess string"
    ).write.parquet(out + "/extracted")
    res = run_curate(spark, out, max_boiler_ratio=0.9, max_per_host=1)
    rows_out = spark.read.parquet(res["curation_dir"]).collect()
    ids = [r["doc_id"] for r in rows_out]
    assert sorted(ids) == sorted(set(ids)) and len(ids) == 4  # dup url collapsed
    # each unparseable url is its own host -> both kept under cap 1
    unparsed = [r for r in rows_out if r["doc_id"].startswith("not-a-parseable")]
    assert len(unparsed) == 2 and all(r["kept"] for r in unparsed)
    # deterministic representative: re-running yields identical stats
    res2 = run_curate(spark, out, max_boiler_ratio=0.9, max_per_host=1)
    a = sorted(map(tuple, rows_out))
    b = sorted(map(tuple, spark.read.parquet(res2["curation_dir"]).collect()))
    assert a == b
    # host-cap 0: every row present, none kept
    res0 = run_curate(spark, out, max_boiler_ratio=0.9, max_per_host=0)
    rows0 = spark.read.parquet(res0["curation_dir"]).collect()
    assert len(rows0) == 4 and not any(r["kept"] for r in rows0)


def test_crawl_diff_statuses_and_changed_slice(spark):
    """All four statuses from a synthetic old/new pair; changed_slice
    returns exactly new's added+changed rows with full columns; binary
    content diffs on raw bytes."""
    from ocr_poc_spark.operators.crawl import changed_slice, crawl_diff

    old = spark.createDataFrame(
        [("u1", "alpha"), ("u2", "beta"), ("u3", "gamma"), ("u4", None)],
        "url string, text string",
    )
    new = spark.createDataFrame(
        [("u2", "beta"), ("u3", "gamma v2"), ("u4", ""), ("u5", "new page")],
        "url string, text string",
    )
    got = {r["url"]: r["status"] for r in crawl_diff(old, new).collect()}
    assert got == {
        "u1": "deleted",
        "u2": "unchanged",
        "u3": "changed",
        # NULL -> '' IS a content change: NULL digests to the 'null'
        # sentinel, distinct from sha2('') (ADVICE r4)
        "u4": "changed",
        "u5": "added",
    }
    digests = {r["url"]: (r["old_digest"], r["new_digest"])
               for r in crawl_diff(old, new).collect()}
    assert digests["u4"][0] == "null" and len(digests["u4"][1]) == 64

    sl = changed_slice(old, new)
    assert set(sl.columns) == {"url", "text"}
    assert {(r["url"], r["text"]) for r in sl.collect()} == {
        ("u3", "gamma v2"),
        ("u4", ""),
        ("u5", "new page"),
    }

    b_old = spark.createDataFrame(
        [("u1", bytearray(b"\x00\xff")), ("u2", bytearray(b"same"))],
        "url string, html binary",
    )
    b_new = spark.createDataFrame(
        [("u1", bytearray(b"\x00\xfe")), ("u2", bytearray(b"same"))],
        "url string, html binary",
    )
    got_b = {
        r["url"]: r["status"]
        for r in crawl_diff(b_old, b_new, content_col="html").collect()
    }
    assert got_b == {"u1": "changed", "u2": "unchanged"}


def test_crawl_churn_stats_per_host(spark):
    """Status counts and churn ratio roll up per host of the url; the
    spellings of one host (case, port, userinfo, no path) are one
    host."""
    from ocr_poc_spark.operators.crawl import crawl_churn_stats

    old = spark.createDataFrame(
        [
            ("https://a.example/1", "x1"),
            ("HTTPS://A.example/2", "x2"),
            ("https://a.example:443/3", "x3"),
            ("https://user@b.example/1", "y1"),
        ],
        "url string, text string",
    )
    new = spark.createDataFrame(
        [
            ("https://a.example/1", "x1"),       # unchanged
            ("HTTPS://A.example/2", "x2 v2"),    # changed
            # a/3 deleted
            ("https://user@b.example/1", "y1"),  # unchanged
            ("https://b.example?p=2", "y2"),     # added
        ],
        "url string, text string",
    )
    got = {r["host"]: r for r in crawl_churn_stats(old, new).collect()}
    assert set(got) == {"a.example", "b.example"}
    a, b = got["a.example"], got["b.example"]
    assert (a["n_urls"], a["n_added"], a["n_changed"], a["n_deleted"], a["n_unchanged"]) == (3, 0, 1, 1, 1)
    assert (b["n_urls"], b["n_added"], b["n_changed"], b["n_deleted"], b["n_unchanged"]) == (2, 1, 0, 0, 1)
    assert abs(a["churn"] - round(2 / 3, 6)) < 1e-9 and b["churn"] == 0.5


def test_url_blocklist_filter_suffix_semantics(spark):
    """Exact-domain and subdomain matches are blocked, however the url
    spells the host (scheme case, userinfo, port, no path); lookalike
    suffixes are not; case-insensitive; unparseable urls survive; the
    blocked rows are the complement of the kept ones; empty lists
    raise."""
    import pytest

    from ocr_poc_spark.operators.curation import url_blocklist_filter

    d = spark.createDataFrame(
        [
            (1, "https://ads.example/p"),
            (2, "https://x.ADS.example/p"),
            (3, "https://badads.example/p"),
            (4, "https://ok.example/p"),
            (5, "not-a-url"),
            (6, "HTTPS://ads.example/p"),
            (7, "https://user@ads.example/p"),
            (8, "https://ads.example:8443/p"),
            (9, "https://ads.example?q=1"),
            (10, "https://ok.example/?r=https://ads.example/"),
        ],
        "doc_id long, url string",
    )
    kept = {r["doc_id"] for r in url_blocklist_filter(d, ["Ads.example"]).collect()}
    assert kept == {3, 4, 5, 10}
    blocked = {r["doc_id"] for r in d.collect()} - {
        r["doc_id"] for r in url_blocklist_filter(d, ["ads.example"]).collect()
    }
    assert blocked == {1, 2, 6, 7, 8, 9}
    with pytest.raises(ValueError, match="empty"):
        url_blocklist_filter(d, [])
    with pytest.raises(ValueError, match="empty domain"):
        url_blocklist_filter(d, ["ok.example", "  "])


def test_robots_filter_longest_match_semantics(spark):
    """REP longest-match subset: longer allow overrides shorter
    disallow, allow wins equal-length ties, unmatched paths and
    rule-less hosts pass, subdomains do NOT inherit a parent host's
    rules (robots.txt is per-origin); the blocked rows are the
    complement of the kept ones."""
    from ocr_poc_spark.operators.crawl import robots_filter

    urls = [
        (0, "https://a.example/private/doc/1"),   # allow /private/doc wins
        (1, "https://a.example/private/img/2"),   # disallow /private
        (2, "https://a.example/public/3"),        # no matching directive
        (3, "https://a.example/tmp/4"),           # equal-length tie -> allow
        (4, "https://sub.a.example/private/5"),   # subdomain: no rules
        (5, "https://b.example/anything/6"),      # rule-less host
        (6, "https://a.example/"),                # root; disallow '/' blocks? no '/' rule
    ]
    df = spark.createDataFrame(urls, "doc_id long, url string")
    rules = spark.createDataFrame(
        [
            ("a.example", "disallow", "/private"),
            ("a.example", "allow", "/private/doc"),
            ("a.example", "disallow", "/tmp/"),
            ("a.example", "allow", "/tmp/"),
        ],
        "host string, rule string, path_prefix string",
    )
    kept = {r["doc_id"] for r in robots_filter(df, rules).collect()}
    assert kept == {0, 2, 3, 4, 5, 6}
    assert set(range(len(urls))) - kept == {1}
    # output schema is the input schema (helper columns dropped)
    assert robots_filter(df, rules).columns == df.columns


def test_robots_filter_host_normalization_fail_closed(spark):
    """Compliance regression (round-5 review): uppercase schemes,
    userinfo, explicit ports and query-only urls must still match their
    host's rules — a gate that fails OPEN on those spellings quietly
    crawls forbidden paths."""
    from ocr_poc_spark.operators.crawl import robots_filter

    urls = [
        (0, "HTTPS://a.example/private/1"),
        (1, "https://user:pw@a.example/private/2"),
        (2, "https://a.example:8443/private/3"),
        (3, "https://a.example?private=1"),        # query-only path -> '/'
        (4, "https://a.example/ok/5"),
        (5, "not a url at all"),                   # no host: kept, documented
    ]
    df = spark.createDataFrame(urls, "doc_id long, url string")
    rules = spark.createDataFrame(
        [("a.example", "disallow", "/private")],
        "host string, rule string, path_prefix string",
    )
    kept = {r["doc_id"] for r in robots_filter(df, rules).collect()}
    assert kept == {3, 4, 5}
