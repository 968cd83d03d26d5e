"""Unit tests for cross-document curation operators (boilerplate
shingle dedup, stratified sampling, host caps)."""

import pyspark.sql.functions as F

from ocr_poc_spark.operators.curation import (
    boilerplate_shingle_stats,
    host_cap,
    stratified_sample,
)

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
    out = {r["doc_id"]: r for r in boilerplate_shingle_stats(_docs(spark), k=5).collect()}
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


def test_stratified_sample_deterministic_and_exhaustive(spark):
    docs = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("fr").alias("lang"),
    )
    kept = stratified_sample(docs, {"en": 0.5, "fr": 0.1}, strat_col="lang")
    counts = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # md5 buckets are uniform: expect ~500 en, ~100 fr with slack.
    assert 400 <= counts["en"] <= 600
    assert 60 <= counts.get("fr", 0) <= 140
    # Deterministic: the same call keeps the same ids.
    a = sorted(r["doc_id"] for r in kept.collect())
    b = sorted(r["doc_id"] for r in stratified_sample(docs, {"en": 0.5, "fr": 0.1}, strat_col="lang").collect())
    assert a == b
    # Unlisted strata default to rate 0.
    none_kept = stratified_sample(docs, {"en": 0.5}, strat_col="lang")
    assert none_kept.where(F.col("lang") == "fr").count() == 0


def test_host_cap_stable_under_partitioning(spark):
    docs = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("h"), (F.col("id") % 3).cast("string")).alias("source"),
    )
    capped = host_cap(docs, max_per_host=10, host_col="source")
    per_host = {r["source"]: r["n"] for r in capped.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert per_host == {"h0": 10, "h1": 10, "h2": 10}
    # The kept SET is a function of ids only, not of input partitioning.
    a = sorted(r["doc_id"] for r in capped.collect())
    b = sorted(
        r["doc_id"]
        for r in host_cap(docs.repartition(7), max_per_host=10, host_col="source").collect()
    )
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


def test_normalize_urls_edges(spark):
    from ocr_poc_spark.operators.curation import normalize_urls

    cases = {
        "HTTP://WWW.Ex.COM:80/A/b?utm_source=tw&b=2&a=1#frag": "http://www.ex.com/A/b?a=1&b=2",
        "https://ex.com:443": "https://ex.com/",
        "https://ex.com:8443/x": "https://ex.com:8443/x",  # non-default port kept
        "http://ex.com:443/x": "http://ex.com:443/x",  # :443 is not http's default
        "https://ex.com/x?ref=home": "https://ex.com/x",
        "https://ex.com/x?ref2=keep&fbclid=1": "https://ex.com/x?ref2=keep",  # prefix!=param
        "https://ex.com/y?": "https://ex.com/y",
        "not a url": "not a url",  # pass-through
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    out = {r["url"]: r["url_norm"] for r in normalize_urls(df).collect()}
    assert out == cases


def test_null_text_docs_keep_rows(spark):
    """NULL text must not vanish from curation outputs (ANSI size(NULL)
    is NULL, which satisfies neither size branch without the coalesce)."""
    docs = spark.createDataFrame(
        [(1, None, "en", "s0"), (2, BOILER + " tail words here", "en", "s0")],
        "doc_id long, text string, lang string, source string",
    )
    b = {r["doc_id"]: r for r in boilerplate_shingle_stats(docs, k=5).collect()}
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


def test_normalize_urls_idempotent_combinatorial(spark):
    """Canonicalization invariants over a combinatorial URL corpus:
    normalize(normalize(u)) == normalize(u); no fragment or tracking
    param survives; scheme/host come out lowercase."""
    import itertools

    from ocr_poc_spark.operators.curation import normalize_urls

    schemes = ["http", "HTTPS", "ftp"]
    hosts = ["Ex.COM", "ex.com:80", "EX.com:443", "ex.com:8080", ""]
    paths = ["", "/", "/A/b%20c", "//double"]
    queries = ["", "?", "?utm_source=x", "?b=2&a=1", "?ref", "?ref=&x=1&utm_a=2",
               "?a=1&a=0", "?=bare&key="]
    frags = ["", "#f", "#a?b=1"]
    urls = [
        f"{s}://{h}{p}{q}{fr}"
        for s, h, p, q, fr in itertools.product(schemes, hosts, paths, queries, frags)
    ] + ["", "no-scheme/path?utm_source=x", "http:/one-slash", "://nohost"]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = normalize_urls(df).select(F.col("url_norm").alias("url"))
    twice = normalize_urls(once)
    rows = twice.collect()
    assert all(r["url_norm"] == r["url"] for r in rows)  # idempotent
    for r in rows:
        u = r["url"]
        if "://" not in u:
            continue  # pass-through inputs
        assert "#" not in u  # fragments never survive normalization
        if "?" in u:
            for prm in u.split("?", 1)[1].split("&"):
                assert not prm.startswith("utm_") and prm.split("=")[0] not in (
                    "fbclid", "gclid", "msclkid", "ref",
                )


def test_host_cap_prefilter_identical_on_hot_host(spark):
    """The hot-host pre-filter must not change the kept set or the
    surviving ranks: on a fixture where one host owns 10% of all rows,
    filter=True output == the single-window keep-list filtered to the
    cap, at several parallelism levels."""
    from ocr_poc_spark.operators.curation import host_cap

    rows = [(i, "hot.example" if i % 10 == 0 else f"h{i % 97}.example")
            for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    ref = sorted(
        (r["doc_id"], r["source"], r["host_rank"])
        for r in host_cap(df.repartition(1), 7, host_col="source", filter=False)
        .where(F.col("host_rank") <= 7)
        .collect()
    )
    for p in (4, 16):
        got = sorted(
            (r["doc_id"], r["source"], r["host_rank"])
            for r in host_cap(df.repartition(p), 7, host_col="source").collect()
        )
        assert got == ref, f"kept set differs at parallelism {p}"
    hot_kept = [r for r in ref if r[1] == "hot.example"]
    assert len(hot_kept) == 7  # the hot host is really capped


def test_split_corpus_deterministic_and_leakage_safe(spark):
    """Every row gets exactly one split; fractions land near quotas;
    keying on the host column sends a whole host to one split; bad
    fraction sums raise."""
    import pytest

    from ocr_poc_spark.operators.curation import split_corpus

    d = spark.createDataFrame(
        [(i, f"host{i % 17}.example") for i in range(2000)],
        "doc_id long, source string",
    )
    out = split_corpus(d, {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) <= {"train", "val", "test"}
    assert sum(counts.values()) == 2000
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]

    again = {tuple(r) for r in split_corpus(
        d, {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
    assert again == {tuple(r) for r in out.collect()}

    by_host = split_corpus(d, {"train": 0.8, "val": 0.1, "test": 0.1}, by="source")
    assert by_host.groupBy("source").agg(
        F.countDistinct("split").alias("k")).where(F.col("k") > 1).count() == 0

    with pytest.raises(ValueError, match="sum to"):
        split_corpus(d, {"train": 0.8, "val": 0.1})
    with pytest.raises(ValueError, match="empty"):
        split_corpus(d, {})


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
    """Status counts and churn ratio roll up per host of the url."""
    from ocr_poc_spark.operators.crawl import crawl_churn_stats

    old = spark.createDataFrame(
        [
            ("https://a.example/1", "x1"),
            ("https://a.example/2", "x2"),
            ("https://a.example/3", "x3"),
            ("https://b.example/1", "y1"),
        ],
        "url string, text string",
    )
    new = spark.createDataFrame(
        [
            ("https://a.example/1", "x1"),       # unchanged
            ("https://a.example/2", "x2 v2"),    # changed
            # a/3 deleted
            ("https://b.example/1", "y1"),       # unchanged
            ("https://b.example/2", "y2"),       # added
        ],
        "url string, text string",
    )
    got = {r["host"]: r for r in crawl_churn_stats(old, new).collect()}
    a, b = got["a.example"], got["b.example"]
    assert (a["n_urls"], a["n_added"], a["n_changed"], a["n_deleted"], a["n_unchanged"]) == (3, 0, 1, 1, 1)
    assert (b["n_urls"], b["n_added"], b["n_changed"], b["n_deleted"], b["n_unchanged"]) == (2, 1, 0, 0, 1)
    assert abs(a["churn"] - round(2 / 3, 6)) < 1e-9 and b["churn"] == 0.5


def test_split_corpus_rejects_negative_fractions(spark):
    import pytest

    from ocr_poc_spark.operators.curation import split_corpus

    d = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="non-negative"):
        split_corpus(d, {"train": 1.2, "val": -0.2})


def test_split_corpus_null_key_raises(spark):
    """A NULL split key must fail loudly, never silently yield
    split=NULL (a row lost from all three partitions)."""
    import pytest

    from ocr_poc_spark.operators.curation import split_corpus

    d = spark.createDataFrame(
        [(1, "h1"), (2, None)], "doc_id long, source string"
    )
    ok = split_corpus(
        d.where("source IS NOT NULL"), {"train": 1.0}, by="source"
    ).collect()
    assert [r["split"] for r in ok] == ["train"]
    with pytest.raises(Exception, match="NULL 'source' key"):
        split_corpus(d, {"train": 1.0}, by="source").collect()


def test_url_blocklist_filter_suffix_semantics(spark):
    """Exact-domain and subdomain matches are blocked; lookalike
    suffixes are not; case-insensitive; unparseable urls survive;
    keep=False returns the complement; empty lists raise."""
    import pytest

    from ocr_poc_spark.operators.curation import url_blocklist_filter

    d = spark.createDataFrame(
        [
            (1, "https://ads.example/p"),
            (2, "https://x.ADS.example/p"),
            (3, "https://badads.example/p"),
            (4, "https://ok.example/p"),
            (5, "not-a-url"),
        ],
        "doc_id long, url string",
    )
    kept = {r["doc_id"] for r in url_blocklist_filter(d, ["Ads.example"]).collect()}
    assert kept == {3, 4, 5}
    blocked = {
        r["doc_id"]
        for r in url_blocklist_filter(d, ["ads.example"], keep=False).collect()
    }
    assert blocked == {1, 2}
    with pytest.raises(ValueError, match="empty"):
        url_blocklist_filter(d, [])
    with pytest.raises(ValueError, match="empty domain"):
        url_blocklist_filter(d, ["ok.example", "  "])


def test_temperature_sample_rates_and_null_stratum(spark):
    """Temperature rebalancing: the rarest stratum is kept whole, a
    bigger stratum is kept at floor(sqrt(n_min/n)*denom)/denom exactly
    (same md5 bucket rule as stratified_sample), NULL strata survive as
    their own stratum (the null-safe-join contract), alpha=1 keeps the
    natural distribution, and bad alphas raise."""
    import math

    import pytest

    from ocr_poc_spark.operators.curation import sample_bucket, temperature_sample

    rows = (
        [(i, "x", "en", "s") for i in range(400)]
        + [(1000 + i, "x", "fr", "s") for i in range(25)]
        + [(2000 + i, "x", None, "s") for i in range(25)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")

    out = temperature_sample(df, alpha=0.5).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
    # rarest strata (fr and NULL tie at 25): rate 1.0 -> kept whole.
    assert by_lang.get("fr", set()) == {1000 + i for i in range(25)}
    assert by_lang.get(None, set()) == {2000 + i for i in range(25)}
    # en: threshold floor(sqrt(25/400)*10000) = 2500; recompute the
    # exact kept set from the operator's own bucket rule.
    thresh = math.floor(math.sqrt(25 / 400) * 10000)
    assert thresh == 2500
    buckets = {
        r["doc_id"]: r["b"]
        for r in df.select("doc_id", sample_bucket().alias("b")).collect()
    }
    expect = {i for i in range(400) if buckets[i] < thresh}
    assert by_lang.get("en", set()) == expect
    # alpha=1: natural distribution — every row kept (all rates 1).
    assert len(temperature_sample(df, alpha=1.0).collect()) == len(rows)
    # extreme-skew clamp: with denom=10 and rates sqrt(25/400)=0.25 the
    # en threshold floors to 2; shrink further (denom=10, alpha -> rate
    # 1/16 at alpha=0.5 needs n=6400) — use alpha=0 (rate n_min/n =
    # 1/16 -> floor(0.625) would be 0) and check the stratum SURVIVES.
    skew = spark.createDataFrame(
        [(i, "x", "en" if i < 1600 else "fr", "s") for i in range(1700)],
        "doc_id long, text string, lang string, source string",
    )
    kept_en = (
        temperature_sample(skew, alpha=0.0, denom=10)
        .where("lang = 'en'")
        .count()
    )
    assert kept_en > 0  # clamped to 1 bucket, never zeroed out
    # output schema is the input schema (helper columns dropped).
    assert temperature_sample(df).columns == df.columns
    for bad in (-0.1, 1.5):
        with pytest.raises(ValueError):
            temperature_sample(df, alpha=bad)


def test_shuffle_shards_order_shards_and_invariance(spark):
    """Training-order shuffle: positions are a permutation, token
    offsets are the exclusive prefix sums in position order, shards cut
    greedily at the budget without splitting docs, NULL/negative token
    counts occupy a position with 0 tokens, a different seed yields a
    different order, and output is identical at any parallelism."""
    import pytest

    from ocr_poc_spark.operators.curation import shuffle_shards

    rows = [(i, (i * 17) % 50 + 1) for i in range(300)]
    rows += [(900, None), (901, -3)]  # NULL / negative -> 0 tokens
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int")

    out = sorted(
        (r["pos"], r["tok_offset"], r["shard_id"], r["doc_id"])
        for r in shuffle_shards(df, shard_tokens=500, seed="ep0").collect()
    )
    assert [p for p, *_ in out] == list(range(len(rows)))
    ntok = dict(rows)
    run = 0
    for pos, off, shard, doc in out:
        assert off == run, f"offset mismatch at pos {pos}"
        assert shard == off // 500
        run += max(ntok[doc] or 0, 0)
    # shard sizes: assignment is by START offset, so a doc straddling a
    # boundary tips its whole length into the earlier shard — non-last
    # shard token sums land within one max-doc-length of the budget on
    # either side (the whole-doc sharding tolerance), never further.
    sizes = {}
    for pos, off, shard, doc in out:
        sizes[shard] = sizes.get(shard, 0) + max(ntok[doc] or 0, 0)
    last = max(sizes)
    assert all(500 - 50 < s < 500 + 51 for sh, s in sizes.items() if sh != last)
    # shard ids are contiguous from 0.
    assert sorted(sizes) == list(range(len(sizes)))

    # parallelism invariance + seed sensitivity.
    def rows_of(res):
        return sorted(
            (r["pos"], r["tok_offset"], r["shard_id"], r["doc_id"])
            for r in res.collect()
        )

    a = rows_of(shuffle_shards(df.repartition(1), 500, seed="ep0", n_partitions=1))
    b = rows_of(shuffle_shards(df.repartition(13), 500, seed="ep0", n_partitions=13))
    assert a == out == b
    c = rows_of(shuffle_shards(df, 500, seed="ep1"))
    assert c != a
    with pytest.raises(ValueError):
        shuffle_shards(df, shard_tokens=0)


def test_robots_filter_longest_match_semantics(spark):
    """REP longest-match subset: longer allow overrides shorter
    disallow, allow wins equal-length ties, unmatched paths and
    rule-less hosts pass, subdomains do NOT inherit a parent host's
    rules (robots.txt is per-origin), keep=False returns the audit
    complement."""
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
    blocked = {r["doc_id"] for r in robots_filter(df, rules, keep=False).collect()}
    assert blocked == {1}
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
