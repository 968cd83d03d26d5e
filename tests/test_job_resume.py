"""End-to-end job test: full run == crash-then-resume run (idempotent
checkpoint manifest), lineage rows present (SURVEY.md §5 item 3)."""

import pytest

from ocr_poc_spark.plans.job import completed_buckets, run_job


def _read_sorted(spark, path):
    rows = spark.read.parquet(path).collect()
    return sorted(
        [(r["url"], r["success"], r["body_text"], r["confidence"]) for r in rows]
    )


def test_full_run_then_idempotent_resume(spark, pages_df, tmp_path):
    full_dir = str(tmp_path / "full")
    run_job(spark, pages_df, full_dir, mode="fused", n_buckets=4)
    assert completed_buckets(full_dir) == {0, 1, 2, 3}
    full = _read_sorted(spark, full_dir + "/extracted")
    assert len(full) == pages_df.count()

    # Crash after the first pass (2 of 4 buckets committed)...
    crash_dir = str(tmp_path / "crash")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_job(
            spark, pages_df, crash_dir, mode="fused", n_buckets=4,
            buckets_per_pass=2, fail_after_passes=1,
        )
    assert len(completed_buckets(crash_dir)) == 2

    # ...then resume: remaining buckets only, same final table.
    summary = run_job(
        spark, pages_df, crash_dir, mode="fused", n_buckets=4, buckets_per_pass=2
    )
    assert completed_buckets(crash_dir) == {0, 1, 2, 3}
    resumed = _read_sorted(spark, crash_dir + "/extracted")
    assert resumed == full

    lineage = spark.read.parquet(crash_dir + "/lineage")
    assert lineage.count() > 0
    agg = lineage.groupBy().sum("n_docs").collect()[0][0]
    assert agg == pages_df.count()
    assert summary["rows_this_run"] < pages_df.count()  # only resumed part


def test_run_job_rejects_unknown_mode(spark, pages_df, tmp_path):
    out = tmp_path / "rel"
    with pytest.raises(ValueError):
        run_job(spark, pages_df.limit(40), str(out), mode="relational", n_buckets=2)
    assert not out.exists()  # rejected before any write


def test_iceberg_gate_without_connector(spark):
    from ocr_poc_spark.sources.pages import iceberg_available, read_pages

    if iceberg_available(spark):
        return  # connector present: nothing to gate
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="Iceberg connector"):
        read_pages(spark, "iceberg:db.pages")


def test_cli_dedup_stage(spark, pages_df, tmp_path):
    """Near-dup curation stage over extracted body_text: duplicate pages
    must pair up."""
    import pyspark.sql.functions as F

    from ocr_poc_spark.plans.job import run_dedup, run_job

    # duplicate a subset of pages under new urls -> guaranteed near-dups
    base = pages_df.limit(30)
    dups = base.select(
        F.concat(F.lit("https://mirror.example/"), F.col("url")).alias("url"),
        "warc_ts", "html", "text", "lang",
    )
    out = str(tmp_path / "dd")
    run_job(spark, base.unionByName(dups), out, mode="fused", n_buckets=2)
    res = run_dedup(spark, out, jaccard_threshold=0.9)
    assert res["dup_pairs"] > 0
    pairs = spark.read.parquet(res["dup_dir"]).collect()
    assert all(r["jaccard"] >= 0.9 for r in pairs)
    # every pair links an original with its mirror (same page body)
    n_mirror = sum(
        1 for r in pairs
        if r["id_a"].replace("https://mirror.example/", "") == r["id_b"].replace("https://mirror.example/", "")
        or r["id_b"].replace("https://mirror.example/", "") == r["id_a"]
    )
    assert n_mirror == len(pairs)


def test_cli_dedup_clusters_stage(spark, pages_df, tmp_path):
    """clusters=True resolves the pair list transitively: an original
    page with TWO mirrors (mirror~orig, mirror2~orig, mirror~mirror2
    all near-dups) must land in ONE component whose keeper is the
    lexicographic minimum url, and every component keeps exactly one
    keeper row."""
    import pyspark.sql.functions as F

    from ocr_poc_spark.plans.job import run_dedup, run_job

    base = pages_df.limit(15)
    m1 = base.select(
        F.concat(F.lit("https://m1.example/"), F.col("url")).alias("url"),
        "warc_ts", "html", "text", "lang",
    )
    m2 = base.select(
        F.concat(F.lit("https://m2.example/"), F.col("url")).alias("url"),
        "warc_ts", "html", "text", "lang",
    )
    out = str(tmp_path / "ddc")
    run_job(
        spark, base.unionByName(m1).unionByName(m2), out,
        mode="fused", n_buckets=2,
    )
    res = run_dedup(spark, out, jaccard_threshold=0.9, clusters=True)
    assert res["dup_component_docs"] > 0
    comp = spark.read.parquet(res["dup_components_dir"])
    rows = comp.collect()
    # component id is a member and the minimum of its component
    by_comp: dict = {}
    for r in rows:
        by_comp.setdefault(r.component_id, []).append(r)
    assert len(by_comp) == res["dup_components"]
    for cid, members in by_comp.items():
        ids = {m.doc_id for m in members}
        assert cid == min(ids)
        keepers = [m for m in members if m.keeper]
        assert len(keepers) == 1 and keepers[0].doc_id == cid
    # each original + its two mirrors share one component (transitivity)
    for r in rows:
        stripped = (
            r.doc_id.replace("https://m1.example/", "")
            .replace("https://m2.example/", "")
        )
        assert r.component_id.endswith(stripped) or stripped in r.component_id


def test_iceberg_gate_contract(spark, tmp_path, pages_df):
    """The Iceberg leg of S1/S4 cannot run here (no connector jar in the
    sandbox, no network to vendor one — exclusion documented in
    COVERAGE.md). What IS contractual and tested: the 'iceberg:' prefix
    dispatches to the connector gate and fails with an actionable error
    when the connector is absent; plain paths read parquet."""
    from ocr_poc_spark.sources.pages import iceberg_available, read_pages

    assert iceberg_available(spark) is False  # sandbox reality
    import pytest

    with pytest.raises(RuntimeError, match="Iceberg connector not on classpath"):
        read_pages(spark, "iceberg:warehouse.pages")

    p = str(tmp_path / "pages.parquet")
    pages_df.limit(5).write.parquet(p)
    assert read_pages(spark, p).count() == 5


def test_run_dedup_simhash_method(spark, tmp_path, pages_df):
    import pyspark.sql.functions as F

    from ocr_poc_spark.plans.job import run_dedup

    base = pages_df.limit(30)
    dups = base.select(
        F.concat(F.lit("https://mirror.example/"), F.col("url")).alias("url"),
        "warc_ts", "html", "text", "lang",
    )
    out = str(tmp_path / "ds")
    run_job(spark, base.unionByName(dups), out, mode="fused", n_buckets=2)
    res = run_dedup(spark, out, method="simhash", max_hamming=3)
    assert res["dedup_method"] == "simhash" and res["dup_pairs"] > 0
    pairs = spark.read.parquet(res["dup_dir"]).collect()
    assert all(r["hamming"] <= 3 for r in pairs)
    # identical bodies (mirror pairs) are hamming 0
    mirrors = [
        r for r in pairs
        if r["id_a"].replace("https://mirror.example/", "")
        == r["id_b"].replace("https://mirror.example/", "")
        or r["id_b"].replace("https://mirror.example/", "") == r["id_a"]
    ]
    assert mirrors and all(r["hamming"] == 0 for r in mirrors)


def test_resume_rejects_changed_n_buckets(spark, pages_df, tmp_path):
    """Bucket membership is pmod(hash, n_buckets): resuming the same
    out_dir with a different n_buckets would re-extract docs into new
    bucket partitions while the old ones persist (silent duplication).
    The manifest pins n_buckets and the mismatch must raise."""
    import pytest

    from ocr_poc_spark.plans.job import run_job

    out = str(tmp_path / "nb")
    run_job(spark, pages_df.limit(20), out, mode="fused", n_buckets=4)
    with pytest.raises(ValueError, match="n_buckets"):
        run_job(spark, pages_df.limit(20), out, mode="fused", n_buckets=8)
    # same n_buckets still resumes cleanly (no-op)
    res = run_job(spark, pages_df.limit(20), out, mode="fused", n_buckets=4)
    assert res["rows_this_run"] == 0


def test_cli_dedup_clusters_with_simhash_method(spark, pages_df, tmp_path):
    """Cluster resolution must compose with the SimHash pair method too
    (pairs carry (id_a, id_b, hamming) — the extra column is ignored by
    the components operator)."""
    import pyspark.sql.functions as F

    from ocr_poc_spark.plans.job import run_dedup, run_job

    base = pages_df.limit(12)
    m1 = base.select(
        F.concat(F.lit("https://m1.example/"), F.col("url")).alias("url"),
        "warc_ts", "html", "text", "lang",
    )
    out = str(tmp_path / "ddsim")
    run_job(spark, base.unionByName(m1), out, mode="fused", n_buckets=2)
    res = run_dedup(spark, out, method="simhash", max_hamming=3, clusters=True)
    assert res["dedup_method"] == "simhash"
    assert res["dup_component_docs"] > 0
    comp = {r.doc_id: r.component_id
            for r in spark.read.parquet(res["dup_components_dir"]).collect()}
    for doc, cid in comp.items():
        # component id must be the MINIMUM member id of its component
        assert cid == min(d for d in comp if comp[d] == cid)
        stripped = doc.replace("https://m1.example/", "")
        assert stripped in cid or cid.endswith(stripped)


def test_cli_pack_stage_composes_with_curation_and_dedup(spark, pages_df, tmp_path):
    """--pack chains after curation + dedup-clusters: only kept,
    keeper docs are chunked/packed; sequences tile [0, seq_len)
    exactly; with a mirror-duplicated corpus the dedup filter provably
    removes the losers from the packed set."""
    import collections

    import pyspark.sql.functions as F

    from ocr_poc_spark.plans.job import run_curate, run_dedup, run_job, run_pack

    base = pages_df.limit(30)
    dups = base.select(
        F.concat(F.lit("https://mirror.example/"), F.col("url")).alias("url"),
        "warc_ts", "html", "text", "lang",
    )
    out = str(tmp_path / "pk")
    run_job(spark, base.unionByName(dups), out, mode="fused", n_buckets=2)
    run_dedup(spark, out, jaccard_threshold=0.9, clusters=True)
    run_curate(spark, out, max_boiler_ratio=1.1)  # keep-list without drops
    res = run_pack(spark, out, seq_len=64, chunk_tokens=32, chunk_stride=32)
    assert res["packed_filters"] == ["curation", "dedup_keepers"]
    assert res["packed_pieces"] > 0

    packed = spark.read.parquet(res["packed_dir"]).collect()
    packed_docs = {r["doc_id"] for r in packed}
    comp = {r["doc_id"]: r["keeper"]
            for r in spark.read.parquet(f"{out}/dup_components").collect()}
    losers = {d for d, k in comp.items() if not k}
    assert losers and not (packed_docs & losers)
    assert any(d in packed_docs for d in comp if comp[d])

    per_seq = collections.defaultdict(list)
    for r in packed:
        per_seq[r["seq_id"]].append((r["tok_start"], r["tok_end"]))
    last = max(per_seq)
    for s, spans in per_seq.items():
        spans.sort()
        assert spans[0][0] == 0
        assert all(spans[i][1] == spans[i + 1][0] for i in range(len(spans) - 1))
        if s != last:
            assert spans[-1][1] == 64


def test_cli_curate_max_ppl_gate(spark, pages_df, tmp_path):
    """--max-ppl composes into the keep-list: no kept doc exceeds the
    threshold, rejected docs keep their ppl for threshold tuning, and
    the gate tightens monotonically."""
    from ocr_poc_spark.plans.job import run_curate, run_job

    out = str(tmp_path / "ppl")
    run_job(spark, pages_df.limit(60), out, mode="fused", n_buckets=2)
    # without the gate the LM pass is skipped (ADVICE r4): the ppl
    # column rides the schema but is NULL...
    run_curate(spark, out, max_boiler_ratio=1.1)
    assert (
        spark.read.parquet(f"{out}/curation").where("ppl IS NOT NULL").count()
        == 0
    )
    # ...and with_ppl=True trains/carries it WITHOUT gating — the
    # threshold-tuning run.
    loose = run_curate(spark, out, max_boiler_ratio=1.1, with_ppl=True)
    rows = spark.read.parquet(f"{out}/curation").collect()
    assert "ppl" in rows[0].asDict()
    thr = sorted(r["ppl"] for r in rows if r["ppl"] is not None)[len(rows) // 2]
    tight = run_curate(spark, out, max_boiler_ratio=1.1, max_ppl=float(thr))
    assert tight["curation_kept"] < loose["curation_kept"]
    kept = spark.read.parquet(f"{out}/curation").where("kept").collect()
    assert kept and all(
        r["ppl"] is not None and r["ppl"] <= thr for r in kept
    )


def test_incremental_diff_job_extracts_only_changed(spark, pages_df, tmp_path):
    """The --diff-against wiring: changed_slice(old, new) over html bytes
    feeds run_job, so a rolling crawl processes only changed/added pages
    — and their extracted rows byte-match a full run on the new snapshot."""
    import pyspark.sql.functions as F

    from ocr_poc_spark.operators.crawl import changed_slice
    from ocr_poc_spark.plans.job import run_job

    old = pages_df
    grp = F.crc32(F.col("url")) % 5
    changed = old.where(grp == 0).withColumn(
        "html", F.concat("html", F.lit(bytearray(b"<!-- recrawl v2 -->")))
    )
    kept = old.where((grp != 0) & (grp != 1))  # grp==1 urls: deleted
    added = old.where(grp == 1).limit(5).select(
        F.concat(F.lit("https://recrawl.example/"), F.col("url")).alias("url"),
        "warc_ts", "html", "text", "lang",
    )
    new = kept.unionByName(changed).unionByName(added)

    work = changed_slice(old, new, id_col="url", content_col="html")
    expect_urls = {r["url"] for r in changed.select("url").collect()} | {
        r["url"] for r in added.select("url").collect()
    }
    assert {r["url"] for r in work.select("url").collect()} == expect_urls

    inc_dir, full_dir = str(tmp_path / "inc"), str(tmp_path / "full")
    s = run_job(spark, work, inc_dir, mode="fused", n_buckets=2)
    assert s["rows_this_run"] == len(expect_urls)
    run_job(spark, new, full_dir, mode="fused", n_buckets=2)

    inc = _read_sorted(spark, inc_dir + "/extracted")
    full = [
        t for t in _read_sorted(spark, full_dir + "/extracted")
        if t[0] in expect_urls
    ]
    assert inc == full


def test_cli_split_stage(spark, pages_df, tmp_path):
    """--split writes a leakage-safe host-keyed assignment over the
    curation docs: every doc of a host in one split, counts exhaust the
    corpus, re-run reproduces identically."""
    from ocr_poc_spark.plans.job import run_job, run_split

    out = str(tmp_path / "sp")
    run_job(spark, pages_df, out, mode="fused", n_buckets=2)
    res = run_split(spark, out, {"train": 0.8, "val": 0.1, "test": 0.1})
    rows = spark.read.parquet(res["split_dir"]).collect()
    assert sum(res["split_rows"].values()) == len(rows) > 0
    assert set(res["split_rows"]) <= {"train", "val", "test"}
    by_host = {}
    for r in rows:
        by_host.setdefault(r["host"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_host.values())

    again = run_split(spark, out, {"train": 0.8, "val": 0.1, "test": 0.1})
    assert again["split_rows"] == res["split_rows"]


def test_cli_select_stage_composes_with_pack(spark, pages_df, tmp_path):
    """DSIR selection stage: docs most like the target exemplars are
    marked selected; --pack then packs only those."""
    import pyspark.sql.functions as F

    from ocr_poc_spark.plans.job import run_job, run_pack, run_select

    out = str(tmp_path / "sel")
    run_job(spark, pages_df, out, mode="fused", n_buckets=2)

    # target = the bodies of 5 extracted docs -> those docs (and their
    # look-alikes) must score highest
    bodies = (
        spark.read.parquet(out + "/extracted")
        .where("success AND body_text IS NOT NULL")
        .select("url", "body_text")
        .orderBy("url")
        .limit(5)
    )
    target_path = str(tmp_path / "target.parquet")
    bodies.select(F.col("body_text").alias("text")).write.parquet(target_path)
    target_urls = {r["url"] for r in bodies.collect()}

    res = run_select(spark, out, target_path, top_n=10)
    sel = spark.read.parquet(res["selection_dir"])
    assert res["selection_kept"] == 10
    assert res["selection_rows"] == sel.count() > 10
    chosen = {r["url"] for r in sel.where("selected").collect()}
    # logw is a whole-doc log-likelihood ratio (length-weighted sum),
    # so a short exemplar can rank under a long target-like doc — the
    # robust claim is that every exemplar scores in the top half of
    # the corpus, not that all five make the top-10 cut.
    med = sel.agg(F.expr("percentile(logw, 0.5)")).collect()[0][0]
    ex = {r["url"]: r["logw"] for r in sel.collect() if r["url"] in target_urls}
    assert len(ex) == len(target_urls)
    assert all(v > med for v in ex.values())
    assert target_urls & chosen  # and at least one makes the cut

    packed = run_pack(spark, out, seq_len=64, chunk_tokens=32, chunk_stride=32)
    assert "dsir_selection" in packed["packed_filters"]
    packed_urls = {
        r["doc_id"]
        for r in spark.read.parquet(packed["packed_dir"]).select("doc_id").distinct().collect()
    }
    assert packed_urls <= chosen


def test_cli_corpus_stats_writes_profile(spark, pages_df, tmp_path):
    """--corpus-stats writes per-doc signals AND the per-language
    length-distribution profile (approx t-digest quantiles)."""
    from ocr_poc_spark.plans.job import run_corpus_stats, run_job

    out = str(tmp_path / "cs")
    run_job(spark, pages_df, out, mode="fused", n_buckets=2)
    res = run_corpus_stats(spark, out)
    assert res["corpus_stats_rows"] > 0
    prof = spark.read.parquet(res["corpus_profile_dir"]).collect()
    assert res["corpus_profile_rows"] == len(prof) > 0
    assert {"lang_guess", "n", "mean", "p25", "p50", "p90", "p99"} <= set(
        prof[0].asDict()
    )
    for r in prof:
        assert r["p25"] <= r["p50"] <= r["p90"] <= r["p99"]
        assert r["n"] > 0
    assert sum(r["n"] for r in prof) == res["corpus_stats_rows"]


def test_run_dedup_semantic_method(spark, tmp_path, pages_df):
    """SemDeDup CLI method: mirrored pages (identical bodies -> identical
    hash embeddings -> cosine 1.0 within the same cluster) must pair up
    and resolve into components with one keeper each."""
    import pyspark.sql.functions as F

    from ocr_poc_spark.plans.job import run_dedup

    base = pages_df.limit(25)
    dups = base.select(
        F.concat(F.lit("https://mirror.example/"), F.col("url")).alias("url"),
        "warc_ts", "html", "text", "lang",
    )
    out = str(tmp_path / "dsem")
    run_job(spark, base.unionByName(dups), out, mode="fused", n_buckets=2)
    res = run_dedup(spark, out, method="semantic", clusters=True)
    assert res["dedup_method"] == "semantic" and res["dup_pairs"] > 0
    pairs = spark.read.parquet(res["dup_dir"]).collect()
    assert all(r["cosine"] >= 0.92 for r in pairs)
    mirrors = [
        r for r in pairs
        if r["id_a"].replace("https://mirror.example/", "")
        == r["id_b"].replace("https://mirror.example/", "")
        or r["id_b"].replace("https://mirror.example/", "") == r["id_a"]
    ]
    assert mirrors and all(r["cosine"] == 1.0 for r in mirrors)
    comp = spark.read.parquet(res["dup_components_dir"]).collect()
    by_comp: dict = {}
    for r in comp:
        by_comp.setdefault(r.component_id, []).append(r)
    for cid, members in by_comp.items():
        assert cid == min(m.doc_id for m in members)
        assert sum(1 for m in members if m.keeper) == 1


def test_cli_curate_gopher_gate(spark, pages_df, tmp_path):
    """gopher=True ANDs the published rules into the keep decision; the
    gopher_keep flag rides the keep-list either way."""
    from ocr_poc_spark.plans.job import run_curate, run_job

    out = str(tmp_path / "gq")
    run_job(spark, pages_df, out, mode="fused", n_buckets=2)
    plain = run_curate(spark, out)
    plain_rows = spark.read.parquet(plain["curation_dir"]).collect()
    assert all("gopher_keep" in r.asDict() for r in plain_rows[:1])

    gated = run_curate(spark, out, gopher=True)
    assert gated["curation_kept"] < plain["curation_kept"]
    rows = spark.read.parquet(gated["curation_dir"]).collect()
    assert all((not r["kept"]) or r["gopher_keep"] for r in rows)


def test_run_dedup_semantic_guard_trips_on_degenerate_cluster(
    spark, tmp_path, pages_df
):
    """The CLI semantic path must FAIL (not silently go quadratic) when
    a cluster exceeds the cap: 50 docs across ~8 centroids with cap=3
    pigeonholes at least one cluster over the cap."""
    import pytest

    import pyspark.sql.functions as F

    from ocr_poc_spark.plans.job import run_dedup, run_job

    base = pages_df.limit(25)
    dups = base.select(
        F.concat(F.lit("https://mirror.example/"), F.col("url")).alias("url"),
        "warc_ts", "html", "text", "lang",
    )
    out = str(tmp_path / "dguard")
    run_job(spark, base.unionByName(dups), out, mode="fused", n_buckets=2)
    with pytest.raises(Exception, match="exceeds max_cluster_size"):
        run_dedup(spark, out, method="semantic", semantic_max_cluster=3)
    # the auto formula (8x expected size, floored) does NOT trip here
    res = run_dedup(spark, out, method="semantic")
    assert res["dup_pairs"] > 0


def test_run_span_dedup_stage_and_pack_substitution(
    spark, tmp_path, pages_df
):
    """--span-dedup stage: mirrored pages share their whole body, so
    every mirror doc rewrites to '' (its spans are non-first
    occurrences) while originals keep theirs; --pack then packs the
    rewritten bodies (filters records span_dedup, and no mirror text
    survives into packed pieces)."""
    import pyspark.sql.functions as F

    from ocr_poc_spark.plans.job import run_job, run_pack, run_span_dedup

    base = pages_df.limit(12)
    dups = base.select(
        F.concat(F.lit("https://mirror.example/"), F.col("url")).alias("url"),
        "warc_ts", "html", "text", "lang",
    )
    out = str(tmp_path / "spans")
    run_job(spark, base.unionByName(dups), out, mode="fused", n_buckets=2)
    res = run_span_dedup(spark, out, span_tokens=8)
    assert res["span_dedup_docs"] > 0
    assert res["span_dedup_affected"] > 0
    sd = spark.read.parquet(res["span_dedup_dir"])
    rows = {r["doc_id"]: r for r in sd.collect()}
    # one row per curation doc; every (url, mirror) body pair with >= 8
    # tokens has the mirror fully stripped and the original untouched
    checked = 0
    for doc_id, r in rows.items():
        if doc_id.startswith("https://mirror.example/"):
            orig = rows.get(doc_id.replace("https://mirror.example/", ""))
            if orig is not None and r["n_tokens"] >= 8:
                assert r["text_clean"] == ""
                assert orig["n_removed"] == 0
                checked += 1
    assert checked > 0
    packed = run_pack(spark, out, seq_len=64, chunk_tokens=16, chunk_stride=16)
    assert "span_dedup" in packed["packed_filters"]
    pieces = spark.read.parquet(packed["packed_dir"])
    mirror_pieces = pieces.where(
        F.col("doc_id").startswith("https://mirror.example/")
    ).count()
    assert mirror_pieces == 0 and packed["packed_pieces"] > 0


def test_cli_temperature_sample_and_shards_stages(spark, pages_df, tmp_path):
    """--sample-temperature writes a derived-rate keep-list (rarest
    language kept whole, alpha=1 keeps everything); --shard-tokens
    writes a deterministic shuffled shard assignment over the SAME doc
    set --pack feeds on, idempotent per seed and re-dealt by a new
    seed."""
    import pyspark.sql.functions as F

    from ocr_poc_spark.plans.job import (
        run_job,
        run_shards,
        run_temperature_sample,
    )

    out = str(tmp_path / "ts")
    run_job(spark, pages_df, out, mode="fused", n_buckets=2)

    res = run_temperature_sample(spark, out, alpha=0.5)
    smp = spark.read.parquet(res["sample_dir"])
    kept = smp.groupBy("lang_guess").count().collect()
    assert res["sample_rows"] == smp.count() > 0
    # the rarest language is kept whole
    from ocr_poc_spark.plans.job import _curation_docs

    full = {
        r["lang_guess"]: r["count"]
        for r in _curation_docs(spark, out)
        .groupBy("lang_guess").count().collect()
    }
    rare = min(full, key=lambda k: full[k])
    kept_by = {r["lang_guess"]: r["count"] for r in kept}
    assert kept_by.get(rare) == full[rare]
    # alpha=1: natural distribution, everything kept
    res1 = run_temperature_sample(spark, out, alpha=1.0)
    assert res1["sample_rows"] == sum(full.values())

    sh = run_shards(spark, out, shard_tokens=500, seed="ep0")
    shards = spark.read.parquet(sh["shards_dir"])
    assert sh["shard_rows"] == shards.count() == sum(full.values())
    assert sh["shard_count"] == shards.agg(F.countDistinct("shard_id")).first()[0]
    # positions are a permutation of 0..n-1
    n = sh["shard_rows"]
    assert shards.agg(F.min("pos"), F.max("pos"), F.countDistinct("pos")).first() == (0, n - 1, n)
    # idempotent re-run; new seed re-deals the order (collect BEFORE
    # the overwrite — the lazy frame reads the dir the re-run rewrites)
    a = sorted(map(tuple, shards.collect()))
    again = run_shards(spark, out, shard_tokens=500, seed="ep0")
    assert sorted(map(tuple, spark.read.parquet(again["shards_dir"]).collect())) == a
    other = run_shards(spark, out, shard_tokens=500, seed="ep1")
    assert sorted(map(tuple, spark.read.parquet(other["shards_dir"]).collect())) != a


def test_cli_quality_stage_composes_with_pack(spark, pages_df, tmp_path):
    """--quality-target trains positive=exemplars vs negative=corpus,
    writes a scored keep-list + persisted model, and --pack then packs
    only kept docs."""
    import pyspark.sql.functions as F

    from ocr_poc_spark.plans.job import run_job, run_pack, run_quality

    out = str(tmp_path / "qual")
    run_job(spark, pages_df, out, mode="fused", n_buckets=2)

    bodies = (
        spark.read.parquet(out + "/extracted")
        .where("success AND body_text IS NOT NULL")
        .select("url", "body_text")
        .orderBy("url")
        .limit(8)
    )
    target_path = str(tmp_path / "target.parquet")
    bodies.select(F.col("body_text").alias("text")).write.parquet(target_path)
    target_urls = {r["url"] for r in bodies.collect()}

    res = run_quality(spark, out, target_path)
    q = spark.read.parquet(res["quality_dir"])
    assert res["quality_rows"] == q.count() > 0
    assert 0 < res["quality_kept"] == q.where("keep").count()
    # the persisted model is the full bucket spine
    assert spark.read.parquet(res["quality_model_dir"]).count() == 4096
    # exemplars score in the top half of the corpus (their own n-grams
    # define the positive class)
    med = q.agg(F.expr("percentile(score, 0.5)")).collect()[0][0]
    ex = {r["url"]: r["score"] for r in q.collect() if r["url"] in target_urls}
    assert len(ex) == len(target_urls)
    assert all(v > med for v in ex.values())

    packed = run_pack(spark, out, seq_len=64, chunk_tokens=32, chunk_stride=32)
    assert "quality_classifier" in packed["packed_filters"]
    kept = {r["url"] for r in q.where("keep").collect()}
    packed_urls = {
        r["doc_id"]
        for r in spark.read.parquet(packed["packed_dir"]).select("doc_id").distinct().collect()
    }
    assert packed_urls <= kept


def test_run_decontaminate_spans_stage_and_pack_substitution(
    spark, tmp_path, pages_df
):
    """--decontaminate-spans: a benchmark built from extracted bodies
    forces exactly those docs to rewrite to '' (every window of theirs
    is benchmark-verbatim), other docs untouched; --pack substitutes
    the excised bodies (filters records decon_spans, and no benchmark
    text survives into packed pieces)."""
    import pyspark.sql.functions as F

    from ocr_poc_spark.plans.job import (
        run_decontaminate_spans, run_job, run_pack,
    )

    out = str(tmp_path / "decon")
    run_job(spark, pages_df.limit(30), out, mode="fused", n_buckets=2)

    bodies = (
        spark.read.parquet(out + "/extracted")
        .where("success AND body_text IS NOT NULL")
        .select("url", "body_text")
        .orderBy("url")
        .limit(4)
    )
    bench_path = str(tmp_path / "bench.parquet")
    bodies.select(F.col("body_text").alias("text")).write.parquet(bench_path)
    leaked_urls = {r["url"] for r in bodies.collect()}

    res = run_decontaminate_spans(spark, out, bench_path, span_tokens=8)
    assert res["decon_spans_docs"] > 0
    ds = {r["doc_id"]: r for r in
          spark.read.parquet(res["decon_spans_dir"]).collect()}
    checked = 0
    for url in leaked_urls:
        r = ds.get(url)
        if r is not None and r["n_tokens"] >= 8:
            assert r["text_clean"] == ""
            checked += 1
    assert checked > 0
    assert res["decon_spans_affected"] >= checked

    packed = run_pack(spark, out, seq_len=64, chunk_tokens=16, chunk_stride=16)
    assert "decon_spans" in packed["packed_filters"]
    pieces = spark.read.parquet(packed["packed_dir"])
    leaked_pieces = pieces.where(F.col("doc_id").isin(list(leaked_urls))).count()
    assert leaked_pieces == 0 and packed["packed_pieces"] > 0


def test_run_frontier_stage_uses_churn_priority(spark, tmp_path, pages_df):
    """--frontier: politeness waves over the extracted urls; priority
    defaults to host doc counts, switches to churn when --diff-against
    wrote crawl_churn."""
    import os

    import pyspark.sql.functions as F

    from ocr_poc_spark.plans.job import run_frontier, run_job

    out = str(tmp_path / "fr")
    run_job(spark, pages_df.limit(40), out, mode="fused", n_buckets=2)
    res = run_frontier(spark, out, per_host=2)
    assert res["frontier_priority"] == "host_doc_count"
    fr = spark.read.parquet(res["frontier_dir"])
    assert fr.count() == res["frontier_urls"] == 40
    # politeness invariant
    worst = (
        fr.groupBy("host", "wave").count().agg(F.max("count")).first()[0]
    )
    assert worst <= 2

    # plant a churn table -> priority source flips and values join in
    churn_host = fr.select("host").first()["host"]
    spark.createDataFrame(
        [(churn_host, 0.75)], "host string, churn double"
    ).write.parquet(os.path.join(out, "crawl_churn"))
    res2 = run_frontier(spark, out, per_host=2)
    assert res2["frontier_priority"] == "crawl_churn"
    fr2 = spark.read.parquet(res2["frontier_dir"])
    got = {r["host"]: r["priority"] for r in fr2.select("host", "priority").distinct().collect()}
    assert got[churn_host] == 0.75
    assert all(v == 0.0 for h, v in got.items() if h != churn_host)


def test_run_ccnet_stage_pack_drops_tail(spark, tmp_path, pages_df):
    """--ccnet: per-language ppl terciles persisted; --pack drops
    exactly the tail bucket (head+middle survive)."""
    import pyspark.sql.functions as F

    from ocr_poc_spark.plans.job import run_ccnet, run_job, run_pack

    out = str(tmp_path / "ccnet")
    run_job(spark, pages_df.limit(40), out, mode="fused", n_buckets=2)
    res = run_ccnet(spark, out)
    total = res["ccnet_head"] + res["ccnet_middle"] + res["ccnet_tail"]
    assert total > 0 and res["ccnet_tail"] > 0
    cb = spark.read.parquet(res["ccnet_dir"])
    tail_ids = {r["doc_id"] for r in cb.where("bucket = 'tail'").collect()}

    packed = run_pack(spark, out, seq_len=64, chunk_tokens=32, chunk_stride=32)
    assert "ccnet_tail_drop" in packed["packed_filters"]
    packed_ids = {
        r["doc_id"]
        for r in spark.read.parquet(packed["packed_dir"])
        .select("doc_id").distinct().collect()
    }
    assert packed_ids and not (packed_ids & tail_ids)
    head_mid = {r["doc_id"] for r in cb.where("bucket <> 'tail'").collect()}
    # every packed doc is head/middle or bucket-less (< 2 tokens)
    cb_ids = {r["doc_id"] for r in cb.collect()}
    assert packed_ids <= (head_mid | (packed_ids - cb_ids))


def test_run_frontier_empty_corpus(spark, tmp_path):
    """An empty crawl must yield an empty frontier summary (waves 0),
    not a None + 1 TypeError (review regression)."""
    from ocr_poc_spark.plans.job import run_frontier, run_job

    out = str(tmp_path / "empty")
    empty = spark.createDataFrame(
        [],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    run_job(spark, empty, out, mode="fused", n_buckets=2)
    res = run_frontier(spark, out, per_host=3)
    assert res["frontier_urls"] == 0 and res["frontier_waves"] == 0
    assert res["frontier_priority"] == "none"


def test_cli_select_sample_seed_mode(spark, tmp_path, pages_df):
    """--select-seed: Gumbel resampling picks exactly N, reproduces
    under the same seed, re-deals under a new one, and composes with
    the persisted weight table like the greedy mode."""
    import pyspark.sql.functions as F

    from ocr_poc_spark.plans.job import run_job, run_select

    out = str(tmp_path / "selsmp")
    run_job(spark, pages_df.limit(40), out, mode="fused", n_buckets=2)
    bodies = (
        spark.read.parquet(out + "/extracted")
        .where("success AND body_text IS NOT NULL")
        .select("body_text").orderBy("body_text").limit(5)
    )
    target_path = str(tmp_path / "target.parquet")
    bodies.select(F.col("body_text").alias("text")).write.parquet(target_path)

    res = run_select(spark, out, target_path, top_n=10, sample_seed="ep0")
    assert res["selection_kept"] == 10
    first = {r["url"] for r in spark.read.parquet(res["selection_dir"])
             .where("selected").collect()}
    res2 = run_select(spark, out, target_path, top_n=10, sample_seed="ep0")
    again = {r["url"] for r in spark.read.parquet(res2["selection_dir"])
             .where("selected").collect()}
    assert again == first
    # NOTE: on this fixture the logw gaps dominate the Gumbel noise,
    # so a different seed may legitimately pick the same 10 docs — the
    # draw-varies-with-seed semantics is proven at operator level
    # (test_dsir_resample_gumbel_semantics); here we only pin that the
    # sampled mode stays a valid reproducible selection.
    res3 = run_select(spark, out, target_path, top_n=10, sample_seed="ep7")
    other = {r["url"] for r in spark.read.parquet(res3["selection_dir"])
             .where("selected").collect()}
    assert len(other) == 10
