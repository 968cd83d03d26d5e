"""Byte-identical parity: the fused map-only Spark path vs the sequential
oracle (the same kernel run one document at a time), per url on every
column (the north_rule's "byte-identical extracted text per url" gate)."""

from ocr_poc_spark.plans.job import extract_fused

from conftest import assert_matches_oracle


def test_fused_path_matches_oracle(spark, pages_df, oracle_results):
    got = extract_fused(pages_df).collect()
    assert_matches_oracle(got, oracle_results)


def test_duplicate_urls_stay_separate_documents(spark, fixture_rows):
    """Re-crawled corpora carry the same url twice (distinct warc_ts).
    Each input ROW must flow through the fused path as its own
    document — the block streams of same-url rows must never interleave
    — and match the kernel run on its own payload row-for-row."""
    import datetime as dt

    rows = []
    for i, r in enumerate(fixture_rows[:12]):
        rows.append((r["url"], r["warc_ts"], r["html"], "", r["lang"]))
        # Re-crawl: same url, DIFFERENT payload (a later fixture's html).
        other = fixture_rows[20 + i]
        rows.append(
            (r["url"], r["warc_ts"] + dt.timedelta(days=30), other["html"], "", r["lang"])
        )
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )

    def key(d):
        spans = [(s["field"], s["start"], s["end"]) for s in (d["spans"] or [])]
        return (d["url"], d["doc_kind"], d["raw_text"], d["body_text"],
                d["success"], d["n_blocks"], tuple(spans))

    fus = sorted(key(r.asDict(recursive=True))
                 for r in extract_fused(pages).collect())
    assert len(fus) == len(rows) == 24
    # Each row matches the kernel run on ITS OWN payload.
    from ocr_poc_spark.extractor import extract_document

    exp = sorted(
        (url, res.doc_kind, res.raw_text, res.body_text, res.success,
         res.n_blocks, tuple(tuple(s) for s in res.spans))
        for url, _, html, _, _ in rows
        for res in [extract_document(url, html)]
    )
    assert fus == exp


def test_poison_pill_isolated_in_both_paths(spark, fixture_rows):
    """One raising payload must yield ONE typed failure row —
    success=false, doc_kind 'error/ValueError', message
    'internal_error: ValueError' — while the other N-1 documents extract
    normally, through real Spark workers (reference analogue: typed
    per-request errors, api_server.py:177-236 — a poison doc never fails
    the task/bucket). Uses the documented %RAISE-TEST% fault-injection
    hook: the round-2 parser hardening removed every known organic
    crasher (the old malformed-%PDF float crash now parses gracefully),
    so injection is the only way to drive the isolation path through
    real Spark workers."""
    poison = b"%RAISE-TEST% boom"
    rows = [(r["url"], r["html"]) for r in fixture_rows[:20]]
    rows.append(("https://bad.example/poison", poison))
    pages = spark.createDataFrame(rows, "url string, html binary")

    from ocr_poc_spark.extractor import extract_document

    got = {r["url"]: r for r in extract_fused(pages).collect()}
    assert len(got) == 21
    bad = got["https://bad.example/poison"]
    assert bad["success"] is False
    assert bad["doc_kind"] == "error/ValueError"
    assert bad["message"] == "internal_error: ValueError"
    assert bad["n_blocks"] == 0 and bad["body_text"] is None
    n_ok = sum(1 for r in got.values() if r["success"])
    assert n_ok == sum(1 for u, h in rows[:20] if extract_document(u, h).success)


def test_parse_scan_prunes_columns(spark, tmp_path):
    """Column pruning must reach the parquet scan: the fused extraction
    stage reads only (url, html) — at 100TB the heavy binary column is
    the only required read and text/lang/warc_ts are never materialised."""
    from ocr_poc_spark.fixtures import write_pages_parquet

    p = str(tmp_path / "pages.parquet")
    write_pages_parquet(p, 20, seed=5)
    ext = extract_fused(spark.read.parquet(p))
    plan = ext._jdf.queryExecution().executedPlan().toString()
    m = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert m, plan
    schema_line = m[0]
    assert "url" in schema_line and "html" in schema_line
    assert "warc_ts" not in schema_line and "lang" not in schema_line


def test_span_points_at_true_source_occurrence(spark):
    """A field value whose text also appears in an EARLIER unrelated
    block must get its span from the block it was actually extracted
    from (the recorded source), not the first text match — in the
    kernel AND the fused Spark path."""
    from ocr_poc_spark.extractor import extract_document, sniff_and_parse

    html = (
        b"<html><body><article>"
        b"<h1>Some Headline Words Here</h1>"
        b"<p>Interesting Tech News</p>"
        b"<p>Tech</p>"  # early duplicate of the value text
        b"<p>Filler paragraph with enough words to score well indeed truly</p>"
        b"<p>More filler text to pass the quality gate with several blocks</p>"
        b"<p>Another block of sufficiently long prose for scoring purposes</p>"
        b"<p>Yet another long block keeps the quality average high enough</p>"
        b"<p>CATEGORY</p>"
        b"<p>Tech</p>"  # the block actually bound to the anchor
        b"</article></body></html>"
    )
    blocks, _ = sniff_and_parse(html)
    tech_offsets = [b.char_offset for b in blocks if b.text == "Tech"]
    assert len(tech_offsets) == 2
    late = tech_offsets[1]

    r = extract_document("u", html)
    assert r.success and r.fields["category"] == "Tech"
    cat_spans = [s for s in r.spans if s[0] == "category"]
    assert cat_spans == [("category", late, late + 4)]

    pages = spark.createDataFrame([("u", html)], "url string, html binary")
    row = extract_fused(pages).collect()[0]
    got = [(s["field"], s["start"], s["end"]) for s in row["spans"]
           if s["field"] == "category"]
    assert got == [("category", late, late + 4)]
