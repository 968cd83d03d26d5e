"""Cascade-semantics unit tests against hand-built block streams —
mirrors the reference's per-stage behavior (SURVEY.md §2 rows F1, R1-R6,
J1/J2/J5, W1-W3, A2/A3)."""

from ocr_poc_spark.extractor import (
    ALL_FIELDS,
    assess_quality,
    detect_anchors,
    extract_document,
    extract_fixed_format_fields,
    preprocess,
)
from ocr_poc_spark.textproc.html_blocks import Block
from ocr_poc_spark.textproc.scoring import block_score


def mk(idx, text, score=None, x=0.0, y=None, boiler=False):
    return Block(
        idx=idx, text=text, depth=3,
        char_offset=idx * 100, n_chars=len(text),
        link_density=0.0,
        score=block_score(text, 0.0) if score is None else score,
        x=x, y=(idx * 40.0 if y is None else y), boiler=boiler,
    )


LONG = "This is a long enough paragraph that scores very well indeed ok."


def test_quality_gate_thresholds():
    # html/article needs >= 8 valid and >= 5 good (ref _18_f.py:84-87)
    blocks = [mk(i, LONG) for i in range(8)]
    ok, avg = assess_quality(blocks, "html/article")
    assert ok and avg == 1.0
    ok, _ = assess_quality(blocks[:7], "html/article")
    assert not ok
    # html/listing needs only >= 5 valid / >= 3 good (verso analogue)
    ok, _ = assess_quality(blocks[:5], "html/listing")
    assert ok
    # avg below 0.5 fails regardless of counts
    lows = [mk(i, "Home", score=0.2) for i in range(20)]
    ok, avg = assess_quality(lows, "html/article")
    assert not ok and abs(avg - 0.2) < 1e-12


def test_preprocess_filters():
    blocks = [
        mk(0, "keep me please, long enough to score fine"),
        mk(1, "low", score=0.1),              # score < 0.3
        mk(2, "é"),                            # short non-latin
        mk(3, "We use cookies"),               # stop phrase (html)
        mk(4, "in nav", boiler=True),          # structural boilerplate
        mk(5, "ok token"),
    ]
    kept = [b.idx for b in preprocess(blocks, "html/article")]
    assert kept == [0, 5]
    # pdf: no stop-phrase/boiler filters, but syntax bleed dropped
    pdfb = [mk(0, "%%EOF marker"), mk(1, "a <<< b"), mk(2, "fine text")]
    assert [b.idx for b in preprocess(pdfb, "pdf/article")] == [2]
    # listing: 3-letter all-caps codes dropped
    lst = [mk(0, "USA"), mk(1, "Usa ok")]
    assert [b.idx for b in preprocess(lst, "html/listing")] == [1]


def test_fixed_claims_first_match_and_interaction():
    data = [
        mk(0, "intro text"),
        mk(1, "12.03.2021"),      # claims pub_date
        mk(2, "13.04.2022"),      # second date stays in stream
        mk(3, "7 min read"),      # claims reading_time
        mk(4, "12 comments"),     # claims comment_count
    ]
    values, claimed, remove = extract_fixed_format_fields(data, "html/article")
    assert values == {"pub_date": "12.03.2021", "reading_time": "7 min", "comment_count": "12"}
    assert remove == [1, 3, 4]
    assert claimed["pub_date"].idx == 1


def test_detect_anchors_fuzzy_and_first_anchor_break():
    data = [mk(0, "Authr"), mk(1, "Jane Doe"), mk(2, "Category")]
    det = detect_anchors(data)
    assert [p for p, _, _ in det["author"]] == [0]
    assert [p for p, _, _ in det["category"]] == [2]
    assert det["title"] == [] and det["summary"] == []


def test_end_to_end_article():
    html = (
        "<html><head><title>The Headline Here</title></head><body>"
        "<nav><ul><li><a href='/'>Home</a></li><li><a href='/n'>News</a></li></ul></nav>"
        "<article><h1>The Headline Here</h1>"
        "<p>Author</p><p>Jane Doe</p>"
        "<p>Category</p><p>Science</p>"
        "<p>15.03.2021</p><p>5 min read</p><p>42 comments</p>"
        f"<p>{LONG}</p><p>{LONG} More words here.</p><p>{LONG} Even more.</p>"
        "</article><footer><p>All rights reserved</p></footer></body></html>"
    ).encode()
    res = extract_document("u", html)
    assert res.success and res.doc_kind == "html/article"
    assert res.fields["author"] == "Jane Doe"
    assert res.fields["category"] == "Science"
    assert res.fields["pub_date"] == "15.03.2021"
    assert res.fields["reading_time"] == "5 min"
    assert res.fields["comment_count"] == "42"
    assert res.fields["title"] == "The Headline Here"  # positional rank 1
    assert res.body_text is not None and res.body_text.count(LONG) == 3
    assert "All rights reserved" not in res.body_text   # footer stripped
    assert "Home" not in (res.body_text or "")          # nav stripped
    assert res.confidence == 6 / 7.0  # kind battery of 7; summary missing
    assert res.anchors_detected == {
        "title": False, "author": True, "category": True, "summary": False,
    }
    # spans point into the '\n'-joined block text space
    span_fields = [s[0] for s in res.spans]
    assert span_fields[: span_fields.index("body")] == [
        "title", "author", "category", "pub_date", "reading_time", "comment_count",
    ]


def test_used_values_dedup_across_fields():
    # author and category anchors both bind the same nearest value ->
    # first field in priority order keeps it (used_values dedup,
    # ref _18_f.py:373-396), second falls back positionally.
    html = (
        "<html><body><article>"
        "<p>Author</p><p>Category</p><p>Jane Doe</p><p>Published</p>"
        f"<p>{LONG}</p><p>{LONG} b.</p><p>{LONG} c.</p><p>{LONG} d.</p>"
        f"<p>{LONG} e.</p><p>{LONG} f.</p>"
        "</article></body></html>"
    ).encode()
    res = extract_document("u", html)
    assert res.success
    assert res.fields["author"] == "Jane Doe"
    assert res.fields["category"] != "Jane Doe"
    assert res.fields["category"] is not None  # positional fallback fired


def test_gate_failure_row():
    res = extract_document("u", b"<html><body><p>tiny</p></body></html>")
    assert not res.success and res.message == "insufficient_quality"
    assert res.confidence == 0.0
    assert all(res.fields[f] is None for f in ALL_FIELDS)
    assert res.spans == [] and res.anchors_detected == {}


def test_empty_document_row():
    res = extract_document("u", b"")
    assert not res.success and res.message == "empty_document"
    assert res.n_blocks == 0 and res.quality_score == 0.0


def test_site_name_pattern_fallback_listing_only():
    # W5 analogue (ref _18_b.py:371-383): listing layouts pick the first
    # high-score all-capitalised multi-word block not already consumed.
    promos = "".join(f"<p>{LONG} v{i}.</p>" for i in range(6))
    banner = "<p>Acme Daily News Network Media</p>"
    html = f"<html><body>{promos}{banner}</body></html>".encode()
    res = extract_document("u", html)
    assert res.success and res.doc_kind == "html/listing"
    assert res.fields["site_name"] == "Acme Daily News Network Media"
    assert "Acme Daily" not in (res.body_text or "")  # consumed, not body
    # same content inside <article> -> article layout -> no site_name
    html2 = f"<html><body><article>{promos}{banner}</article></body></html>".encode()
    res2 = extract_document("u", html2)
    assert res2.doc_kind == "html/article"
    assert res2.fields["site_name"] is None


def test_binary_payload_unsupported_format():
    res = extract_document("u", b"\x89PNG\r\n\x1a\n\x00\x00\x00\rIHDR")
    assert not res.success and res.message == "unsupported_format"
    assert res.doc_kind == "binary/unknown" and res.n_blocks == 0
    # PDFs are still PDFs even with binary bytes inside
    res2 = extract_document("u", b"%PDF-1.4\n\x00binary stream\n%%EOF")
    assert res2.doc_kind.startswith("pdf/")


def test_cascade_stage_crash_is_one_typed_row(monkeypatch):
    """An exception in a cascade stage after the parse (here
    detect_anchors) becomes the typed error row, and the job's batch
    function writes exactly the row the sequential kernel returns."""
    import pandas as pd

    from ocr_poc_spark import extractor
    from ocr_poc_spark.plans.job import _fused_batches

    def crash(data):
        raise KeyError("injected stage bug")

    monkeypatch.setattr(extractor, "detect_anchors", crash)
    html = f"<html><body><article>{f'<p>{LONG}</p>' * 8}</article></body></html>".encode()
    res = extract_document("u", html)
    assert (res.doc_kind, res.success, res.message) == (
        "error/KeyError", False, "internal_error: KeyError"
    )
    assert all(res.fields[f] is None for f in ALL_FIELDS) and res.body_text is None
    (row,) = next(
        _fused_batches(iter([pd.DataFrame({"url": ["u"], "html": [html]})]))
    ).to_dict("records")
    assert {k: row[k] for k in ("url", "doc_kind", "success", "message", "raw_text", "n_blocks")} == {
        "url": "u", "doc_kind": res.doc_kind, "success": res.success,
        "message": res.message, "raw_text": res.raw_text, "n_blocks": res.n_blocks,
    }
    assert all(row[f] is None for f in ALL_FIELDS) and row["body_text"] is None
