"""Adversarial-HTML parity + containment: pages with entities, script/
style payloads, comments, CDATA, attribute noise, and high-Unicode text
must (a) stay byte-identical between the fused Spark path and the
sequential kernel and (b) never leak non-content bytes (script bodies,
comments, attribute values, CSS) into the extracted body."""

import datetime

from ocr_poc_spark.extractor import ALL_FIELDS, extract_document
from ocr_poc_spark.plans.job import extract_fused


def _paras(n=10):
    return "".join(
        f"<p>paragraph {i} has quite a few sensible readable words inside"
        f" it for scoring purposes today</p>"
        for i in range(n)
    )


LEAK_MARKERS = (
    "SCRIPTLEAK", "SCRIPTLEAK2", "COMMENTLEAK", "ATTRLEAK", "CDATALEAK",
    "color:red", "alert(",
)

CASES = {
    "entities": (
        "<html><body><article><h1>Caf&eacute; &amp; Bar</h1><p>Author</p>"
        "<p>Writer X</p><p>1.2.2020</p><p>5 min read</p>"
        f"<p>body &lt;tag&gt; &quot;q&quot; text</p>{_paras()}</article></body></html>"
    ),
    "script_style": (
        "<html><head><style>p{color:red}</style>"
        "<script>var x='<p>fake SCRIPTLEAK</p>';</script></head><body>"
        f"<article><h1>Title</h1>{_paras()}"
        "<script>alert('SCRIPTLEAK2')</script></article></body></html>"
    ),
    "comments": (
        "<html><body><!-- <p>COMMENTLEAK</p> -->"
        f"<article><h1>T</h1>{_paras()}</article></body></html>"
    ),
    "high_unicode": (
        "<html><body><article><h1>Tß İstanbul</h1><p>été straße naïve</p>"
        f"{_paras()}</article></body></html>"
    ),
    "attr_noise": (
        '<html><body><article data-x="<p>ATTRLEAK</p>"><h1 title="a>b">T</h1>'
        f"{_paras()}</article></body></html>"
    ),
    "cdata": (
        "<html><body><article><h1>T</h1><p><![CDATA[CDATALEAK]]></p>"
        f"{_paras()}</article></body></html>"
    ),
}


def test_adversarial_pages_parity_and_no_leaks(spark):
    rows = [
        (f"https://adv.example/{k}", datetime.datetime(2025, 1, 1),
         v.encode(), "", "en")
        for k, v in CASES.items()
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    fused = {r["url"]: r for r in extract_fused(df).collect()}
    for k, html in CASES.items():
        u = f"https://adv.example/{k}"
        f = fused[u]
        kr = extract_document(u, html.encode())
        assert kr.success == f["success"] and kr.body_text == f["body_text"], k
        assert all(kr.fields.get(fl) == f[fl] for fl in ALL_FIELDS), k
        # all these pages carry enough paragraphs to pass the gate —
        # a gate regression would silently void the leak assertions
        assert f["success"], k
        body = f["body_text"] or ""
        for marker in LEAK_MARKERS:
            assert marker not in body, f"{k}: {marker} leaked into body"
    # entity decoding reaches the extracted title
    assert fused["https://adv.example/entities"]["title"] == "Café & Bar"
