"""Property-based robustness (hypothesis): at 10^12-document scale the
parser sees every malformed byte sequence the web can produce — the
per-document entry point must be TOTAL (a raising parse becomes a typed
failure row, never a task failure), and block invariants must hold on
everything that parses."""

from html.parser import HTMLParser

from hypothesis import example, given, settings
from hypothesis import strategies as st

from ocr_poc_spark.extractor import extract_document, sniff_and_parse
from ocr_poc_spark.textproc.html_blocks import _BlockParser, _collect
from ocr_poc_spark.textproc.scoring import block_score


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=4096))
def test_sniff_and_parse_invariants_or_isolated_error(payload):
    try:
        blocks, kind = sniff_and_parse(payload)
    except Exception:
        # A raising parse IS allowed (e.g. a malformed %PDF whose Td
        # operands crash float()) — the contract is that every caller
        # isolates it into a typed per-document failure row.
        res = extract_document("u", payload)
        assert res.success is False
        assert res.message.startswith("internal_error: ")
        assert res.doc_kind.startswith("error/")
        return
    fmt, layout = kind.split("/")
    assert fmt in ("html", "pdf", "binary")
    assert layout in ("article", "listing", "unknown")
    offset = 0
    for i, b in enumerate(blocks):
        assert b.idx == i
        assert b.text == " ".join(b.text.split()) and b.text  # normalised, non-empty
        assert b.char_offset == offset
        assert b.n_chars == len(b.text)
        assert 0.0 <= b.link_density <= 1.0
        assert 0.0 <= b.score <= 1.0
        offset += b.n_chars + 1


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=2000))
def test_html_text_roundtrip_invariants(text):
    payload = f"<html><body><p>{text}</p></body></html>".encode("utf-8", "ignore")
    blocks, _ = sniff_and_parse(payload)
    joined = " ".join(b.text for b in blocks)
    # whatever survives is whitespace-normalised visible text
    assert joined == " ".join(joined.split())


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=2048))
def test_extract_document_total(payload):
    res = extract_document("u", payload)
    assert res.success in (True, False)
    assert 0.0 <= res.confidence <= 1.0
    assert 0.0 <= res.quality_score <= 1.0 or res.quality_score >= 0.0
    for f, s, e in res.spans:
        assert 0 <= s <= e


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=300), st.floats(min_value=0.0, max_value=1.0))
def test_block_score_bounded(text, ld):
    assert 0.0 <= block_score(text, ld) <= 1.0


def _stdlib_blocks(html: str):
    """The block parser driven by the stdlib alone: feed + close."""
    parser = _BlockParser()
    try:
        parser.feed(html)
        HTMLParser.close(parser)
    except Exception:
        pass
    parser._flush()
    return parser.raw_blocks, parser.saw_article


# Markup fragments that hit every branch of the stdlib's close(): tags
# cut short, end tags, comments, PIs, declarations, marked sections,
# charrefs, quotes, NUL after a tag name, script/style CDATA.
_FRAGMENTS = [
    "<", ">", "</", "<!--", "-->", "<?", "<!", "<![", "<![cdata[", "<![if ",
    "<![foo ", "]]>", "<a", "<a ", "<p>", "<p", "<div>", "</div>", "</p>",
    "<script>", "</script>", "<style>", "<article>", "<nav>", "&amp;", "&",
    "&#62;", "&amp", " ", "x", "'", '"', "=", "/", "\x00", "\n", "<!doctype",
    "<li>", "<b c='d'", "words",
]


@settings(max_examples=300, deadline=None)
@given(st.one_of(
    st.lists(st.sampled_from(_FRAGMENTS), max_size=40).map("".join),
    st.text(max_size=60),
))
@example("<p>x<a&amp;\x00y")
@example("<p>x<a&amp;<b\x00y &amp; z")
@example("<p>x<![<a ")
@example("<p>x<![cdata <a ")
@example("<script>x<a ")
def test_tail_parse_matches_stdlib_parser(html):
    """The linear tail after the last '>' gives exactly the blocks the
    stdlib parser's own (quadratic) close() gives."""
    parser = _collect(html)
    assert (parser.raw_blocks, parser.saw_article) == _stdlib_blocks(html)
