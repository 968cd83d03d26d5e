"""Unit tests for the pure-Python kernels (SURVEY.md §5 item 2)."""

from ocr_poc_spark.textproc.html_blocks import parse_html_blocks
from ocr_poc_spark.textproc.pdf_blocks import is_pdf, parse_pdf_blocks
from ocr_poc_spark.textproc.scoring import block_score
from ocr_poc_spark.textproc.simtext import _sim_core, is_likely_label


def test_html_blocks_basic():
    html = (
        b"<html><head><title>My Title</title></head><body>"
        b"<nav><ul><li><a href='/'>Home</a></li></ul></nav>"
        b"<article><h1>My Title</h1><p>Hello world this is the body.</p></article>"
        b"<footer><p>All rights reserved</p></footer></body></html>"
    )
    blocks, layout = parse_html_blocks(html)
    assert layout == "article"
    texts = [b.text for b in blocks]
    assert texts == [
        "My Title", "Home", "My Title", "Hello world this is the body.",
        "All rights reserved",
    ]
    # nav li is inside <a>: full link density; boiler flag set
    home = blocks[1]
    assert home.link_density == 1.0 and home.boiler
    assert blocks[3].link_density == 0.0 and not blocks[3].boiler
    # offsets are cumulative over '\n'-joined texts
    assert blocks[1].char_offset == len("My Title") + 1
    # idx/geometry
    assert [b.idx for b in blocks] == [0, 1, 2, 3, 4]
    assert blocks[2].y == 2 * 40.0


def test_html_blocks_malformed_and_skip():
    blocks, layout = parse_html_blocks(b"<p>unclosed <script>var x=1;</script><p>two")
    texts = [b.text for b in blocks]
    assert "var x=1;" not in " ".join(texts)
    assert "unclosed" in texts and "two" in texts
    assert layout == "listing"
    assert parse_html_blocks(b"")[0] == []


def test_html_whitespace_normalised():
    blocks, _ = parse_html_blocks(b"<p>  a\n\n  b\tc  </p>")
    assert blocks[0].text == "a b c"


def test_pdf_blocks():
    payload = (
        b"%PDF-1.4\n%layout:listing\n"
        b"4 0 obj << /Length 99 >> stream\n"
        b"BT /F1 12 Tf 72 760 Td (Hello \\(world\\)) Tj ET\n"
        b"BT /F1 12 Tf 72 720 Td [(Part) ( one)] TJ ET\n"
        b"endstream endobj\n%%EOF\n"
    )
    assert is_pdf(payload)
    blocks, layout = parse_pdf_blocks(payload)
    assert layout == "listing"
    assert [b.text for b in blocks] == ["Hello (world)", "Part one"]
    assert blocks[0].y == 40.0 and blocks[1].y == 80.0  # PAGE_H - Td y
    assert blocks[0].x == 72.0


def test_block_score_bands():
    assert block_score("", 0.0) == 0.0
    assert block_score("Home", 1.0) < 0.3            # nav link -> noise
    assert 0.3 < block_score("12.03.2021", 0.0) <= 0.8  # short factual token
    assert block_score("x" * 80, 0.0) == 1.0          # paragraph
    assert block_score("x" * 80, 0.5) < 0.7


def test_similarity_exact_and_fuzzy():
    assert _sim_core("AUTHOR", "AUTHOR") == 1.0
    assert _sim_core("AUTHR", "AUTHOR") >= 0.70   # fuzzy anchor hit
    assert _sim_core("AUTH0R", "AUTHOR") >= 0.70
    assert _sim_core("BANANA", "AUTHOR") < 0.70
    # length-ratio prune: long text can never reach the threshold
    assert _sim_core("X" * 100, "AUTHOR") == 0.0


def test_similarity_prefix_bonus():
    from difflib import SequenceMatcher

    base = SequenceMatcher(None, "CATEG", "CATEGORY").ratio()
    expect = min(base + 4 * 0.1 * (1 - base), 1.0)
    assert _sim_core("CATEG", "CATEGORY") == expect


def test_is_likely_label():
    assert is_likely_label("Title/Headline")          # bilingual slash
    assert is_likely_label("Written by")              # exact anchor
    assert is_likely_label("Writen by")               # fuzzy >= 0.75
    assert is_likely_label("Published on the date")   # >= half keywords
    assert is_likely_label("by")                      # exact keyword
    assert not is_likely_label("Jane Doe")
    assert not is_likely_label("A perfectly normal sentence about foxes.")


def test_pdf_relative_positioning_operators():
    # Relative Td accumulation, Tm absolute set, TL + T* line advance
    payload = (
        b"%PDF-1.4\n"
        b"stream\nBT 16 TL 72 760 Td (line1) Tj 0 -20 Td (line2) Tj T* (line3) Tj ET\n"
        b"BT 1 0 0 1 100 400 Tm (line4) Tj ET\nendstream\n%%EOF\n"
    )
    blocks, _ = parse_pdf_blocks(payload)
    assert [b.text for b in blocks] == ["line1", "line2", "line3", "line4"]
    ys = [b.y for b in blocks]
    assert ys[0] == 800.0 - 760.0
    assert ys[1] == 800.0 - 740.0          # relative Td: 760 - 20
    assert ys[2] == 800.0 - (740.0 - 16.0)  # T* advances by TL
    assert blocks[3].x == 100.0 and blocks[3].y == 400.0  # Tm absolute


def test_implied_end_tags_keep_siblings_flat():
    """HTML5 optional end tags (<li>, <p>, <td> siblings without closers)
    must not nest: depth/x stay constant across siblings instead of
    monotonically inflating the synthetic proximity geometry."""
    from ocr_poc_spark.textproc.html_blocks import parse_html_blocks

    blocks, _ = parse_html_blocks(b"<ul><li>Alpha<li>Beta<li>Gamma<li>Delta</ul>")
    assert [b.text for b in blocks] == ["Alpha", "Beta", "Gamma", "Delta"]
    assert [(b.text, b.depth) for b in blocks] == [
        ("Alpha", 2), ("Beta", 2), ("Gamma", 2), ("Delta", 2),
    ]

    blocks, _ = parse_html_blocks(b"<p>one<p>two<div><p>three</div><p>four")
    assert [(b.text, b.depth) for b in blocks] == [
        ("one", 1), ("two", 1), ("three", 2), ("four", 1),
    ]

    blocks, _ = parse_html_blocks(b"<table><tr><td>a<td>b<tr><td>c</table>")
    assert [(b.text, b.depth) for b in blocks] == [("a", 3), ("b", 3), ("c", 3)]


def test_pdf_strings_cannot_inject_positioning():
    """Positioning operators inside string literals are shown text, not
    events; malformed operands degrade gracefully instead of raising."""
    from ocr_poc_spark.textproc.pdf_blocks import parse_pdf_blocks

    blocks, _ = parse_pdf_blocks(
        b"%PDF-1.4\nBT 50 700 Td (move 10 20 Td then more) Tj 0 -40 Td (second line) Tj ET"
    )
    assert [(b.text, b.x, b.y) for b in blocks] == [
        ("move 10 20 Td then more", 50.0, 100.0),
        ("second line", 50.0, 140.0),
    ]
    # strict float: '1.2.3' no longer reaches float() and cannot crash
    blocks, _ = parse_pdf_blocks(b"%PDF-1.4\nBT 1.2.3 4 Td (hi) Tj ET")
    assert [b.text for b in blocks] == ["hi"]
    # layout dispatch is line-anchored — inline mentions don't flip it
    _, lay = parse_pdf_blocks(b"%PDF-1.4\nBT 1 2 Td (see %layout:listing here) Tj ET")
    assert lay == "article"
    _, lay2 = parse_pdf_blocks(b"%PDF-1.4\n%layout:listing\nBT 1 2 Td (x) Tj ET")
    assert lay2 == "listing"


def test_html_parse_time_linear_in_nesting_depth():
    """A page of n nested <div>s must parse in time linear in n: 8x the
    input may cost ~8x, never the ~64x of a per-block cost that grows
    with the open-element stack. Bound 20 leaves slack for timer noise."""
    import time

    def best_of_3(n):
        page = b"<div>x " * n
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            blocks, _ = parse_html_blocks(page)
            best = min(best, time.perf_counter() - t0)
        assert len(blocks) == n and blocks[-1].depth == n
        return best

    small, large = best_of_3(2_000), best_of_3(16_000)
    assert large / small < 20, (small, large)


def test_html_parse_time_linear_in_unterminated_tail():
    """Malformed tails after the last '>' ('<a ' runs, '</' runs, '<?'
    runs) must parse in time linear in their length: the stdlib
    parser's close() rescans the buffer once per unterminated '<', so
    8x the input cost ~64x there (16,000 '<a ' took ~40 s). Bound 20
    leaves slack for timer noise."""
    import time

    def best_of_3(shape, n):
        page = b"<p>hi</p>" + shape * n
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            blocks, _ = parse_html_blocks(page)
            best = min(best, time.perf_counter() - t0)
        assert blocks[0].text == "hi"
        return best

    for shape in (b"<a ", b"</", b"<?"):
        small, large = best_of_3(shape, 2_000), best_of_3(shape, 16_000)
        assert large / small < 20, (shape, small, large)
