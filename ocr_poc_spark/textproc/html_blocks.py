"""HTML payload -> positioned text-block stream (stdlib html.parser).

This is the web analogue of the reference's OCR tokenizer
(/root/reference/ocr/paddle_extractor.py:21-34): binary payload in,
parallel arrays of (text, score, position) out. Instead of PaddleOCR
polygons we emit DOM-derived blocks with synthetic layout coordinates so
the downstream proximity-binding operator
(/root/reference/ocr/extractors/cni_extractor_18_f.py:293-351) keeps its
exact geometric semantics:

    x = depth * 50.0        (indentation ~ horizontal position)
    y = idx   * 40.0        (reading order ~ line position)

Block fields:
    idx          int     reading order (elimination/anti-join key)
    text         str     whitespace-normalised direct text of the block
    depth        int     DOM depth (open elements at the block's start)
    char_offset  int     start offset in '\\n'.join(block texts)
    n_chars      int     len(text)
    link_density float   fraction of block chars inside <a>
    score        float   quality score (see scoring.block_score)
    x, y         float   synthetic layout centroid
    boiler       bool    structural boilerplate (inside nav/footer/header/aside)

Deterministic, tolerant of malformed HTML (html.parser recovers), and
pure Python so the same code runs in the oracle and inside the
Arrow-batched Spark UDF.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from html import unescape
from html.parser import HTMLParser

from .scoring import block_score

# Elements whose direct text forms a block (flattened: a nested block
# element closes the enclosing block's text run).
BLOCK_TAGS = {
    "p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "td", "th", "title",
    "blockquote", "pre", "figcaption", "caption", "dt", "dd", "div",
    "summary",
}
# Subtrees skipped entirely.
SKIP_TAGS = {"script", "style", "noscript", "svg", "template", "iframe"}
# Structural boilerplate containers (trafilatura/readability-style strip).
BOILER_TAGS = {"nav", "footer", "header", "aside"}
# Void elements never pushed on the open-tag stack.
VOID_TAGS = {
    "br", "hr", "img", "input", "meta", "link", "area", "base", "col",
    "embed", "source", "track", "wbr",
}

# HTML5 implied end tags (simplified): omitting </li>, </p>, </td> etc.
# is spec-valid and ubiquitous on the real web; without these rules each
# sibling nests under the previous one, monotonically inflating
# depth/x and corrupting the synthetic proximity geometry.
_SIBLING_CLOSERS: dict[str, frozenset[str]] = {
    "li": frozenset({"li"}),
    "dt": frozenset({"dt", "dd"}),
    "dd": frozenset({"dt", "dd"}),
    "option": frozenset({"option"}),
    "tr": frozenset({"tr", "td", "th"}),
    "td": frozenset({"td", "th"}),
    "th": frozenset({"td", "th"}),
}
# Block-level start tags that implicitly close an open <p>.
_P_CLOSERS = frozenset({
    "address", "article", "aside", "blockquote", "div", "dl", "fieldset",
    "figure", "footer", "form", "h1", "h2", "h3", "h4", "h5", "h6",
    "header", "main", "nav", "ol", "p", "pre", "section", "table", "ul",
})

X_PER_DEPTH = 50.0
Y_PER_IDX = 40.0


@dataclass
class Block:
    idx: int
    text: str
    depth: int
    char_offset: int
    n_chars: int
    link_density: float
    score: float
    x: float
    y: float
    boiler: bool


class _BlockParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.stack: list[str] = []
        # open elements per tag: an end tag's "is it open at all?" test
        # in O(1), not a scan of the whole stack
        self.n_open: dict[str, int] = {}
        self.raw_blocks: list[tuple[int, str, int, int]] = []  # (depth, text, link_chars, boiler_depth)
        self.saw_article = False
        self._skip = 0
        self._link = 0
        self._boiler = 0
        self._cur_depth: int | None = None
        self._cur_parts: list[str] = []
        self._cur_link_chars = 0
        self._cur_boiler = 0

    # -- block lifecycle ------------------------------------------------
    def _open_block(self, depth: int) -> None:
        self._flush()
        self._cur_depth = depth
        self._cur_parts = []
        self._cur_link_chars = 0
        self._cur_boiler = self._boiler

    def _flush(self) -> None:
        if self._cur_depth is None:
            return
        raw = "".join(self._cur_parts)
        self.raw_blocks.append(
            (self._cur_depth, raw, self._cur_link_chars, self._cur_boiler)
        )
        self._cur_depth = None
        self._cur_parts = []
        self._cur_link_chars = 0
        self._cur_boiler = 0

    # -- HTMLParser hooks ------------------------------------------------
    def _pop_one(self) -> str:
        """Pop the top open element with full bookkeeping."""
        top = self.stack.pop()
        self.n_open[top] -= 1
        if top in BLOCK_TAGS and self._skip == 0:
            self._flush()
        if top in SKIP_TAGS:
            self._skip = max(0, self._skip - 1)
        if top == "a":
            self._link = max(0, self._link - 1)
        if top in BOILER_TAGS:
            self._boiler = max(0, self._boiler - 1)
        return top

    def handle_starttag(self, tag: str, attrs) -> None:
        tag = tag.lower()
        if tag in VOID_TAGS:
            return
        # Implied end tags: close open siblings / an open <p> that this
        # start tag terminates per (simplified) HTML5 parsing rules.
        sib = _SIBLING_CLOSERS.get(tag, frozenset())
        while self.stack and (
            self.stack[-1] in sib
            or (self.stack[-1] == "p" and tag in _P_CLOSERS)
        ):
            self._pop_one()
        if tag in SKIP_TAGS:
            self._skip += 1
        if tag == "article":
            self.saw_article = True
        if tag == "a":
            self._link += 1
        if tag in BOILER_TAGS:
            self._boiler += 1
        self.stack.append(tag)
        self.n_open[tag] = self.n_open.get(tag, 0) + 1
        if self._skip == 0 and tag in BLOCK_TAGS:
            self._open_block(len(self.stack))

    def handle_endtag(self, tag: str) -> None:
        tag = tag.lower()
        if tag in VOID_TAGS:
            return
        if not self.n_open.get(tag):
            return
        # Pop (recovering from unclosed children) up to the matching tag.
        while self.stack:
            if self._pop_one() == tag:
                break

    def handle_data(self, data: str) -> None:
        if self._skip or not data:
            return
        if self._cur_depth is None:
            if not data.strip():
                return
            # Stray text outside a block element: implicit block at the
            # current stack depth (1, as if under <html>, when empty).
            self._open_block(len(self.stack) or 1)
        self._cur_parts.append(data)
        if self._link > 0:
            self._cur_link_chars += len(data)


# How HTMLParser.close() classifies a '<' after the last '>'.
_STARTTAG_OPEN = re.compile(r"<[a-zA-Z]")
_TAG_NAME_END = re.compile(r"[\t\n\r\f />\x00]")
_DECL_NAME = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")
_MARKED_SECTIONS = {"temp", "cdata", "ignore", "include", "rcdata", "if", "else", "endif"}


def _feed_tail(parser: _BlockParser, tail: str) -> None:
    """Give ``tail`` (the text after the last '>') the data events
    CPython 3.11's HTMLParser.close() gives it, in one linear pass where
    close() rescans the buffer once per unterminated '<'. With no '>'
    left no tag completes: each '<' starts a data chunk running to the
    next '<', except that a tag name ending in NUL is emitted raw and a
    ``<![`` the stdlib cannot scan stops the parse (it raises there).
    It copies 3.11's close() (the regexes above, ``cdata_elem``);
    tests/test_property_parser.py checks it against the running
    interpreter's feed + close, and it goes once that close() is linear."""
    if parser.cdata_elem:  # an open script/style swallows the tail
        return
    n, i, name_end = len(tail), 0, -1
    while i < n:
        if tail.startswith("<![", i):
            m = _DECL_NAME.match(tail, i + 3)
            name = m and m.end() < n and m.group().strip().lower()
            if i + 3 < n and (m is None or (name and name not in _MARKED_SECTIONS)):
                return
        elif _STARTTAG_OPEN.match(tail, i):
            if name_end < i + 2:  # one search per run of '<'-joined names
                m = _TAG_NAME_END.search(tail, i + 2)
                name_end = m.start() if m else n
            if tail.startswith("\x00", name_end):
                parser.handle_data(tail[i:name_end])
                i = name_end
                continue
        j = tail.find("<", i + 1)
        j = n if j < 0 else j
        parser.handle_data(unescape(tail[i:j]))
        i = j


def _collect(html: str) -> _BlockParser:
    """The stdlib parser up to the last '>', then the linear tail."""
    cut = html.rfind(">") + 1
    parser = _BlockParser()
    try:
        parser.feed(html[:cut])
        HTMLParser.close(parser)
        _feed_tail(parser, html[cut:])
    except Exception:
        pass  # html.parser rarely raises; keep whatever was collected.
    parser._flush()
    return parser


def parse_html_blocks(payload: bytes) -> tuple[list[Block], str]:
    """Parse an HTML payload into blocks. Returns (blocks, layout) where
    layout is 'article' if an <article> element is present else 'listing'
    (the doc_kind dispatch axis, mirroring the reference's version enum,
    /root/reference/ocr/card_version.py:3-5)."""
    parser = _collect(payload.decode("utf-8", errors="replace"))

    blocks: list[Block] = []
    offset = 0
    idx = 0
    for depth, raw, link_chars, boiler_depth in parser.raw_blocks:
        text = " ".join(raw.split())
        if not text:
            continue
        n = len(text)
        link_density = min(1.0, link_chars / n) if n else 0.0
        blocks.append(
            Block(
                idx=idx,
                text=text,
                depth=depth,
                char_offset=offset,
                n_chars=n,
                link_density=link_density,
                score=block_score(text, link_density),
                x=depth * X_PER_DEPTH,
                y=idx * Y_PER_IDX,
                boiler=boiler_depth > 0,
            )
        )
        offset += n + 1  # '\n' joiner
        idx += 1
    layout = "article" if parser.saw_article else "listing"
    return blocks, layout
