"""Minimal pure-Python PDF text extraction (pdfminer-style layout parse,
restricted to the uncompressed text-object subset our fixtures emit).

The reference delegates layout analysis to PaddleOCR's native pipeline
(/root/reference/ocr/paddle_extractor.py:21-25); here the equivalent for
binary '%PDF-' payloads is a scan of BT..ET text objects: each
``x y Td (string) Tj`` (or ``[..] TJ``) show-text operation becomes one
positioned block. PDF user space has y increasing upward, so reading
order uses y' = PAGE_H - y.

Real-world PDFs with compressed streams are out of scope for v1 (no
zlib-deflated content streams in fixtures); the interface is the same
block stream as html_blocks, so a fuller parser slots in transparently.
"""

from __future__ import annotations

import re

from .html_blocks import Block
from .scoring import block_score

PAGE_H = 800.0

_BT_ET = re.compile(rb"BT(.*?)ET", re.DOTALL)
# One left-to-right token scan per text object: string literals and TJ
# arrays are consumed as whole tokens FIRST, so shown text containing
# e.g. "10 20 Td" can never inject phantom positioning events (operators
# only match outside strings). The number pattern is a strict float —
# the lax [\d.]+ accepted '1.2.3' / '...' and crashed float().
_NUM = rb"-?(?:\d+\.?\d*|\.\d+)"
_STR = rb"\((?:\\.|[^\\()])*\)"
_TOKEN = re.compile(
    rb"(?P<tjarr>\[(?:" + _STR + rb"|[^\]])*\]\s*TJ)"
    rb"|(?P<tjstr>" + _STR + rb"\s*Tj)"
    rb"|(?P<str>" + _STR + rb")"
    rb"|(?P<tm>" + _NUM + rb"\s+" + _NUM + rb"\s+" + _NUM + rb"\s+"
    + _NUM + rb"\s+(?P<tme>" + _NUM + rb")\s+(?P<tmf>" + _NUM + rb")\s+Tm)"
    rb"|(?P<td>(?P<tdx>" + _NUM + rb")\s+(?P<tdy>" + _NUM + rb")\s+(?P<tdop>Td|TD))"
    rb"|(?P<tl>(?P<tlv>" + _NUM + rb")\s+TL)"
    rb"|(?P<tstar>T\*)",
    re.DOTALL,
)
_TJ_STR_INNER = re.compile(rb"\(((?:\\.|[^\\()])*)\)")
# Line-anchored: the generator emits the layout dispatch comment at the
# start of a line; a '%layout:' occurring inside shown text must not
# flip the document's dispatch axis.
_LAYOUT = re.compile(rb"^%layout:(\w+)", re.MULTILINE)

_ESCAPES = {
    b"\\n": b"\n", b"\\r": b"\r", b"\\t": b"\t", b"\\b": b"\b",
    b"\\f": b"\f", b"\\(": b"(", b"\\)": b")", b"\\\\": b"\\",
}


def _unescape(raw: bytes) -> str:
    out = bytearray()
    i = 0
    while i < len(raw):
        if raw[i : i + 1] == b"\\" and i + 1 < len(raw):
            two = raw[i : i + 2]
            if two in _ESCAPES:
                out += _ESCAPES[two]
                i += 2
                continue
            # Octal escape \ddd
            m = re.match(rb"\\([0-7]{1,3})", raw[i:])
            if m:
                out.append(int(m.group(1), 8) & 0xFF)
                i += 1 + len(m.group(1))
                continue
            out += raw[i + 1 : i + 2]
            i += 2
        else:
            out += raw[i : i + 1]
            i += 1
    return out.decode("latin-1")


def parse_pdf_blocks(payload: bytes) -> tuple[list[Block], str]:
    """Parse a %PDF- payload into blocks. Returns (blocks, layout); layout
    comes from a '%layout:<name>' comment (generator-controlled dispatch
    axis), defaulting to 'article'."""
    m = _LAYOUT.search(payload)
    layout = m.group(1).decode("ascii") if m else "article"
    if layout not in ("article", "listing"):
        layout = "article"

    shows: list[tuple[float, float, str]] = []  # (x, y_down, text)
    for obj in _BT_ET.finditer(payload):
        body = obj.group(1)
        # Text-positioning state per PDF 1.7 §9.4.2: the line matrix is
        # identity at BT; Td/TD translate RELATIVE to the current line
        # start; Tm sets it absolutely (e,f components); TL sets the
        # leading used by T* (move to next line). Fixtures emit a single
        # Td from the BT origin, for which relative == absolute.
        x, y = 0.0, 0.0
        leading = 0.0
        for m in _TOKEN.finditer(body):
            if m.group("td") is not None:
                tx = float(m.group("tdx"))
                ty = float(m.group("tdy"))
                x += tx
                y += ty
                if m.group("tdop") == b"TD":  # TD also sets leading = -ty
                    leading = -ty
            elif m.group("tm") is not None:
                x, y = float(m.group("tme")), float(m.group("tmf"))
            elif m.group("tl") is not None:
                leading = float(m.group("tlv"))
            elif m.group("tstar") is not None:
                y -= leading
            elif m.group("tjstr") is not None:
                s = _TJ_STR_INNER.search(m.group("tjstr"))
                shows.append((x, PAGE_H - y, _unescape(s.group(1))))
            elif m.group("tjarr") is not None:
                parts = [
                    _unescape(s.group(1))
                    for s in _TJ_STR_INNER.finditer(m.group("tjarr"))
                ]
                shows.append((x, PAGE_H - y, "".join(parts)))
            # bare 'str' tokens (a string with no Tj) are consumed silently

    blocks: list[Block] = []
    offset = 0
    idx = 0
    for x, y_down, raw_text in shows:
        text = " ".join(raw_text.split())
        if not text:
            continue
        n = len(text)
        blocks.append(
            Block(
                idx=idx,
                text=text,
                depth=2,
                char_offset=offset,
                n_chars=n,
                link_density=0.0,
                score=block_score(text, 0.0),
                x=x,
                y=y_down,
                boiler=False,
            )
        )
        offset += n + 1
        idx += 1
    return blocks, layout


def is_pdf(payload: bytes) -> bool:
    return payload[:5] == b"%PDF-"
