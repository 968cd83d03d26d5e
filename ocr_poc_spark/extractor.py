"""Document-at-a-time extraction kernel (pure Python, no Spark).

This is the faithful re-expression of the reference's six-stage cascade
(/root/reference/ocr/extractors/cni_extractor_18_f.py:442-520 and its
three siblings) against web-page block streams. It serves two roles:

1. **Oracle**: run sequentially, one document at a time, it gives the
   per-url reference output that pytest and perfbench compare the Spark
   job's rows against.
2. **Kernel** of the fused zero-shuffle production path
   (ocr_poc_spark/plans/job.py): called per document inside an
   Arrow-batched ``mapInPandas`` stage — the whole extraction is a
   map-only job with no shuffle at 10^12-document scale.

Stage map (reference file:line -> here):
  1 quality gate        _18_f.py:50-91   assess_quality
  2 noise preprocess    _18_f.py:93-132  preprocess
  2b boilerplate strip  _25_f.py:42-48,130-138 (watermark analogue)
  2c MRZ-line analogue  _25_b.py:121-129 (PDF syntax-bleed lines)
  3 fixed-format claims _18_f.py:158-212 extract_fixed_format_fields
  4 fuzzy anchors       _18_f.py:214-249 detect_anchors
  5 proximity binding   _18_f.py:293-351 extract_by_proximity
  5b positional fallback _18_f.py:400-440
  6 consolidation       _18_f.py:493-506

Dispatch (fmt x layout), mirroring the 2x2 (version x side) table at
/root/reference/ocr/id_card_data_extractor.py:25-35.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field
from functools import lru_cache

from .textproc.html_blocks import Block, parse_html_blocks
from .textproc.pdf_blocks import is_pdf, parse_pdf_blocks
from .textproc.simtext import (
    ANCHOR_FIELDS,
    ANCHORS,
    MAX_ANCHOR_LEN,
    SIMILARITY_THRESHOLD,
    _sim_core,
    is_likely_label,
)

# ---------------------------------------------------------------------------
# Dispatch table: doc_kind -> quality-gate thresholds (ref: the per-extractor
# constants K1/K2 — 8/5 recto-18, 5/3 verso-18, 6/4 recto-25, 5/3 verso-25).
# ---------------------------------------------------------------------------
QUALITY_THRESHOLD = 0.5  # avg-score gate (ref __init__ default)
KIND_GATES: dict[str, tuple[int, int]] = {
    "html/article": (8, 5),
    "html/listing": (5, 3),
    "pdf/article": (6, 4),
    "pdf/listing": (5, 3),
}

NOISE_SCORE_MIN = 0.3  # ref preprocess (_18_f.py:108)

# Boilerplate stop phrases (watermark-word analogue, _25_f.py:42-48),
# applied to html docs; compared on upper-cased exact text.
STOP_PHRASES = frozenset(
    {
        "ACCEPT ALL COOKIES",
        "COOKIE POLICY",
        "WE USE COOKIES",
        "SUBSCRIBE TO OUR NEWSLETTER",
        "ALL RIGHTS RESERVED",
        "PRIVACY POLICY",
        "TERMS OF SERVICE",
        "SHARE THIS ARTICLE",
        "ADVERTISEMENT",
        "SPONSORED CONTENT",
    }
)
# Listing pages additionally drop bare 3-letter all-caps nav codes
# (country-code filter analogue, _25_f.py:130-138).
_ALLCAPS3 = re.compile(r"^[A-Z]{3}$")

# PDF syntax-bleed filter (MRZ-line analogue, _25_b.py:121-129).
def _is_pdf_bleed(text: str) -> bool:
    return text.startswith("%%") or "<<<" in text

# ---------------------------------------------------------------------------
# Fixed-format fields (ref extract_fixed_format_fields, _18_f.py:158-212):
# first match claims the field and removes the block; within one block the
# first matching field wins (the reference's `continue`).
# ---------------------------------------------------------------------------
DATE_RE = re.compile(r"^\d{1,2}[./]\d{1,2}[./]\d{4}$")
READING_RE = re.compile(r"^(\d{1,3}) min read$")
COMMENTS_RE = re.compile(r"^(\d+) comments?$")
ITEMS_RE = re.compile(r"^(\d+) items?$")
PAGEINFO_RE = re.compile(r"^Page (\d+) of (\d+)$")
DOCREF_RE = re.compile(r"^[A-Z]{2}\d{8,10}$")  # NIC-id analogue (_25_b.py:175)


def _norm_date(text: str) -> str:
    return text  # kept raw, like the reference's dates


def _norm_reading(text: str) -> str:
    m = READING_RE.match(text)
    return f"{m.group(1)} min"  # normalisation analogue of taille (_18_f.py:194-203)


def _norm_comments(text: str) -> str:
    m = COMMENTS_RE.match(text)
    return m.group(1)


def _norm_items(text: str) -> str:
    m = ITEMS_RE.match(text)
    return m.group(1)


def _norm_pageinfo(text: str) -> str:
    m = PAGEINFO_RE.match(text)
    return f"{m.group(1)}/{m.group(2)}"


def _norm_docref(text: str) -> str:
    return text


# Global claim-priority order; each kind's battery is a SUBSEQUENCE of
# this order, so scanning fields in global order gated by kind gives the
# same claims as the per-kind scan.
FIXED_FIELDS: list[tuple[str, re.Pattern, object]] = [
    ("pub_date", DATE_RE, _norm_date),
    ("reading_time", READING_RE, _norm_reading),
    ("comment_count", COMMENTS_RE, _norm_comments),
    ("item_count", ITEMS_RE, _norm_items),
    ("page_info", PAGEINFO_RE, _norm_pageinfo),
    ("doc_ref", DOCREF_RE, _norm_docref),
]
FIXED_FIELD_NAMES = [f for f, _, _ in FIXED_FIELDS]

# Per-kind field batteries (2x2 dispatch table analogue: the reference's
# four extractors claim DIFFERENT fixed-format field sets,
# id_card_data_extractor.py:25-35 + each extractor's patterns).
KIND_FIXED_FIELDS: dict[str, list[str]] = {
    "html/article": ["pub_date", "reading_time", "comment_count"],
    "html/listing": ["pub_date", "item_count", "page_info"],
    "pdf/article": ["pub_date", "reading_time", "doc_ref"],
    "pdf/listing": ["pub_date", "item_count", "doc_ref"],
}

# W5 pattern-fallback field (authority-name analogue,
# /root/reference/ocr/extractors/cni_extractor_18_b.py:371-383): for
# listing layouts, the first high-score block of >=2 capitalised words.
SITE_NAME_FIELD = "site_name"
SITE_NAME_RE = re.compile(r"^[A-Z]\S*( [A-Z]\S*)+$")
SITE_NAME_MIN_SCORE = 0.9

ALL_FIELDS = ANCHOR_FIELDS + FIXED_FIELD_NAMES + [SITE_NAME_FIELD]  # 11 fields
POSITIONAL_FIELDS = ["title", "author", "category"]  # fallback-assignable

INSUFFICIENT_QUALITY_MSG = "insufficient_quality"
EMPTY_DOC_MSG = "empty_document"
UNSUPPORTED_FORMAT_MSG = "unsupported_format"  # INVALID_FILE_TYPE analogue
                                               # (api_server.py:96-99)
# Per-document crash isolation (the reference returns typed per-request
# errors, api_server.py:177-236, instead of failing the server): a payload
# whose parse RAISES becomes a success=false row with doc_kind
# "error/<ExcType>" and this message prefix — one poison pill must never
# fail a whole task/bucket.
INTERNAL_ERROR_MSG_PREFIX = "internal_error: "


@dataclass
class ExtractResult:
    url: str
    doc_kind: str
    success: bool
    message: str | None
    quality_score: float
    confidence: float
    raw_text: str
    fields: dict[str, str | None]
    body_text: str | None
    spans: list[tuple[str, int, int]] = field(default_factory=list)
    anchors_detected: dict[str, bool] = field(default_factory=dict)
    n_blocks: int = 0


def _looks_binary(payload: bytes) -> bool:
    """Non-text payload sniff (Common-Crawl WARCs carry images/archives):
    NUL bytes in the head are decisive for every text encoding we accept."""
    return b"\x00" in payload[:1024]


def sniff_and_parse(payload: bytes) -> tuple[list[Block], str]:
    """Payload -> (blocks, doc_kind). doc_kind = fmt '/' layout; raw
    binary payloads yield no blocks and the 'binary/unknown' kind (the
    extension allow-list analogue, api_server.py:96-99).

    May raise on pathological payloads — callers isolate that into a
    typed per-document failure row (extract_document / the parse UDF).
    The %RAISE-TEST% marker is a fault-injection hook for exercising
    that isolation through real Spark workers (the per-document analogue
    of run_job's fail_after_passes): after round-2 parser hardening no
    known byte sequence crashes the parsers organically."""
    if payload.startswith(b"%RAISE-TEST%"):
        raise ValueError("injected poison payload (test hook)")
    if is_pdf(payload):
        blocks, layout = parse_pdf_blocks(payload)
        return blocks, f"pdf/{layout}"
    if payload and _looks_binary(payload):
        return [], "binary/unknown"
    blocks, layout = parse_html_blocks(payload)
    return blocks, f"html/{layout}"


def assess_quality(blocks: list[Block], doc_kind: str) -> tuple[bool, float]:
    """Quality gate (ref assess_quality, _18_f.py:50-91)."""
    k1, k2 = KIND_GATES.get(doc_kind, (8, 5))
    scores = [b.score for b in blocks]
    valid = [s for s in scores if s > 0]
    if not valid:
        return False, 0.0
    avg = sum(valid) / len(valid)
    good = sum(1 for s in scores if s > 0.7)
    can = len(valid) >= k1 and avg >= QUALITY_THRESHOLD and good >= k2
    return can, avg


def preprocess(blocks: list[Block], doc_kind: str) -> list[Block]:
    """Noise + boilerplate filters (ref preprocess _18_f.py:93-132 plus the
    per-kind extras F3/F4)."""
    fmt, layout = doc_kind.split("/")
    out: list[Block] = []
    for b in blocks:
        if b.score < NOISE_SCORE_MIN:
            continue
        text = b.text.strip()
        if not text:
            continue
        if len(text) <= 2 and any(ord(c) > 127 for c in text):
            continue
        if fmt == "html":
            if b.boiler:
                continue
            if text.upper() in STOP_PHRASES:
                continue
        if fmt == "pdf" and _is_pdf_bleed(text):
            continue
        if layout == "listing" and _ALLCAPS3.match(text):
            continue
        out.append(b)
    return out


def extract_fixed_format_fields(
    data: list[Block], doc_kind: str = "html/article"
) -> tuple[dict[str, str | None], dict[str, Block], list[int]]:
    """First-match-wins fixed-format claims with elimination
    (ref _18_f.py:158-212), over the doc_kind's field battery.
    Returns (values, claimed block per field, positions to remove)."""
    kind_fields = KIND_FIXED_FIELDS.get(doc_kind, FIXED_FIELD_NAMES)
    battery = [(f, p, n) for f, p, n in FIXED_FIELDS if f in kind_fields]
    values: dict[str, str | None] = {f: None for f in kind_fields}
    claimed: dict[str, Block] = {}
    remove: list[int] = []
    for pos, b in enumerate(data):
        for fname, pat, norm in battery:
            if values[fname] is None and pat.match(b.text):
                values[fname] = norm(b.text)
                claimed[fname] = b
                remove.append(pos)
                break  # the reference's `continue` to the next token
    return values, claimed, remove


@lru_cache(maxsize=131072)
def _anchor_matches(text_upper: str) -> tuple[tuple[str, float], ...]:
    """Per-field (field, sim) of the FIRST anchor in list order reaching
    the threshold — a pure function of the block text, memoized because
    block texts (labels, boilerplate) repeat heavily across documents.
    upper/strip are idempotent and the anchor constants are their own
    normal form (asserted in simtext), so _sim_core here is exact."""
    out = []
    tus = text_upper.strip()
    # Paragraph-length skip: the 3*min<max prune inside _sim_core zeroes
    # every anchor when len(tus) > 3*MAX_ANCHOR_LEN — exact.
    if len(tus) > 3 * MAX_ANCHOR_LEN:
        return ()
    for fname, anchor_list in ANCHORS.items():
        for anchor in anchor_list:
            sim = _sim_core(tus, anchor)
            if sim >= SIMILARITY_THRESHOLD:
                out.append((fname, sim))
                break
    return tuple(out)


def detect_anchors(data: list[Block]) -> dict[str, list[tuple[int, str, float]]]:
    """Fuzzy anchor detection (ref detect_anchors, _18_f.py:214-249):
    per (block, field) the FIRST anchor in list order reaching the
    threshold wins (inner break)."""
    detected: dict[str, list[tuple[int, str, float]]] = {f: [] for f in ANCHORS}
    for pos, b in enumerate(data):
        tu = b.text.upper()
        # Same check as inside _anchor_matches, but BEFORE the cache
        # call: paragraph-length texts would otherwise fill the memo
        # with multi-KB keys all mapping to ().
        if len(tu.strip()) > 3 * MAX_ANCHOR_LEN:
            continue
        for fname, sim in _anchor_matches(tu):
            detected[fname].append((pos, b.text, sim))
    return detected


def extract_by_proximity(
    data: list[Block], anchor_pos: int
) -> Block | None:
    """Proximity value binding (ref extract_by_proximity,
    _18_f.py:293-351): candidates strictly right or below the anchor
    centroid, scored block_score * 1/(1+dist/100); first maximum wins.
    Returns the bound BLOCK (its .text is the value; keeping the block
    lets spans point at the true source occurrence)."""
    if anchor_pos >= len(data):
        return None
    a = data[anchor_pos]
    best_block: Block | None = None
    best_score = float("-inf")
    for pos, b in enumerate(data):
        if pos == anchor_pos:
            continue
        if is_likely_label(b.text):
            continue
        dx = b.x - a.x
        dy = b.y - a.y
        if not (dx > 0 or dy > 0):
            continue
        # math.sqrt (IEEE-754 correctly rounded) matches Spark's sqrt
        # bit-for-bit; '** 0.5' (libm pow) would not be guaranteed to.
        dist = math.sqrt(dx * dx + dy * dy)
        s = b.score * (1.0 / (1.0 + dist / 100.0))
        if s > best_score:  # strict: first maximum kept (python max())
            best_score = s
            best_block = b
    return best_block


def extract_remaining_fields(
    data: list[Block], anchors: dict[str, list[tuple[int, str, float]]]
) -> tuple[dict[str, str | None], dict[str, Block]]:
    """Anchor-bound extraction + positional fallback
    (ref extract_remaining_fields, _18_f.py:359-440). Returns
    (values, source block per filled field) — recording the ACTUAL
    source block means field spans point at the occurrence the value was
    extracted from, not the first text duplicate in the stream."""
    results: dict[str, str | None] = {f: None for f in ANCHOR_FIELDS}
    sources: dict[str, Block] = {}
    used_values: set[str] = set()

    for fname in ANCHOR_FIELDS:
        if not anchors[fname]:
            continue
        # max() keeps the first maximum -> tie-break = lowest position.
        best_anchor = max(anchors[fname], key=lambda t: t[2])
        src = extract_by_proximity(data, best_anchor[0])
        if src and src.text and not is_likely_label(src.text) and src.text not in used_values:
            results[fname] = src.text
            sources[fname] = src
            used_values.add(src.text)

    # Positional fallback for missing fields (ref _18_f.py:400-440):
    # remaining non-label unclaimed blocks sorted by y.
    remaining = [
        b
        for b in data
        if not is_likely_label(b.text) and b.text not in used_values
    ]
    remaining.sort(key=lambda b: b.y)  # stable -> idx order on ties
    queue = list(remaining)
    for fname in POSITIONAL_FIELDS:
        if results[fname] is None and queue:
            results[fname] = queue[0].text
            sources[fname] = queue[0]
            used_values.add(queue[0].text)
            queue.pop(0)
    return results, sources


def _body_blocks(
    data: list[Block],
    anchors: dict[str, list[tuple[int, str, float]]],
    used_values: set[str],
) -> list[Block]:
    """Main-content blocks: post-elimination stream minus anchor blocks,
    label-like blocks and blocks consumed as field values."""
    anchor_positions = {pos for hits in anchors.values() for pos, _, _ in hits}
    return [
        b
        for pos, b in enumerate(data)
        if pos not in anchor_positions
        and b.text not in used_values
        and not is_likely_label(b.text)
    ]


def _failure(
    url: str, doc_kind: str, message: str, raw_text: str = "",
    quality_score: float = 0.0, n_blocks: int = 0,
) -> ExtractResult:
    """A success=false row: no fields, no body, zero confidence."""
    return ExtractResult(
        url=url, doc_kind=doc_kind, success=False, message=message,
        quality_score=quality_score, confidence=0.0, raw_text=raw_text,
        fields={f: None for f in ALL_FIELDS}, body_text=None, n_blocks=n_blocks,
    )


def extract_document(url: str, payload: bytes) -> ExtractResult:
    """Full per-document cascade (ref extract(), _18_f.py:442-520).

    Never raises: an exception anywhere in the cascade (parser or later
    stage) becomes a typed failure row (see INTERNAL_ERROR_MSG_PREFIX),
    so the Spark job and the sequential oracle give the same row."""
    try:
        return _extract(url, payload)
    except Exception as e:  # poison-pill isolation — typed, per document
        name = type(e).__name__
        return _failure(url, f"error/{name}", INTERNAL_ERROR_MSG_PREFIX + name)


def _extract(url: str, payload: bytes) -> ExtractResult:
    blocks, doc_kind = sniff_and_parse(payload)
    raw_text = " ".join(b.text for b in blocks)  # ref id_card_data_extractor.py:44

    if not blocks:
        msg = UNSUPPORTED_FORMAT_MSG if doc_kind == "binary/unknown" else EMPTY_DOC_MSG
        return _failure(url, doc_kind, msg, raw_text)

    can, quality = assess_quality(blocks, doc_kind)
    if not can:
        return _failure(
            url, doc_kind, INSUFFICIENT_QUALITY_MSG, raw_text, quality, len(blocks)
        )

    data = preprocess(blocks, doc_kind)
    fixed_values, fixed_claimed, remove = extract_fixed_format_fields(data, doc_kind)
    removed = set(remove)
    remaining = [b for pos, b in enumerate(data) if pos not in removed]

    anchors = detect_anchors(remaining)
    anchor_values, value_sources = extract_remaining_fields(remaining, anchors)

    fields: dict[str, str | None] = {f: None for f in ALL_FIELDS}
    fields.update(anchor_values)
    fields.update(fixed_values)

    used_values = {v for v in anchor_values.values() if v is not None}

    # W5 pattern fallback (listing layouts): first unclaimed non-label
    # block matching the capitalised-words pattern with a high score.
    fields[SITE_NAME_FIELD] = None
    if doc_kind.endswith("/listing"):
        for b in remaining:
            if (
                b.score > SITE_NAME_MIN_SCORE
                and b.text not in used_values
                and SITE_NAME_RE.match(b.text)
                and not is_likely_label(b.text)
            ):
                fields[SITE_NAME_FIELD] = b.text
                value_sources[SITE_NAME_FIELD] = b
                used_values.add(b.text)
                break
    body = _body_blocks(remaining, anchors, used_values)
    body_text = "\n\n".join(b.text for b in body) if body else None

    # Spans: field spans (value source block) in ALL_FIELDS order, then one
    # 'body' span per body block (north_star span-offsets requirement).
    # Sources are the RECORDED blocks each value was extracted from — a
    # first-text-match lookup would mis-attribute the span whenever the
    # value's text also occurs in an earlier unrelated block.
    spans: list[tuple[str, int, int]] = []
    for fname in ALL_FIELDS:
        v = fields.get(fname)
        if v is None:
            continue
        src = fixed_claimed.get(fname) or value_sources.get(fname)
        if src is not None:
            spans.append((fname, src.char_offset, src.char_offset + src.n_chars))
    for b in body:
        spans.append(("body", b.char_offset, b.char_offset + b.n_chars))

    # Confidence over the doc_kind's own field set (ref: /len(fields) in
    # three of four extractors; the /6 quirk of 18F is not replicated).
    kind_fields = (
        ANCHOR_FIELDS
        + KIND_FIXED_FIELDS.get(doc_kind, FIXED_FIELD_NAMES)
        + ([SITE_NAME_FIELD] if doc_kind.endswith("/listing") else [])
    )
    filled = sum(1 for f in kind_fields if fields.get(f) is not None)
    confidence = filled / float(len(kind_fields))

    return ExtractResult(
        url=url, doc_kind=doc_kind, success=True, message=None,
        quality_score=quality, confidence=confidence, raw_text=raw_text,
        fields=fields, body_text=body_text, spans=spans,
        anchors_detected={k: len(v) > 0 for k, v in anchors.items()},
        n_blocks=len(blocks),
    )
