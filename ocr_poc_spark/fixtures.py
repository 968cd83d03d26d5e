"""Deterministic synthetic page fixtures (seeded; no external data).

Generates the Iceberg-shaped input table from BASELINE.json input_hint:
    pages(url string, warc_ts timestamp, html binary, text string, lang string)

Page mix (seeded random.Random, reproducible across runs/machines):
  - html articles   : boilerplate (nav/cookie/footer) + <article> with
                      title, labelled author/category/summary blocks
                      (labels sometimes misspelled to exercise fuzzy
                      anchors), date / "N min read" / "N comments"
                      fixed-format blocks, and body paragraphs.
  - html listings   : link lists (high link density -> noise filter),
                      3-letter all-caps nav codes, promo paragraphs.
  - degraded pages  : nav-only or near-empty -> quality-gate failure.
  - pdf payloads    : ~8% rows, minimal BT/Td/Tj text objects, article
                      and listing layouts.
  - adversarial     : duplicate field values (used_values dedup), second
                      dates left in stream, short non-latin tokens.

Host distribution is skewed (heavy-hitter hosts) to exercise skew
handling, mirroring the long-tail document-size concern in SURVEY.md §4.
"""

from __future__ import annotations

import datetime as dt
import random

EPOCH = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
WINDOW_SECS = 30 * 24 * 3600

_WORDS = {
    "en": (
        "the quick brown fox jumps over a lazy dog while markets rally and "
        "researchers publish new results about distributed systems data "
        "pipelines language models and the open web at planetary scale"
    ).split(),
    "fr": (
        "le renard brun saute par dessus le chien pendant que les marches "
        "progressent et que les chercheurs publient des resultats sur les "
        "systemes distribues les pipelines de donnees et le web ouvert"
    ).split(),
    "de": (
        "der schnelle braune fuchs springt uber den faulen hund wahrend die "
        "markte steigen und forscher neue ergebnisse uber verteilte systeme "
        "datenpipelines und das offene netz veroffentlichen"
    ).split(),
}
_FIRST = ["Jane", "Amina", "Pierre", "Greta", "Kwame", "Li", "Sofia", "Omar"]
_LAST = ["Doe", "Ngono", "Dupont", "Muller", "Mensah", "Wei", "Rossi", "Haddad"]
_CATS = ["Science", "Economy", "Culture", "Technology", "Sports", "Politics"]
_CODES = ["USA", "FRA", "GER", "CMR", "GBR", "JPN"]

_AUTHOR_LABELS = ["Author", "Written by", "Posted by", "Authr", "Auth0r"]
_CATEGORY_LABELS = ["Category", "Filed under", "Section", "Categry"]
_SUMMARY_LABELS = ["Summary", "Abstract", "Overview", "Summry"]


def _sentence(rng: random.Random, lang: str, n: int) -> str:
    words = _WORDS[lang]
    return " ".join(rng.choice(words) for _ in range(n)).capitalize() + "."


def _paragraph(rng: random.Random, lang: str) -> str:
    return " ".join(_sentence(rng, lang, rng.randint(8, 16)) for _ in range(rng.randint(2, 4)))


def _date_str(rng: random.Random) -> str:
    sep = rng.choice([".", "/"])
    return f"{rng.randint(1,28)}{sep}{rng.randint(1,12)}{sep}{rng.randint(1990,2025)}"


def _nav(rng: random.Random) -> str:
    items = "".join(
        f'<li><a href="/{w}">{w.capitalize()}</a></li>'
        for w in rng.sample(["home", "news", "about", "contact", "archive", "tags"], 4)
    )
    return f"<nav><ul>{items}</ul></nav>"


def _footer() -> str:
    return (
        "<footer><p>All rights reserved</p><p>Privacy policy</p>"
        '<p><a href="/terms">Terms of service</a></p></footer>'
    )


def _cookie() -> str:
    return '<div id="cookie"><p>We use cookies</p><p>Accept all cookies</p></div>'


def make_article_html(rng: random.Random, lang: str) -> str:
    title = _sentence(rng, lang, rng.randint(5, 9))[:-1]
    author = f"{rng.choice(_FIRST)} {rng.choice(_LAST)}"
    category = rng.choice(_CATS)
    summary = _sentence(rng, lang, rng.randint(10, 14))
    n_paras = rng.randint(3, 7)
    paras = "".join(f"<p>{_paragraph(rng, lang)}</p>" for _ in range(n_paras))

    parts = [f"<html><head><title>{title}</title></head><body>", _nav(rng)]
    if rng.random() < 0.7:
        parts.append(_cookie())
    parts.append("<article>")
    parts.append(f"<h1>{title}</h1>")
    if rng.random() < 0.8:  # labelled author (anchor path)
        parts.append(f"<p>{rng.choice(_AUTHOR_LABELS)}</p><p>{author}</p>")
    else:  # unlabelled -> positional fallback path
        parts.append(f"<p>{author}</p>")
    if rng.random() < 0.6:
        parts.append(f"<p>{rng.choice(_CATEGORY_LABELS)}</p><p>{category}</p>")
    if rng.random() < 0.5:
        parts.append(f"<p>{rng.choice(_SUMMARY_LABELS)}</p><p>{summary}</p>")
    parts.append(f"<p>{_date_str(rng)}</p>")
    if rng.random() < 0.6:
        parts.append(f"<p>{rng.randint(2, 45)} min read</p>")
    if rng.random() < 0.5:
        parts.append(f"<p>{rng.randint(0, 900)} comment{'s' if rng.random() < 0.8 else ''}</p>")
    if rng.random() < 0.15:  # adversarial: second date stays in the stream
        parts.append(f"<p>{_date_str(rng)}</p>")
    if rng.random() < 0.1:  # adversarial: duplicate value across fields
        parts.append(f"<p>{rng.choice(_CATEGORY_LABELS)}</p><p>{author}</p>")
    if rng.random() < 0.2:  # short non-latin token (noise-filter path)
        parts.append(f"<p>{rng.choice(['é', '→', '☆', '¶a'])}</p>")
    if rng.random() < 0.3:  # structural variety: quote/pre/table blocks
        parts.append(f"<blockquote><p>{_sentence(rng, lang, 12)}</p></blockquote>")
    if rng.random() < 0.2:
        parts.append(f"<pre>{_sentence(rng, lang, 8)}</pre>")
    if rng.random() < 0.25:
        cells = "".join(
            f"<tr><td>{_sentence(rng, lang, 3)[:-1]}</td>"
            f"<td>{rng.randint(1, 999)}</td></tr>"
            for _ in range(rng.randint(2, 4))
        )
        parts.append(f"<table>{cells}</table>")
    parts.append(paras)
    parts.append("</article>")
    if rng.random() < 0.3:
        parts.append('<aside><p>Sponsored content</p><p><a href="/x">Read more</a></p></aside>')
    parts.append(_footer())
    parts.append("</body></html>")
    return "".join(parts)


def make_listing_html(rng: random.Random, lang: str) -> str:
    items = "".join(
        f'<li><a href="/p/{i}">{_sentence(rng, lang, rng.randint(4, 7))[:-1]}</a></li>'
        for i in range(rng.randint(4, 8))
    )
    promos = "".join(f"<p>{_paragraph(rng, lang)}</p>" for _ in range(rng.randint(6, 10)))
    codes = "".join(f"<p>{rng.choice(_CODES)}</p>" for _ in range(rng.randint(0, 3)))
    # Site banner low on the page (capitalised words, high score): the
    # W5 site_name pattern-fallback target. Placed after the promos so
    # the positional fallback (ranks 1-3) doesn't consume it.
    banner = ""
    if rng.random() < 0.6:
        words = " ".join(w.capitalize() for w in rng.sample(_WORDS[lang], 5))
        banner = f"<div class='brand'><p>{words}</p></div>"
    extras = ""
    if rng.random() < 0.5:
        extras += f"<p>{rng.randint(2, 200)} item{'s' if rng.random() < 0.8 else ''}</p>"
    if rng.random() < 0.5:
        n_pg = rng.randint(2, 40)
        extras += f"<p>Page {rng.randint(1, n_pg)} of {n_pg}</p>"
    return (
        "<html><head><title>"
        + _sentence(rng, lang, 4)[:-1]
        + "</title></head><body>"
        + _nav(rng)
        + f"<div class='promos'>{promos}</div><ul>{items}</ul>{codes}"
        + f"<p>{_date_str(rng)}</p>"
        + extras
        + banner
        + _footer()
        + "</body></html>"
    )


def make_degraded_html(rng: random.Random) -> str:
    body = _nav(rng) if rng.random() < 0.7 else "<p>hi</p>"
    return f"<html><body>{body}</body></html>"


def _pdf_escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def make_pdf(rng: random.Random, lang: str, layout: str) -> bytes:
    """Minimal single-page PDF with one BT..ET text object per line."""
    lines: list[tuple[float, float, str]] = []
    y = 760.0
    if layout == "article":
        lines.append((72, y, _sentence(rng, lang, 6)[:-1])); y -= 40
        lines.append((72, y, rng.choice(_AUTHOR_LABELS)))
        lines.append((100, y - 20, f"{rng.choice(_FIRST)} {rng.choice(_LAST)}")); y -= 60
        lines.append((72, y, _date_str(rng))); y -= 40
        if rng.random() < 0.5:
            lines.append((72, y, f"{rng.randint(3, 30)} min read")); y -= 40
        if rng.random() < 0.6:  # NIC-id analogue (doc_ref battery field)
            ref = "".join(rng.choice("ABCDEFGHJKLMNPRSTUVWXYZ") for _ in range(2))
            ref += "".join(rng.choice("0123456789") for _ in range(rng.randint(8, 10)))
            lines.append((72, y, ref)); y -= 40
        for _ in range(rng.randint(4, 8)):
            lines.append((72, y, _sentence(rng, lang, rng.randint(10, 18)))); y -= 40
    else:
        for _ in range(rng.randint(5, 9)):
            lines.append((72, y, _sentence(rng, lang, rng.randint(6, 12)))); y -= 40
        if rng.random() < 0.5:
            lines.append((72, y, f"{rng.randint(2, 60)} items")); y -= 40
        if rng.random() < 0.5:
            ref = "".join(rng.choice("ABCDEFGHJKLMNPRSTUVWXYZ") for _ in range(2))
            ref += "".join(rng.choice("0123456789") for _ in range(rng.randint(8, 10)))
            lines.append((72, y, ref)); y -= 40
        lines.append((72, y, rng.choice(_CODES)))
    body = "\n".join(
        f"BT /F1 12 Tf {x:.0f} {ly:.0f} Td ({_pdf_escape(t)}) Tj ET" for x, ly, t in lines
    )
    content = (
        f"%PDF-1.4\n%layout:{layout}\n"
        "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        "3 0 obj << /Type /Page /Parent 2 0 R >> endobj\n"
        f"4 0 obj << /Length {len(body)} >> stream\n{body}\nendstream endobj\n"
        "trailer << /Root 1 0 R >>\n%%EOF\n"
    )
    return content.encode("latin-1", errors="replace")


def gen_pages(n: int, seed: int = 42) -> list[dict]:
    """Generate n page rows (plain dicts; parquet/Spark-friendly)."""
    rng = random.Random(seed)
    # Skewed hosts: host0/host1 are heavy hitters (~40% of pages).
    hosts = ["host0", "host1"] + [f"host{i}" for i in range(2, 40)]
    weights = [20, 12] + [1] * 38
    rows: list[dict] = []
    for i in range(n):
        lang = rng.choice(["en", "en", "en", "fr", "fr", "de"])
        host = rng.choices(hosts, weights=weights, k=1)[0]
        r = rng.random()
        if r < 0.08:
            layout = "article" if rng.random() < 0.6 else "listing"
            payload = make_pdf(rng, lang, layout)
        elif r < 0.58:
            payload = make_article_html(rng, lang).encode("utf-8")
        elif r < 0.82:
            payload = make_listing_html(rng, lang).encode("utf-8")
        elif r < 0.92:
            payload = make_degraded_html(rng).encode("utf-8")
        else:  # near-empty / malformed
            payload = rng.choice(
                [b"", b"<html><body></body></html>", b"<p>unclosed", b"\x00\x01binary"]
            )
        ts = EPOCH + dt.timedelta(seconds=rng.randint(0, WINDOW_SECS - 1))
        rows.append(
            {
                "url": f"https://{host}.example/{lang}/page{i}",
                "warc_ts": ts,
                "html": payload,
                "text": "",
                "lang": lang,
            }
        )
    return rows


def write_pages_parquet(path: str, n: int, seed: int = 42) -> None:
    """Write the fixture table as ONE parquet file (pyarrow; no Spark
    needed). By default Spark never cuts a file under 4 MB
    (``openCostInBytes``) into splits, so it scans as ONE partition, the
    shape run_job spreads over every core itself. The 256-row row groups
    put rows in every split where ``maxPartitionBytes`` is set lower, as
    bench.py does (with one row group, one split would get them all).
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = gen_pages(n, seed)
    table = pa.table(
        {
            "url": pa.array([r["url"] for r in rows], pa.string()),
            "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us", tz="UTC")),
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "text": pa.array([r["text"] for r in rows], pa.string()),
            "lang": pa.array([r["lang"] for r in rows], pa.string()),
        }
    )
    pq.write_table(table, path, row_group_size=256)
