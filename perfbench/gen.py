"""Seeded input generator for the extraction-job benchmark.

Everything the program sees is made here from the seed. Pages come from
the program's own fixture generators (`ocr_poc_spark.fixtures`), so the
traffic is the fixture's: its pages, kind mix (PDF 8%, HTML articles
50%, listings 24%, degraded pages 10%, empty or binary payloads 8%),
languages and host weights (two heavy hosts carry 32 of 70 shares).

Aggregate properties (kind counts, host counts, share of oversized
pages, their size multipliers, recrawl churn counts, near-duplicate
counts) are fixed numbers and only their placement is random, so two
seeds give inputs of the same shape and run-to-run spread comes from the
system, not from the draw.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_poc_spark import fixtures as fx

# As in fixtures.gen_pages.
KIND_SHARES = (
    ("pdf", 0.08),
    ("article", 0.50),
    ("listing", 0.24),
    ("degraded", 0.10),
    ("junk", 0.08),
)
HOST_WEIGHTS = [20, 12] + [1] * 38
LANGS = ["en", "en", "en", "fr", "fr", "de"]
JUNK = [b"", b"<html><body></body></html>", b"<p>unclosed", b"\x00\x01binary"]
PDF_ARTICLE = 0.6  # share of PDFs with the article layout

BIG_SHARE = 0.03  # share of article/listing pages that are oversized
BIG_MULT = (20, 50)  # oversized pages grow to this many times their size
RECRAWL_CHANGED, RECRAWL_DELETED, RECRAWL_ADDED = 0.10, 0.03, 0.03
DUP_SHARE = 0.10  # share of the corpus articles copied as near duplicates
DUP_HEAVY_SHARE = 0.25  # share of those copies edited down to the threshold

_ASIDE = '<aside><p>Sponsored content</p><p><a href="/x">Read more</a></p></aside>'


def _oversize(rng: random.Random, page: str, lang: str, mult: int) -> str:
    """The page grown to about mult times its size: body paragraphs, with
    the fixture's sponsored aside after every fifth, inserted before
    </article> (articles) or </body> (listings). The paragraphs are
    fresh text, not copies: the kernel memoizes per block text, so
    repeated paragraphs would cost it nothing."""
    at = page.find("</article>")
    if at < 0:
        at = page.rfind("</body>")
    blocks: list[str] = []
    size, target = len(page), len(page) * mult
    while size < target:
        block = f"<p>{fx._paragraph(rng, lang)}</p>"
        if len(blocks) % 5 == 4:
            block += _ASIDE
        blocks.append(block)
        size += len(block)
    return page[:at] + "".join(blocks) + page[at:]


def _quota(rng: random.Random, n: int, names: list[str], weights: list[float]) -> list[str]:
    """n names, each repeated in proportion to its weight (largest
    remainders round), order shuffled."""
    total = sum(weights)
    exact = [n * w / total for w in weights]
    counts = [int(x) for x in exact]
    for i in sorted(range(len(names)), key=lambda i: counts[i] - exact[i])[: n - sum(counts)]:
        counts[i] += 1
    out = [name for name, c in zip(names, counts) for _ in range(c)]
    rng.shuffle(out)
    return out


def make_pages(seed: int, n: int, tag: str) -> list[dict]:
    """n page rows {url, host, lang, kind, html}: fixed kind and host
    counts, BIG_SHARE of the article/listing pages oversized with
    multipliers spread evenly over BIG_MULT."""
    rng = random.Random(f"{seed}:{tag}")
    kinds = _quota(rng, n, [k for k, _ in KIND_SHARES], [s for _, s in KIND_SHARES])
    hosts = _quota(rng, n, [f"host{i}" for i in range(len(HOST_WEIGHTS))], HOST_WEIGHTS)
    html_idx = [i for i, k in enumerate(kinds) if k in ("article", "listing")]
    n_big = max(1, round(len(html_idx) * BIG_SHARE))
    lo, hi = BIG_MULT
    mults = [lo + (hi - lo) * j // max(1, n_big - 1) for j in range(n_big)]
    big = dict(zip(rng.sample(html_idx, n_big), mults))
    rows = []
    for i, kind in enumerate(kinds):
        lang = rng.choice(LANGS)
        if kind == "article":
            payload = fx.make_article_html(rng, lang)
        elif kind == "listing":
            payload = fx.make_listing_html(rng, lang)
        elif kind == "degraded":
            payload = fx.make_degraded_html(rng)
        elif kind == "pdf":
            layout = "article" if rng.random() < PDF_ARTICLE else "listing"
            payload = fx.make_pdf(rng, lang, layout)
        else:
            payload = rng.choice(JUNK)
        if i in big:
            payload = _oversize(rng, payload, lang, big[i])
        rows.append({
            "url": f"https://{hosts[i]}.example/{lang}/{tag}{i}",
            "host": hosts[i],
            "lang": lang,
            "kind": kind,
            "html": payload.encode() if isinstance(payload, str) else payload,
        })
    return rows


def _edit(rng: random.Random, payload: bytes, n_words: int) -> bytes:
    """Replace n_words words of the page's paragraph text with other
    vocabulary words (same token count, so shingle overlap drops by
    about 3 shingles per word)."""
    text = payload.decode()
    head, sep, body = text.partition("<article>")
    if not sep:
        head, body = "", text
    tokens = body.split(" ")
    # only plain lowercase words inside paragraphs are edited
    cand = [i for i, t in enumerate(tokens) if t.isalpha() and t.islower()]
    vocab = [w for words in fx._WORDS.values() for w in words]
    for i in rng.sample(cand, min(n_words, len(cand))):
        tokens[i] = rng.choice([w for w in vocab if w != tokens[i]])
    return (head + sep + " ".join(tokens)).encode()


def recrawl(seed: int, old: list[dict], tag: str) -> tuple[list[dict], dict[str, list[str]]]:
    """Second snapshot of the same hosts: fixed shares of the old pages
    changed (payload bytes edited), deleted, and new pages added under
    new urls. Returns (new_rows, {'changed','added','deleted': urls})."""
    rng = random.Random(f"{seed}:{tag}")
    n = len(old)
    order = list(range(n))
    rng.shuffle(order)
    n_del, n_chg = round(n * RECRAWL_DELETED), round(n * RECRAWL_CHANGED)
    del_idx = set(order[:n_del])
    chg_idx = set(order[n_del:n_del + n_chg])
    new_rows = []
    for i, row in enumerate(old):
        if i in del_idx:
            continue
        if i in chg_idx:
            row = dict(row)
            html = row["html"]
            if row["kind"] in ("article", "listing"):
                html = _edit(rng, html, rng.randint(1, 4))
                html = html.replace(
                    b"</body>", f"<p>Updated {fx._date_str(rng)}</p></body>".encode(), 1)
            elif row["kind"] == "pdf":
                html = html.replace(
                    b"\nendstream", b"\nBT /F1 12 Tf 72 40 Td (Updated) Tj ET\nendstream", 1)
            else:
                html = html + b" "
            row["html"] = html
        new_rows.append(row)
    fresh = make_pages(seed, round(n * RECRAWL_ADDED), tag=f"{tag}a")
    new_rows.extend(fresh)
    rng.shuffle(new_rows)
    churn = {
        "changed": sorted(old[i]["url"] for i in chg_idx),
        "added": sorted(r["url"] for r in fresh),
        "deleted": sorted(old[i]["url"] for i in del_idx),
    }
    return new_rows, churn


def with_near_dups(seed: int, rows: list[dict]) -> tuple[list[dict], list[tuple[str, str]]]:
    """Append recrawl copies of DUP_SHARE of the article pages under new
    urls on mirror hosts. Most copies get a 1-3 word edit (exact Jaccard
    well above 0.8); DUP_HEAVY_SHARE of them get 12-20 edited words
    (around or below the threshold). Returns (rows + copies, [(orig, copy)])."""
    rng = random.Random(f"{seed}:dups")
    articles = [r for r in rows if r["kind"] == "article"]
    picked = rng.sample(articles, round(len(articles) * DUP_SHARE))
    n_heavy = round(len(picked) * DUP_HEAVY_SHARE)
    copies, pairs = [], []
    for j, row in enumerate(picked):
        n_words = rng.randint(12, 20) if j < n_heavy else rng.randint(1, 3)
        url = f"https://mirror{j % 7}.example/{row['lang']}/copy{j}"
        copies.append({**row, "url": url, "host": f"mirror{j % 7}",
                       "html": _edit(rng, row["html"], n_words)})
        pairs.append((row["url"], url))
    out = rows + copies
    rng.shuffle(out)
    return out, pairs


def write_pages(rows: list[dict], path: str, n_files: int, seed: int) -> int:
    """Write rows as n_files parquet files (round-robin, so every file
    gets the same share of oversized pages on average) under directory
    path, in the pages-table schema. Returns bytes written."""
    os.makedirs(path, exist_ok=True)
    rng = random.Random(f"{seed}:ts")
    total = 0
    for f in range(n_files):
        part = rows[f::n_files]
        table = pa.table({
            "url": pa.array([r["url"] for r in part], pa.string()),
            "warc_ts": pa.array(
                [fx.EPOCH + dt.timedelta(seconds=rng.randrange(fx.WINDOW_SECS)) for _ in part],
                pa.timestamp("us", tz="UTC"),
            ),
            "html": pa.array([r["html"] for r in part], pa.binary()),
            "text": pa.array([""] * len(part), pa.string()),
            "lang": pa.array([r["lang"] for r in part], pa.string()),
        })
        fp = os.path.join(path, f"part-{f:03d}.parquet")
        pq.write_table(table, fp, row_group_size=256)
        total += os.path.getsize(fp)
    return total
