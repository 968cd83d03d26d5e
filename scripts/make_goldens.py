"""Generate the committed golden parquet behind the extract_pipeline
oracle: the sequential kernel (extractor.extract_document, the
parity-tested SPEC) over pages synthesised exactly like
__spark_entry__._pages_from_documents — an independent second witness
to the oracle's SQL derivation, with no Spark involved.

Inputs are the driver testdata at sf0.01 (the driver's correctness
scale). Rerun after ANY change to the kernel or the page synthesis:
python scripts/make_goldens.py
tests/test_goldens.py asserts the committed file is current.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

SF_DIR = "/root/testdata/sf0.01"
OUT_DIR = os.path.join(os.path.dirname(__file__), "..", "dist", "golden")


def synth_page(doc_id: int, text: str, lang: str) -> tuple[str, bytes]:
    """Exact mirror of __spark_entry__._pages_from_documents (the Spark
    concat casts bigint columns to decimal strings, as str() does)."""
    day = doc_id % 28 + 1
    month = doc_id % 12 + 1
    year = doc_id % 15 + 2010
    html = (
        f"<html><head><title>Doc {doc_id}</title></head><body>"
        '<nav><ul><li><a href="/">Home</a></li><li><a href="/n">News</a></li>'
        '<li><a href="/a">About</a></li></ul></nav>'
        '<div id="cookie"><p>We use cookies</p></div>'
        f"<article><h1>Doc {doc_id}</h1>"
        f"<p>Author</p><p>Writer {doc_id % 20}</p>"
        f"<p>{day}.{month}.{year}</p>"
        f"<p>{doc_id % 40 + 2} min read</p>"
        f"<p>{text}</p>"
        '</article><footer><p>All rights reserved</p>'
        '<p><a href="/t">Terms of service</a></p></footer></body></html>'
    )
    url = f"https://docs.example/{lang}/{doc_id}"
    return url, html.encode("utf-8")


def golden_extract() -> pa.Table:
    from ocr_poc_spark.extractor import extract_document

    t = pq.read_table(f"{SF_DIR}/documents.parquet")
    cols = {
        "url": [], "doc_kind": [], "success": [], "quality_score": [],
        "confidence": [], "title": [], "author": [], "pub_date": [],
        "reading_time": [], "body_text": [], "n_blocks": [],
    }
    for doc_id, text, lang in zip(
        t.column("doc_id").to_pylist(),
        t.column("text").to_pylist(),
        t.column("lang").to_pylist(),
    ):
        url, payload = synth_page(doc_id, text, lang)
        r = extract_document(url, payload)
        cols["url"].append(r.url)
        cols["doc_kind"].append(r.doc_kind)
        cols["success"].append(r.success)
        cols["quality_score"].append(r.quality_score)
        cols["confidence"].append(r.confidence)
        cols["title"].append(r.fields.get("title"))
        cols["author"].append(r.fields.get("author"))
        cols["pub_date"].append(r.fields.get("pub_date"))
        cols["reading_time"].append(r.fields.get("reading_time"))
        cols["body_text"].append(r.body_text)
        cols["n_blocks"].append(r.n_blocks)
    return pa.table(
        {
            "url": pa.array(cols["url"], pa.string()),
            "doc_kind": pa.array(cols["doc_kind"], pa.string()),
            "success": pa.array(cols["success"], pa.bool_()),
            "quality_score": pa.array(cols["quality_score"], pa.float64()),
            "confidence": pa.array(cols["confidence"], pa.float64()),
            "title": pa.array(cols["title"], pa.string()),
            "author": pa.array(cols["author"], pa.string()),
            "pub_date": pa.array(cols["pub_date"], pa.string()),
            "reading_time": pa.array(cols["reading_time"], pa.string()),
            "body_text": pa.array(cols["body_text"], pa.string()),
            "n_blocks": pa.array(cols["n_blocks"], pa.int32()),
        }
    )


GOLDENS = {"extract_sf001.parquet": golden_extract}


def main() -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    for name, fn in GOLDENS.items():
        table = fn()
        path = os.path.join(OUT_DIR, name)
        pq.write_table(table, path)
        print(f"wrote {path}: {table.num_rows} rows")


if __name__ == "__main__":
    main()
