"""Generate the committed golden parquet files that back the DuckDB
oracles of the two queries whose semantics cannot be re-expressed in
SQL: ann_lsh (hyperplane LSH over embeddings) and extract_pipeline (the
flagship HTML extraction cascade).

Both goldens are INDEPENDENT reimplementations — no Spark involved:

- ann_lsh: pure-Python mirror of operators/similarity.lsh_ann_topk
  (same seeded hyperplanes, same left-fold double arithmetic as Spark's
  F.aggregate, so floats are bit-identical).
- extract_pipeline: the sequential kernel (extractor.extract_document,
  the parity-tested SPEC) over pages synthesised exactly like
  __spark_entry__._pages_from_documents.

Inputs are the driver testdata at sf0.01 (the driver's correctness
scale). Rerun after ANY change to the kernel, the page synthesis, or
the LSH parameters:  python scripts/make_goldens.py
tests/test_goldens.py asserts the committed files are current.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

SF_DIR = "/root/testdata/sf0.01"
OUT_DIR = os.path.join(os.path.dirname(__file__), "..", "dist", "golden")

# Must match q_ann_lsh in __spark_entry__.py.
ANN_K, ANN_DIM, ANN_PLANES, ANN_SEED, ANN_TABLES = 3, 64, 8, 7, 4


def _dot(a: list[float], b: list[float]) -> float:
    """Left-fold double sum — the exact op sequence of Spark's
    F.aggregate(zip_with(a, b, x*y), 0.0, acc+v)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def golden_ann_lsh() -> pa.Table:
    import math

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    ids = t.column("vec_id").to_pylist()
    vecs = [[float(x) for x in v] for v in t.column("embedding").to_pylist()]
    norms = [math.sqrt(_dot(v, v)) for v in vecs]

    cand: set[tuple[int, int]] = set()
    for tbl in range(ANN_TABLES):
        rs = np.random.RandomState(ANN_SEED + 101 * tbl)
        planes = rs.randn(ANN_PLANES, ANN_DIM).astype(float).tolist()
        buckets: dict[int, list[int]] = {}
        for i, v in enumerate(vecs):
            bucket = 0
            for p_i, plane in enumerate(planes):
                if _dot(v, plane) > 0:
                    bucket += 1 << p_i
            buckets.setdefault(bucket, []).append(i)
        for members in buckets.values():
            for qi in members:
                for ni in members:
                    if qi != ni:
                        cand.add((qi, ni))

    per_query: dict[int, list[tuple[float, int]]] = {}
    for qi, ni in cand:
        cos = _dot(vecs[qi], vecs[ni]) / (norms[qi] * norms[ni])
        per_query.setdefault(qi, []).append((cos, ids[ni]))
    rows = []
    for qi, lst in per_query.items():
        lst.sort(key=lambda cn: (-cn[0], cn[1]))
        for rank, (cos, nid) in enumerate(lst[:ANN_K], start=1):
            rows.append((ids[qi], nid, rank, cos))
    rows.sort()
    return pa.table(
        {
            "query_id": pa.array([r[0] for r in rows], pa.int64()),
            "neighbor_id": pa.array([r[1] for r in rows], pa.int64()),
            "rank": pa.array([r[2] for r in rows], pa.int32()),
            "cosine": pa.array([r[3] for r in rows], pa.float64()),
        }
    )


# Must match q_ann_ivf in __spark_entry__.py / similarity.ivf_ann_topk
# defaults.
IVF_K, IVF_DIM, IVF_CENTROIDS, IVF_PROBE, IVF_ITER, IVF_SEED = 3, 64, 16, 4, 3, 7


def _sqdist(a: list[float], b: list[float]) -> float:
    """Left-fold of (x-y)^2 — the exact op sequence of Spark's
    F.aggregate(zip_with(a, b, (x,y)->(x-y)*(x-y)), 0.0, acc+d)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x - y) * (x - y)
    return acc


def golden_ann_ivf() -> pa.Table:
    """Pure-Python mirror of operators/similarity.ivf_ann_topk: seeded
    k-means init, IVF_ITER Lloyd iterations with centroids rounded to 4
    decimals (quantizes away double-summation order noise between
    Spark's task-order sums and this file-order sum), lowest-index
    argmin tie-break, n_probe nearest centroids per query, exact cosine
    re-rank with (-cosine, neighbor_id) ordering."""
    import math

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    ids = t.column("vec_id").to_pylist()
    vecs = [[float(x) for x in v] for v in t.column("embedding").to_pylist()]
    norms = [math.sqrt(_dot(v, v)) for v in vecs]

    rs = np.random.RandomState(IVF_SEED + 31)
    cents = rs.randn(IVF_CENTROIDS, IVF_DIM).astype(float).tolist()

    def assign(v: list[float]) -> int:
        return min(
            ((_sqdist(v, c), i) for i, c in enumerate(cents))
        )[1]

    for _ in range(IVF_ITER):
        sums = [[0.0] * IVF_DIM for _ in range(IVF_CENTROIDS)]
        counts = [0] * IVF_CENTROIDS
        for v in vecs:
            c = assign(v)
            counts[c] += 1
            for p, x in enumerate(v):
                sums[c][p] += x
        cents = [
            [round(sums[i][p] / counts[i], 4) for p in range(IVF_DIM)]
            if counts[i]
            else cents[i]
            for i in range(IVF_CENTROIDS)
        ]

    members: dict[int, list[int]] = {}
    for i, v in enumerate(vecs):
        members.setdefault(assign(v), []).append(i)

    rows = []
    for qi, v in enumerate(vecs):
        probed = sorted(
            ((_sqdist(v, c), i) for i, c in enumerate(cents))
        )[:IVF_PROBE]
        cand = [
            ni
            for _, ci in probed
            for ni in members.get(ci, [])
            if ni != qi
        ]
        scored = sorted(
            (
                (-(_dot(vecs[qi], vecs[ni]) / (norms[qi] * norms[ni])), ids[ni])
                for ni in cand
            )
        )
        for rank, (neg_cos, nid) in enumerate(scored[:IVF_K], start=1):
            rows.append((ids[qi], nid, rank, -neg_cos))
    rows.sort()
    return pa.table(
        {
            "query_id": pa.array([r[0] for r in rows], pa.int64()),
            "neighbor_id": pa.array([r[1] for r in rows], pa.int64()),
            "rank": pa.array([r[2] for r in rows], pa.int32()),
            "cosine": pa.array([r[3] for r in rows], pa.float64()),
        }
    )


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


GOLDENS = {
    "ann_lsh_sf001.parquet": golden_ann_lsh,
    "ann_ivf_sf001.parquet": golden_ann_ivf,
    "extract_sf001.parquet": golden_extract,
}


def main() -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    for name, fn in GOLDENS.items():
        table = fn()
        path = os.path.join(OUT_DIR, name)
        pq.write_table(table, path)
        print(f"wrote {path}: {table.num_rows} rows")


if __name__ == "__main__":
    main()
