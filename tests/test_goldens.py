"""Guards the committed golden parquet (dist/golden/extract_sf001.parquet)
that is the extract_pipeline oracle's second witness: regenerate it in
memory via scripts/make_goldens.py and assert byte-equality with the
committed file, so any kernel / page-synthesis drift fails HERE before
the oracle check sees a stale golden."""

import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

import make_goldens  # noqa: E402


def _committed(name):
    return pq.read_table(os.path.join(make_goldens.OUT_DIR, name))


def test_extract_golden_is_current():
    fresh = make_goldens.golden_extract()
    assert fresh.equals(_committed("extract_sf001.parquet"))


def test_extract_oracle_derivation_matches_golden():
    """Second-witness agreement: the INDEPENDENT DuckDB derivation of the
    extract_pipeline oracle (recomputed from the documents table + the
    deterministic page synthesis, never reading the kernel's output) must
    equal the kernel-produced golden parquet, column by column."""
    import duckdb

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    import __spark_entry__ as entry_mod

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        "SELECT * FROM '/root/testdata/sf0.01/documents.parquet'"
    )
    derived = con.execute(
        entry_mod.oracle_sql()["extract_pipeline"] + " ORDER BY url"
    ).fetchall()
    golden = con.execute(
        """
        SELECT url, doc_kind, success, ROUND(quality_score, 6),
               ROUND(confidence, 6), title, author, pub_date,
               reading_time, body_text, n_blocks
        FROM read_parquet(?) ORDER BY url
        """,
        [os.path.join(make_goldens.OUT_DIR, "extract_sf001.parquet")],
    ).fetchall()
    assert len(derived) == len(golden) > 0
    for a, b in zip(derived, golden):
        assert a == b, (a, b)


def test_page_synthesis_matches_spark_side(spark):
    """synth_page (golden generator) must mirror
    __spark_entry__._pages_from_documents byte-for-byte."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    import __spark_entry__ as entry_mod

    sf_dir = "/root/testdata/sf0.001"
    spark_pages = {
        r["url"]: bytes(r["html"])
        for r in entry_mod._pages_from_documents(spark, sf_dir).collect()
    }
    t = pq.read_table(f"{sf_dir}/documents.parquet")
    assert len(spark_pages) == t.num_rows
    for doc_id, text, lang in zip(
        t.column("doc_id").to_pylist(),
        t.column("text").to_pylist(),
        t.column("lang").to_pylist(),
    ):
        url, payload = make_goldens.synth_page(doc_id, text, lang)
        assert spark_pages[url] == payload, url
