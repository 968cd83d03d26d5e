"""Guards the committed golden parquets (dist/golden/*) that back the
ann_lsh and extract_pipeline DuckDB oracles: regenerate them in memory
via scripts/make_goldens.py and assert byte-equality with the committed
files, so any kernel / page-synthesis / LSH-parameter drift fails HERE
before the driver's correctness gate sees a stale golden."""

import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

import make_goldens  # noqa: E402


def _committed(name):
    return pq.read_table(os.path.join(make_goldens.OUT_DIR, name))


def test_ann_lsh_golden_is_current():
    fresh = make_goldens.golden_ann_lsh()
    assert fresh.equals(_committed("ann_lsh_sf001.parquet"))


def test_ann_ivf_golden_is_current():
    fresh = make_goldens.golden_ann_ivf()
    assert fresh.equals(_committed("ann_ivf_sf001.parquet"))


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


def test_ivf_centroid_rounding_margin_and_spark_parity(spark):
    """The ann_ivf golden's exactness rests on 4-decimal centroid
    rounding absorbing summation-order ulp noise (Spark's task-order
    sums vs the mirror's file-order sums). That only holds if no
    pre-round mean sits ON a rounding boundary — so (a) assert every
    per-cell quotient in every Lloyd iteration keeps comfortable
    distance (>1e-6 in units of 1e-4) from the nearest round-half
    boundary, and (b) assert Spark's distributed kmeans reproduces the
    mirror's rounded centroids cell-for-cell at the fixture config.
    Either failing on a regenerated fixture means: re-seat the fixture,
    don't widen the rounding."""
    from ocr_poc_spark.operators.similarity import kmeans_centroids

    t = pq.read_table(f"{make_goldens.SF_DIR}/embeddings.parquet")
    vecs = [[float(x) for x in v] for v in t.column("embedding").to_pylist()]

    import numpy as np

    rs = np.random.RandomState(make_goldens.IVF_SEED + 31)
    cents = rs.randn(
        make_goldens.IVF_CENTROIDS, make_goldens.IVF_DIM
    ).astype(float).tolist()

    def assign(v):
        return min(
            ((make_goldens._sqdist(v, c), i) for i, c in enumerate(cents))
        )[1]

    min_margin = 0.5
    for _ in range(make_goldens.IVF_ITER):
        sums = [[0.0] * make_goldens.IVF_DIM for _ in range(make_goldens.IVF_CENTROIDS)]
        counts = [0] * make_goldens.IVF_CENTROIDS
        for v in vecs:
            c = assign(v)
            counts[c] += 1
            for p, x in enumerate(v):
                sums[c][p] += x
        for i in range(make_goldens.IVF_CENTROIDS):
            if not counts[i]:
                continue
            for p in range(make_goldens.IVF_DIM):
                q = sums[i][p] / counts[i]
                frac = (q * 1e4) % 1.0
                min_margin = min(min_margin, abs(frac - 0.5))
        cents = [
            [round(sums[i][p] / counts[i], 4) for p in range(make_goldens.IVF_DIM)]
            if counts[i]
            else cents[i]
            for i in range(make_goldens.IVF_CENTROIDS)
        ]
    # >1e-6 in 1e-4 units = >1e-10 absolute slack: ulp noise on sums of
    # ~1500 doubles is orders of magnitude below this.
    assert min_margin > 1e-6, min_margin

    emb = spark.read.parquet(f"{make_goldens.SF_DIR}/embeddings.parquet")
    spark_cents = kmeans_centroids(
        emb,
        "embedding",
        dim=make_goldens.IVF_DIM,
        n_centroids=make_goldens.IVF_CENTROIDS,
        n_iter=make_goldens.IVF_ITER,
        seed=make_goldens.IVF_SEED,
    )
    assert spark_cents == cents


