"""Driver-contract smoke: entry() runs, queries()/oracle_sql() agree on
keys, and a representative oracle subset matches DuckDB at sf0.001
(full sweep lives in scripts/oracle_check.py at sf0.01)."""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
SUBSET = [
    "quality_gate", "rank_window", "dedup_ngram_jaccard", "embedding_topk",
    "tpch_pricing", "sessionization", "fingerprint",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def _norm(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [
        tuple("NaN" if isinstance(r[i], float) and math.isnan(r[i]) else r[i] for i in order)
        for r in rows
    ]
    out.sort(key=repr)
    return [cols[i] for i in order], out


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert "body_text" in df.columns and "url" in df.columns


def test_queries_oracle_keys_consistent():
    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 20 and len(os_) >= 15
    import bench

    assert set(bench.BENCH_QUERIES) <= set(qs)


@pytest.mark.parametrize("name", SUBSET)
def test_oracle_subset_matches(spark, duck, name):
    df = entry_mod.queries()[name](spark, SF)
    sc, sr = _norm(df.columns, [tuple(r) for r in df.collect()])
    res = duck.execute(entry_mod.oracle_sql()[name])
    dc, dr = _norm([d[0] for d in res.description], res.fetchall())
    assert sc == dc
    assert sr == dr


def test_zero_norm_vector_contract_engine_and_oracle(spark, tmp_path):
    """An empty document hashes to an all-zero embedding vector; the
    engine maps zero-norm cosines to NULL and drops them
    (_cosine_or_null). The oracles must agree (NULLIF guard), not let
    DuckDB's raw 0/0 NaN — which sorts GREATEST — pass thresholds or
    rank first. Pins the contract on a corpus that actually contains a
    zero vector (the shipped sf fixtures do not)."""
    import pandas as pd

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "alpha beta gamma delta",
                "alpha beta gamma delta",
                "",  # -> all-zero hash embedding
                "omega psi chi phi",
            ],
            "lang": ["en"] * 4,
            "source": ["t"] * 4,
            "n_chars": [22, 22, 0, 17],
        }
    )
    sf = str(tmp_path / "sf")
    (tmp_path / "sf").mkdir()
    docs.to_parquet(f"{sf}/documents.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    for name in ["text_embed_near_dup", "ann_ivf_bcast"]:
        df = entry_mod.queries()[name](spark, sf)
        sc, sr = _norm(df.columns, [tuple(r) for r in df.collect()])
        res = con.execute(entry_mod.oracle_sql()[name])
        dc, dr = _norm([d[0] for d in res.description], res.fetchall())
        assert sc == dc, name
        assert sr == dr, name
        assert all(3 not in r for r in sr), (name, sr)
        assert len(sr) > 0, name
