"""Round-6 optimization parity tests: every structural change that
touched an operator's internals must produce byte-identical results to
the pre-change formulation (the oracle gate re-checks against DuckDB;
these pin the in-engine equivalences directly)."""


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy dog", "en"),
        (3, "the quick brown fox leaps over the lazy dog", "en"),
        (4, "completely different text about spark pipelines here", "en"),
        (5, "le renard brun saute par dessus le chien paresseux", "fr"),
        (6, "", "en"),              # empty text: no shingles
        (7, None, None),            # NULL text AND NULL lang
        (8, "der schnelle braune fuchs springt", "de"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def _rowset(df):
    return sorted(tuple(r) for r in df.collect())


def test_shingle_and_bands_materialize_parity(spark):
    """The checkpointed shingle frame minhash_lsh_pairs bands (one
    tokenize + one signature pass) must yield the identical shingle and
    band frames as the lazy recompute-per-reference shape."""
    from ocr_poc_spark.operators.dedup import _bands, _shingles

    d = _docs(spark)
    lazy_sh = _shingles(d)
    mat_sh = _shingles(d).localCheckpoint(eager=True)
    assert _rowset(_bands(mat_sh).localCheckpoint(eager=True)) == _rowset(_bands(lazy_sh))
    assert sorted((r["id"], tuple(r["shingles"])) for r in mat_sh.collect()) == \
        sorted((r["id"], tuple(r["shingles"])) for r in lazy_sh.collect())


def test_minhash_pairs_plan_scans_source_once(spark):
    """The materialized MinHash path must not re-scan its input per
    reference: the final physical plan reads the checkpointed frames
    (Scan ExistingRDD), with ZERO scans of the source — the r6
    optimization this pins (before: 4 scans + 2 signature passes)."""
    import io
    from contextlib import redirect_stdout

    from ocr_poc_spark.operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(_docs(spark), jaccard_threshold=0.5)
    buf = io.StringIO()
    with redirect_stdout(buf):
        pairs.explain("formatted")
    plan = buf.getvalue()
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan and "LocalTableScan" not in plan


