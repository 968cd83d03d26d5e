import pytest

from ocr_poc_spark.extractor import ALL_FIELDS, extract_document
from ocr_poc_spark.fixtures import gen_pages
from ocr_poc_spark.session import get_spark

N_PAGES = 150


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def fixture_rows():
    return gen_pages(N_PAGES, seed=42)


@pytest.fixture(scope="session")
def pages_df(spark, fixture_rows):
    return spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in fixture_rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


@pytest.fixture(scope="session")
def oracle_results(fixture_rows):
    """Golden per-url records from the sequential kernel."""
    out = {}
    for r in fixture_rows:
        res = extract_document(r["url"], r["html"])
        d = {
            "url": res.url,
            "doc_kind": res.doc_kind,
            "success": res.success,
            "message": res.message,
            "quality_score": res.quality_score,
            "confidence": res.confidence,
            "raw_text": res.raw_text,
            "body_text": res.body_text,
            "spans": [tuple(s) for s in res.spans],
            "anchors_detected": dict(res.anchors_detected),
            "n_blocks": res.n_blocks,
        }
        for f in ALL_FIELDS:
            d[f] = res.fields.get(f)
        out[res.url] = d
    return out


COMPARE_COLS = [
    "doc_kind", "success", "message", "quality_score", "confidence",
    "raw_text", *ALL_FIELDS, "body_text", "n_blocks", "anchors_detected",
]


def assert_matches_oracle(got_rows, oracle):
    got = {r["url"]: r.asDict(recursive=True) for r in got_rows}
    assert set(got) == set(oracle)
    for url, exp in oracle.items():
        g = got[url]
        for c in COMPARE_COLS:
            assert g[c] == exp[c], f"{url} col={c}: spark={g[c]!r} oracle={exp[c]!r}"
        gs = [(s["field"], s["start"], s["end"]) for s in (g["spans"] or [])]
        assert gs == exp["spans"], f"{url} spans differ"
