"""Benchmark harness (driver contract): one JSON line on stdout.

Headline metric: end-to-end extraction wall seconds over a deterministic
synthetic pages table sized by the scale factor (BASELINE.json metric is
documents/sec — reported as docs_per_sec alongside). Also times the
relational operator queries from __spark_entry__ at $SPARK_GRAFT_SF_DIR.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     BENCH_PAGES (override page count).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Pages per scale factor: sf0.1 -> 8000 docs (~50KB HTML each).
PAGES_PER_SF = 80_000


def _sf_from_dir(d: str) -> float:
    m = re.search(r"sf([\d.]+)", d)
    return float(m.group(1)) if m else 0.1


def _pages_path(n_pages: int) -> str:
    """Fixture cache keyed on (n_pages, hash of the generator source) so
    a fixtures.py change invalidates stale corpora, written tmp+rename
    so an interrupted generation can never leave a truncated parquet
    that later runs silently trust."""
    import hashlib

    import ocr_poc_spark.fixtures as fixtures_mod

    gen_hash = hashlib.md5(
        open(fixtures_mod.__file__, "rb").read()
    ).hexdigest()[:10]
    cache = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench")
    os.makedirs(cache, exist_ok=True)
    path = os.path.join(cache, f"pages_{n_pages}_{gen_hash}.parquet")
    if not os.path.exists(path):
        from ocr_poc_spark.fixtures import write_pages_parquet

        tmp = path + ".tmp"
        write_pages_parquet(tmp, n_pages, seed=42)
        os.replace(tmp, path)
    return path


# Queries worth timing per-round (mix of shuffle-heavy, join-heavy,
# UDF-heavy shapes). The rest are correctness-gated already.
BENCH_QUERIES = [
    "tpch_pricing", "tpch_top_orders", "region_rollup",
    "dedup_ngram_jaccard", "dedup_minhash", "dedup_simhash",
    "dedup_components", "dedup_incremental",
    "embedding_topk", "ann_lsh", "ann_ivf", "tpch_part_profit",
    "proximity_binding", "sessionization", "lang_id", "fingerprint",
    "zone_transform", "multimodal_decode",
    "boilerplate_shingles", "decontaminate",
    "band_join", "corpus_pipeline", "pack_subword",
    "lm_perplexity", "strip_boilerplate",
    "bm25_serve", "dsir_weights", "semantic_dedup", "crawl_diff",
    "asof_join", "gopher_rules", "clean_text", "host_pagerank",
    "url_blocklist",
    # round-4 families previously correctness-only (VERDICT r4 #8):
    "bm25_search", "anchor_texts", "host_graph", "corpus_split",
    "crawl_churn", "corpus_quantiles", "chunk_bpe", "asof_forward",
    # round-5 additions:
    "span_dedup", "semantic_dedup_bcast", "anchor_profile",
    "decontaminate_spans", "hybrid_search", "crawl_frontier",
    "ann_quantized", "ann_recall", "ccnet_buckets", "kn_perplexity",
    "bitext_url", "tokenizer_fertility", "winnow_fingerprints",
    "components_incremental", "repeat_line_dedup", "benchmark_coverage", "corpus_grep",
    "dsir_resample",
    "temperature_sample", "shuffle_shards", "quality_classifier",
    "robots_filter",
]
# embedding_near_dup and bitext_mine are deliberately absent: both are
# documented all-pairs EXACT oracle variants (O(n^2) cross joins); the
# benchmarked scale paths for those capabilities are the LSH near-dup
# bucketing and scale_bench's bitext_ann (ANN candidates).
# minhash_estimate joins that exclusion set: it is the guarded
# all-pairs estimator AUDIT (correctness-gated at sf0.01 where the
# fixture's 25 true pairs live; at sf0.1 the fixture's near-dup ids
# are spread so no bounded sample keeps both pair endpoints, and the
# full sweep is the O(n^2) shape the max_rows guard exists to refuse).


def main() -> None:
    sf = _sf_from_dir(SF_DIR)
    n_pages = int(os.environ.get("BENCH_PAGES", str(int(PAGES_PER_SF * sf))))
    pages_path = _pages_path(n_pages)

    from ocr_poc_spark.session import get_spark

    # Small maxPartitionBytes so the single bench parquet yields >= cpus
    # splits (production inputs are many multi-GB files; the default
    # 128MB would make this ~25MB file a single task).
    spark = get_spark(
        "bench", cpus=CPUS, shuffle_partitions=CPUS,
        extra_conf={"spark.sql.files.maxPartitionBytes": str(512 * 1024)},
    )

    import __spark_entry__ as entry_mod
    from ocr_poc_spark.plans.job import extract_fused

    # Warm the JVM + one Python worker per core with a same-shape pass
    # (python worker startup is ~1s each and would otherwise be billed
    # to the first measured stage).
    pages = spark.read.parquet(pages_path)
    extract_fused(
        pages.limit(CPUS * 8).repartition(CPUS)
    ).write.format("noop").mode("overwrite").save()

    # Best-of-2 full passes: the first pass still pays residual JIT /
    # codegen compilation; the minimum is the steady-state wall a long-
    # lived cluster session sees (both passes do identical full work).
    n_passes = 1 if os.environ.get("BENCH_SKIP_QUERIES") else 2
    extract_secs = float("inf")
    for _ in range(n_passes):
        t0 = time.monotonic()
        extract_fused(pages).write.format("noop").mode("overwrite").save()
        extract_secs = min(extract_secs, time.monotonic() - t0)

    qs = entry_mod.queries()
    q_secs: dict[str, float] = {}
    bench_queries = [] if os.environ.get("BENCH_SKIP_QUERIES") else BENCH_QUERIES
    for name in bench_queries:
        # Best-of-2 per query: single-shot timings on this shared box
        # swing up to 10x under external load (trivial linear queries
        # occasionally report seconds); the min is the steady-state wall.
        best = float("inf")
        for _ in range(2):
            t = time.monotonic()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            best = min(best, time.monotonic() - t)
        q_secs[name] = round(best, 3)

    print(
        json.dumps(
            {
                "metric": f"extraction_wall_sec_fused_{n_pages}pages_local{CPUS}",
                "value": round(extract_secs, 3),
                "unit": "sec",
                "queries": q_secs,
                "sf": sf,
                "n_pages": n_pages,
                "docs_per_sec": round(n_pages / extract_secs, 1),
                "mode": "fused",
                "cpus": CPUS,
            }
        )
    )


if __name__ == "__main__":
    main()
