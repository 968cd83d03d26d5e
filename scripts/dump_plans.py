"""Write BENCH/PLANS.md: formatted physical plans of the headline
operators, annotated with what to look for (WholeStageCodegen spans,
broadcast joins, pushed ReadSchema, single url exchange)."""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def fmt(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from ocr_poc_spark.fixtures import write_pages_parquet
    from ocr_poc_spark.operators.dedup import connected_components
    from ocr_poc_spark.plans.job import extract_fused
    from ocr_poc_spark.session import get_spark

    import __spark_entry__ as em

    spark = get_spark("plans", cpus=8)
    pages_path = "/tmp/plans_pages.parquet"
    if not os.path.exists(pages_path):
        write_pages_parquet(pages_path, 200, seed=42)
    pages = spark.read.parquet(pages_path)
    sf = "/root/testdata/sf0.01"

    sections = [
        (
            "Fused extraction (production path)",
            "Map-only: one mapInPandas over the pruned (url, html) scan — "
            "zero Exchange nodes; ReadSchema carries only the two columns.",
            extract_fused(pages),
        ),
        (
            "MinHash LSH dedup",
            "Shuffle keys are (band, sig) hash values — uniform by "
            "construction; candidate verify runs post-join.",
            em.queries()["dedup_minhash"](spark, sf),
        ),
        (
            "Brute-force cosine top-k",
            "Query side broadcast; corpus stays partitioned; dot products "
            "in whole-stage codegen via zip_with/aggregate.",
            em.queries()["embedding_topk"](spark, sf),
        ),
        (
            "TPC-H Q3-style join",
            "Dimension sides broadcast (no shuffle for the join); decimal "
            "sums keep the aggregation exact and associative.",
            em.queries()["tpch_top_orders"](spark, sf),
        ),
        (
            "Boilerplate shingle dedup (curation)",
            "Both exchanges carry (id, 60-bit hash) pairs only — never "
            "text; partial aggregation collapses per-doc rows map-side "
            "before each shuffle.",
            em.queries()["boilerplate_shingles"](spark, sf),
        ),
        (
            "Benchmark decontamination (curation)",
            "The benchmark n-gram side is a BroadcastExchange; the corpus "
            "side shuffles once on doc id after a map-side partial agg.",
            em.queries()["decontaminate"](spark, sf),
        ),
        (
            "TPC-H Q9-style star join (part/supplier/nation)",
            "All three dimension tables are BroadcastExchange; exactly one "
            "hash exchange (the final nation x brand aggregate), bounded "
            "map-side by partial aggregation.",
            em.queries()["tpch_part_profit"](spark, sf),
        ),
        (
            "Duplicate-cluster resolution (connected components, final "
            "round fixpoint)",
            "The iterative large-star/small-star rounds run eagerly "
            "(localCheckpoint per round); this is the RESULT plan — the "
            "membership aggregate over the checkpointed (id, id) star "
            "edges joined to the node set. Edge shuffles carry bare id "
            "pairs.",
            connected_components(
                em.queries()["dedup_minhash"](spark, sf).select(
                    "id_a", "id_b"
                )
            ),
        ),
        (
            "Incremental MinHash dedup (new crawl vs persisted index)",
            "Only the new slice is shingled up front; the corpus arrives "
            "as the (id, band, sig) index. The exact-Jaccard verify side "
            "LEFT SEMI-prunes corpus docs to candidate ids BEFORE "
            "shingling.",
            em.queries()["dedup_incremental"](spark, sf),
        ),
        (
            "IVF ANN (k-means quantizer + n_probe search)",
            "Broadcast centroid encoding at EVERY k since round 4: the "
            "centroids ride as a single-row broadcast array (map-side "
            "cross join + per-row HOF sorted-distance prefix — zero "
            "exchanges before the ids-only cluster join, plan size "
            "independent of k, and the plan is IDENTICAL across calls "
            "and Lloyd rounds so generated code is reused; per-call "
            "literals cost ~1s of re-analysis/codegen each). Vectors "
            "join back once per side for the exact re-rank.",
            em.queries()["ann_ivf"](spark, sf),
        ),
        (
            "Full corpus pipeline (extract -> gate -> dedup -> components "
            "-> keeper -> host cap -> chunk -> pack)",
            "The composition a 100 TB run executes, as ONE plan. The "
            "fused extraction runs once behind a localCheckpoint (Scan "
            "ExistingRDD here); near-dup pair generation and the "
            "component fixpoint run eagerly upstream. This RESULT plan "
            "is the keeper anti-filter join feeding the host-cap "
            "windows, the map-only chunk explode, and the two-phase "
            "packing prefix sum — no text column rides the dedup or "
            "cap exchanges (ids + 60-bit hash ranks only), and the "
            "only per-host window runs over the skew-bounded local "
            "top-k survivors.",
            em.queries()["corpus_pipeline"](spark, sf),
        ),
        (
            "DSIR importance weights",
            "The bucket log-ratio table (<= n_buckets rows) arrives by "
            "BroadcastExchange; the only hash exchanges carry (id, int "
            "bucket, long count) rows from the per-doc partial-combined "
            "groupBys — never text. Corpus totals are single-row "
            "aggregates cross-joined as broadcasts.",
            em.queries()["dsir_weights"](spark, sf),
        ),
        (
            "SemDeDup semantic dedup (result join of the component stage)",
            "Nearest-centroid assignment is map-side (single-row "
            "broadcast centroid array; plan-guarded in "
            "test_plan_shapes). The in-cluster pair join is the one "
            "place vectors deliberately ride a shuffle — keyed on the "
            "cluster id, bounded by cluster size (k must scale with n; "
            "see SCALE10X). Components run eagerly upstream (Scan "
            "ExistingRDD here).",
            em.queries()["semantic_dedup"](spark, sf),
        ),
        (
            "Crawl snapshot diff",
            "Both snapshots project to (id, 64-hex sha2) BEFORE the "
            "full-outer SortMergeJoin — ~80 bytes per url through the "
            "exchanges, page bytes never leave the scan.",
            em.queries()["crawl_diff"](spark, sf),
        ),
        (
            "Backward as-of join (union + carry-forward window)",
            "No Join node anywhere (plan-guarded): both sides union "
            "after projecting to (key, ts, payload-struct), one hash "
            "exchange on the key, one sort, one partitioned WindowExec "
            "carrying last(payload, ignorenulls) — output is exactly "
            "|L| rows. The theta-join formulation this replaces would "
            "explode |L|x|R| per key before pruning.",
            em.queries()["asof_join"](spark, sf),
        ),
        (
            "Host graph (link extraction + host aggregation)",
            "Map-only regexp href extraction and resolution feeding ONE "
            "hash aggregation on the uniform host-pair key (partial "
            "combine collapses each page's links map-side); page bytes "
            "never cross the exchange.",
            em.queries()["host_graph"](spark, sf),
        ),
        (
            "Host PageRank (final iteration's plan)",
            "Each fixed iteration reads the previous ranks from a "
            "localCheckpoint (Scan ExistingRDD), joins the (host, "
            "double) edge/outdeg frames and aggregates inflow per host "
            "— no vector or page data anywhere; plan size constant "
            "across iterations.",
            em.queries()["host_pagerank"](spark, sf),
        ),
        (
            "BM25 serving mode (inverted-file scoring)",
            "The query-term filter prunes the index scan; per-term df "
            "and corpus stats are tiny broadcast aggregates; the top-k "
            "is TakeOrderedAndProject (per-partition heaps), never a "
            "global window.",
            em.queries()["bm25_serve"](spark, sf),
        ),
        (
            "Training-order shuffle + shards (two-phase prefix sums)",
            "Exactly ONE non-broadcast Exchange: the prefix-sum window's "
            "bucket exchange on the deterministic key-space slice of the "
            "uniform 60-bit order key (no range repartition, no "
            "checkpoint). The exchanged projection carries (id, key, "
            "counts) only — never text; the offset table joins back as a "
            "BroadcastExchange.",
            em.queries()["shuffle_shards"](spark, sf),
        ),
        (
            "Temperature corpus rebalancing (derived-rate sampler)",
            "The corpus side never hash-shuffles: the only hash "
            "Exchanges are the stratum-count groupBys (collapsed to "
            "#strata rows by map-side partial aggregation); the "
            "threshold table applies as a null-safe BroadcastHashJoin "
            "filter over the corpus scan.",
            em.queries()["temperature_sample"](spark, sf),
        ),
        (
            "Robots-policy gate (per-host directive fold)",
            "Directives roll up to ONE array row per host (the only "
            "hash exchange, keyed on the host grouping expression) and "
            "reach the corpus as a BroadcastHashJoin; the allow/deny "
            "decision is a per-row fold — no Generate/explode, so no "
            "directive row ever multiplies a url row.",
            em.queries()["robots_filter"](spark, sf),
        ),
        (
            "Bitext margin mining (exact oracle config)",
            "The all-pairs cross join is the documented EXACT config; "
            "the k-NN windows partition by one endpoint id, and the "
            "margin join carries (ids, cosine, avg) rows only. "
            "Production replaces the cross join with an ids-only ANN "
            "candidate frame (scale_bench bitext_ann).",
            em.queries()["bitext_mine"](spark, sf),
        ),
        (
            "Surgical decontamination (decontaminate_spans)",
            "The benchmark collapses to a distinct shingle-hash set and "
            "reaches the corpus occurrences as a BroadcastHashJoin "
            "LeftSemi — occurrence rows (id, pos) shuffle exactly once "
            "into the start-array aggregate; strictly fewer exchanges "
            "than dedup_spans (no corpus-wide hash groupBy).",
            em.queries()["decontaminate_spans"](spark, sf),
        ),
        (
            "Hybrid retrieval (BM25 + dense, RRF)",
            "Each leg ends in TakeOrderedAndProject (per-partition "
            "heaps); the rank windows and the full-outer fusion join "
            "run on the <= pool-row leg results — the documented "
            "bounded-input exception to the no-global-window rule.",
            em.queries()["hybrid_search"](spark, sf),
        ),
        (
            "Crawl frontier (politeness waves)",
            "Priority joins as a BroadcastHashJoin (one row per host); "
            "the slot window partitions by host — the honest per-host "
            "sequential constraint — and wave derivation is map-only.",
            em.queries()["crawl_frontier"](spark, sf),
        ),
        (
            "Incremental connected components (merge_components)",
            "Label edges union the new pair batch, then the same "
            "hub-degree-bounded star rounds as connected_components — "
            "scalar min aggregates, (id, id)-only exchanges, "
            "localCheckpoint per round ('Scan ExistingRDD').",
            em.queries()["components_incremental"](spark, sf),
        ),
        (
            "Quality classifier (train + score, one plan)",
            "Class counts collapse to <= n_buckets rows map-side; the "
            "model spine joins back as BroadcastExchanges; scoring "
            "shuffles (id, bucket, count) rows once on the uniform "
            "bucket key and once on the doc id — the dsir shape.",
            em.queries()["quality_classifier"](spark, sf),
        ),
    ]

    out = ["# PLANS — physical plans of headline operators\n"]
    for title, note, df in sections:
        out.append(f"\n## {title}\n\n{note}\n\n```\n{fmt(df)}```\n")
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "PLANS.md"), "w") as fh:
        fh.write("".join(out))
    print("wrote BENCH/PLANS.md")


if __name__ == "__main__":
    main()
