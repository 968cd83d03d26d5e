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
            "Crawl snapshot diff",
            "Both snapshots project to (id, 64-hex sha2) BEFORE the "
            "full-outer SortMergeJoin — ~80 bytes per url through the "
            "exchanges, page bytes never leave the scan.",
            em.queries()["crawl_diff"](spark, sf),
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
