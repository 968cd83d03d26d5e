"""Physical-plan regression guards for the scale-critical properties the
engine claims (a plan that silently regresses to a global shuffle or an
unpartitioned window would still pass value checks at test scale — these
tests pin the PLAN, not the answer)."""

import os
import sys

import pyspark.sql.functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_fused_extraction_is_map_only(spark, pages_df):
    """The production path must stay zero-shuffle: no Exchange anywhere."""
    from ocr_poc_spark.plans.job import extract_fused

    plan = _plan(extract_fused(pages_df))
    assert "Exchange" not in plan, plan


def test_top_orders_uses_distributed_topk(spark):
    """Global top-k must compile to TakeOrderedAndProject (per-partition
    heap + driver merge), never a single-partition Window."""
    import __spark_entry__ as entry_mod

    df = entry_mod.q_tpch_top_orders(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


def test_all_windows_are_partitioned_in_entry_queries(spark):
    """No driver-contract query may contain an unpartitioned window
    (WindowExec with an empty partition spec moves ALL rows to one
    partition). windowspecdefinition(<order only>) lacks a partition
    column before the first ASC/DESC token."""
    import re

    import __spark_entry__ as entry_mod

    for name, fn in entry_mod.queries().items():
        plan = _plan(fn(spark, "/root/testdata/sf0.001"))
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
            spec = m.group(1)
            first = spec.split(",")[0]
            assert "ASC" not in first and "DESC" not in first, (
                f"{name}: unpartitioned window: {spec[:120]}"
            )


def test_minhash_band_shuffle_carries_ids_only(spark):
    """The LSH band self-join must not ship shingle arrays through the
    exchange: every Exchange's output schema stays free of array-typed
    shingle columns."""
    from ocr_poc_spark.operators.dedup import minhash_lsh_pairs

    d = spark.createDataFrame(
        [(i, f"w{i} " * 20) for i in range(50)], "doc_id long, text string"
    )
    plan = _plan(minhash_lsh_pairs(d))
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line and "band" in line:
            assert "sh_a" not in line and "sh_b" not in line and "shingles" not in line, line


def test_boilerplate_plan_two_exchanges_no_join(spark):
    """boilerplate_shingle_stats must keep its no-join-back shape:
    exactly two hash exchanges (shingle hash, doc id), no join operator,
    and no text column riding an exchange."""
    from ocr_poc_spark.operators.curation import boilerplate_shingle_stats

    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x")], "doc_id long, text string"
    )
    plan = _plan(boilerplate_shingle_stats(docs))
    n_ex = plan.count("Exchange hashpartitioning")
    assert n_ex == 2, plan
    assert "Join" not in plan, plan


def test_part_profit_broadcasts_all_dims_one_exchange(spark):
    """The Q9-style star join must broadcast all three dimension tables
    (part/supplier/nation) and shuffle exactly once — the final
    (nation, brand) aggregate. A dim riding a hash exchange would mean
    a fact-table shuffle per join at production scale."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.q_tpch_part_profit(spark, "/root/testdata/sf0.001"))
    assert plan.count("BroadcastExchange") == 3, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_star_round_is_hub_degree_bounded(spark):
    """The connected-components star round must stay hub-degree-bounded:
    neighborhood minima via scalar min aggregates (HashAggregate with
    map-side partial combine), NOT collect_set neighborhood arrays
    (ObjectHashAggregate materializing an unbounded array per hub row).
    No array-typed column may cross any Exchange."""
    from ocr_poc_spark.operators.dedup import _star_round

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "u long, v long"
    )
    plan = _plan(_star_round(edges))
    assert "collect_set" not in plan, plan
    assert "ObjectHashAggregate" not in plan, plan
    assert "explode" not in plan.lower(), plan
    # scalar min aggregates carry partial combine: partial_min present
    assert "partial_min" in plan or "partial_least" in plan, plan


def test_robots_filter_corpus_joins_broadcast_rules(spark):
    """The robots gate's scale claim: the corpus side never hash-
    shuffles — the only hash Exchange is the per-host directive
    roll-up (bounded by #hosts x directives), which reaches the corpus
    as a BroadcastHashJoin; the decision is a per-row fold, so no
    directive row multiplies a url row (no explode after the join)."""
    import re

    from ocr_poc_spark.operators.crawl import robots_filter

    d = spark.createDataFrame(
        [(i, f"https://h{i % 5}.example/p{i % 7}/doc/{i}") for i in range(200)],
        "doc_id long, url string",
    )
    rules = spark.createDataFrame(
        [(f"h{i}.example", "disallow", "/p1") for i in range(5)],
        "host string, rule string, path_prefix string",
    )
    plan = _plan(robots_filter(d, rules))
    assert "BroadcastHashJoin" in plan, plan
    for ln in plan.splitlines():
        if re.search(r"\bExchange hashpartitioning", ln):
            # the rules roll-up keys on (lowered) host — shown as a
            # grouping expression; the corpus ids/urls never shuffle.
            assert "doc_id" not in ln and "url" not in ln, plan
    assert "Generate" not in plan.split("BroadcastHashJoin")[0], plan
