"""Cross-partitioning determinism (SURVEY.md §7 hard part (a)):
byte-identical output regardless of how the input is partitioned —
forbidden nondeterminism (unordered first/collect) would surface here."""

from ocr_poc_spark.plans.job import extract_fused

from conftest import assert_matches_oracle


def test_fused_output_invariant_to_input_partitioning(spark, pages_df, oracle_results):
    for n_parts in (1, 7, 11):
        got = extract_fused(pages_df.repartition(n_parts)).collect()
        assert_matches_oracle(got, oracle_results)


def test_session2_operators_invariant_to_input_partitioning(spark):
    """The session-2 operators (DSIR weights, semantic dedup, crawl
    diff, as-of join, corpus splits) must produce identical sorted
    results at 1/7/11-way input partitioning — unordered first()/
    collect-order dependence would surface here."""
    import pyspark.sql.functions as F

    from ocr_poc_spark.operators.crawl import crawl_diff
    from ocr_poc_spark.operators.curation import split_corpus
    from ocr_poc_spark.operators.dsir import importance_weights
    from ocr_poc_spark.operators.similarity import semantic_dedup
    from ocr_poc_spark.operators.textstats import hash_embedding
    from ocr_poc_spark.operators.timeseries import asof_join

    docs = spark.createDataFrame(
        [
            (i, f"w{i % 9} body text token{i % 23} filler word{i % 7} " * 4,
             f"h{i % 5}")
            for i in range(120)
        ],
        "doc_id long, text string, source string",
    )
    old = docs.select("doc_id", "text")
    new = docs.where(F.col("doc_id") % 3 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0, F.concat("text", F.lit(" v2")))
        .otherwise(F.col("text")).alias("text"),
    )
    ev = spark.createDataFrame(
        [(i, i % 11, (i * 7) % 100, float(i)) for i in range(200)],
        "event_id long, k long, ts long, value double",
    )
    target = docs.where(F.col("doc_id") % 10 == 0).select("doc_id", "text")
    cents = [[float((i * 5 + j) % 7 - 3) for j in range(16)] for i in range(4)]

    def runs(build):
        outs = []
        for n in (1, 7, 11):
            outs.append(sorted(map(tuple, build(n).collect())))
        return outs

    for name, build in {
        "dsir": lambda n: importance_weights(docs.repartition(n), target),
        "split": lambda n: split_corpus(
            docs.repartition(n), {"train": 0.8, "val": 0.1, "test": 0.1},
            by="source",
        ),
        "crawl_diff": lambda n: crawl_diff(
            old.repartition(n), new.repartition(max(1, n - 2)), id_col="doc_id"
        ),
        "semantic": lambda n: semantic_dedup(
            hash_embedding(docs.repartition(n), dim=16),
            cents, id_col="doc_id", cosine_threshold=0.97,
        ),
        "asof": lambda n: asof_join(
            ev.where("event_id % 2 = 0").repartition(n),
            ev.where("event_id % 2 = 1").repartition(max(1, n - 2)),
            on="k", tie_col="event_id",
        ),
    }.items():
        a, b, c = runs(build)
        assert a == b == c, name
        assert a, name  # non-trivial output
