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
    """The session-2 operator (crawl diff) must produce identical sorted
    results at 1/7/11-way input partitioning — unordered
    first()/collect-order dependence would surface here."""
    import pyspark.sql.functions as F

    from ocr_poc_spark.operators.crawl import crawl_diff

    docs = spark.createDataFrame(
        [
            (i, f"w{i % 9} body text token{i % 23} filler word{i % 7} " * 4)
            for i in range(120)
        ],
        "doc_id long, text string",
    )
    new = docs.where(F.col("doc_id") % 3 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0, F.concat("text", F.lit(" v2")))
        .otherwise(F.col("text")).alias("text"),
    )
    docs, new = (df.withColumnRenamed("doc_id", "url") for df in (docs, new))
    a, b, c = (
        sorted(map(tuple, crawl_diff(
            docs.repartition(n), new.repartition(max(1, n - 2))
        ).collect()))
        for n in (1, 7, 11)
    )
    assert a == b == c
    assert a  # non-trivial output
