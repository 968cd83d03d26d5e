"""Spark jobs per call on the production path. Every stage takes the
counts it reports from the job that writes its table (``observe``), so
no call runs a read-back action over what it just wrote."""

import pyspark.sql.functions as F

from ocr_poc_spark.plans.job import run_curate, run_dedup, run_job
from ocr_poc_spark.sources.pages import read_pages


def _count_jobs(spark, name, fn):
    """(fn's result, the number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        res = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return res, len(sc.statusTracker().getJobIdsForGroup(name))


def test_run_job_pass_is_its_write_job(spark, pages_df, tmp_path):
    """A pass over a multi-file input is the extracted write alone, plus
    the repartition's map stage when the input has fewer splits than
    cores."""
    sc = spark.sparkContext
    inp = str(tmp_path / "pages")
    pages_df.repartition(sc.defaultParallelism).write.parquet(inp)
    pages = read_pages(spark, inp)
    spread = pages.rdd.getNumPartitions() < sc.defaultParallelism
    res, n_jobs = _count_jobs(
        spark, f"pass-{tmp_path.name}",
        lambda: run_job(spark, pages, str(tmp_path / "out"), n_buckets=4),
    )
    assert res["passes"] == 1 and res["rows_this_run"] == pages_df.count()
    assert n_jobs == 1 + spread


def test_dedup_and_curate_jobs_per_call(spark, pages_df, tmp_path):
    """run_dedup(clusters=True) and run_curate over a corpus where each
    page has two mirrors: the summaries match the written tables, and
    the calls run exactly the jobs their plans need (the MinHash
    checkpoints, the star rounds, the shuffles' map stages and the
    writes; no read-back count)."""
    base = pages_df.limit(15)
    mirrors = [
        base.select(
            F.concat(F.lit(f"https://m{i}.example/"), F.col("url")).alias("url"),
            "warc_ts", "html", "text", "lang",
        )
        for i in (1, 2)
    ]
    out = str(tmp_path / "corpus")
    run_job(spark, base.unionByName(mirrors[0]).unionByName(mirrors[1]), out, n_buckets=2)

    dedup, dedup_jobs = _count_jobs(
        spark, f"dedup-{tmp_path.name}",
        lambda: run_dedup(spark, out, jaccard_threshold=0.9, clusters=True),
    )
    curate, curate_jobs = _count_jobs(
        spark, f"curate-{tmp_path.name}",
        lambda: run_curate(spark, out, max_per_host=5),
    )

    pairs = spark.read.parquet(dedup["dup_dir"])
    comp = spark.read.parquet(dedup["dup_components_dir"])
    cur = spark.read.parquet(curate["curation_dir"])
    assert dedup["dup_pairs"] == pairs.count() > 0
    assert dedup["dup_component_docs"] == comp.count()
    assert dedup["dup_components"] == comp.select("component_id").distinct().count()
    assert curate["curation_rows"] == cur.count()
    assert curate["curation_kept"] == cur.where("kept").count()
    assert (dedup_jobs, curate_jobs) == (29, 9)
