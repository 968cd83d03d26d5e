"""End-to-end job test: full run == crash-then-resume run (idempotent
checkpoint manifest), lineage rows present (SURVEY.md §5 item 3)."""

import json
import os
import re

import pytest

from ocr_poc_spark.plans.job import completed_buckets, run_job


def _read_sorted(spark, path):
    rows = spark.read.parquet(path).collect()
    return sorted(
        [(r["url"], r["success"], r["body_text"], r["confidence"]) for r in rows]
    )


def test_full_run_then_idempotent_resume(spark, pages_df, tmp_path):
    full_dir = str(tmp_path / "full")
    run_job(spark, pages_df, full_dir, mode="fused", n_buckets=4)
    assert completed_buckets(full_dir) == {0, 1, 2, 3}
    full = _read_sorted(spark, full_dir + "/extracted")
    assert len(full) == pages_df.count()

    # Crash after the first pass (2 of 4 buckets committed)...
    crash_dir = str(tmp_path / "crash")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_job(
            spark, pages_df, crash_dir, mode="fused", n_buckets=4,
            buckets_per_pass=2, fail_after_passes=1,
        )
    assert len(completed_buckets(crash_dir)) == 2

    # ...then resume: remaining buckets only, same final table.
    summary = run_job(
        spark, pages_df, crash_dir, mode="fused", n_buckets=4, buckets_per_pass=2
    )
    assert completed_buckets(crash_dir) == {0, 1, 2, 3}
    resumed = _read_sorted(spark, crash_dir + "/extracted")
    assert resumed == full

    lineage = spark.read.parquet(crash_dir + "/lineage")
    assert lineage.count() > 0
    agg = lineage.groupBy().sum("n_docs").collect()[0][0]
    assert agg == pages_df.count()
    assert summary["rows_this_run"] < pages_df.count()  # only resumed part


def _assert_lineage_matches_manifest(spark, out):
    """Exactly one lineage row per committed bucket, carrying its
    manifest entry's run_id, row count and secs; LINEAGE_SCHEMA columns,
    readable by Spark and by pyarrow. Returns the rows."""
    import pyarrow.parquet as pq

    from ocr_poc_spark.schemas import LINEAGE_SCHEMA

    lineage = spark.read.parquet(out + "/lineage")
    assert {f.name: f.dataType for f in lineage.schema} == {
        f.name: f.dataType for f in LINEAGE_SCHEMA
    }
    rows = lineage.collect()
    assert pq.read_table(out + "/lineage").num_rows == len(rows)
    assert sorted(r["bucket"] for r in rows) == sorted(completed_buckets(out))
    for r in rows:
        with open(f"{out}/_manifest/bucket_{r['bucket']}.json") as fh:
            m = json.load(fh)
        assert (r["run_id"], r["n_docs"], r["secs"]) == (
            m["run_id"], m["n_rows"], m["secs"]
        )
        assert r["n_ok"] + r["n_failed"] == r["n_docs"]
    return rows


@pytest.fixture(scope="module")
def uninterrupted(spark, pages_df, tmp_path_factory):
    """Sorted extracted rows of one uninterrupted 4-bucket run."""
    out = str(tmp_path_factory.mktemp("uninterrupted"))
    run_job(spark, pages_df, out, n_buckets=4)
    return _read_sorted(spark, out + "/extracted")


@pytest.mark.parametrize(
    "commits_before_crash", [0, 1],
    ids=["after_extracted_write", "after_first_bucket_commit"],
)
def test_resume_after_crash_inside_a_pass(
    spark, pages_df, tmp_path, monkeypatch, uninterrupted, commits_before_crash
):
    """A crash between a pass's extracted write and its first bucket
    commit, or between the two bucket commits of a pass, resumes to the
    uninterrupted tables. A stray lineage part of a pending bucket (what
    a Spark-side lineage writer left behind when it crashed before the
    manifest commit) is replaced, never counted."""
    from ocr_poc_spark.plans import job
    from ocr_poc_spark.schemas import LINEAGE_SCHEMA

    out = str(tmp_path / "crash")
    commit = job._commit_bucket
    committed = []

    def crashing_commit(*args):
        if len(committed) == commits_before_crash:
            raise RuntimeError("crash inside a pass")
        commit(*args)
        committed.append(args)

    with monkeypatch.context() as m:
        m.setattr(job, "_commit_bucket", crashing_commit)
        with pytest.raises(RuntimeError, match="crash inside a pass"):
            run_job(spark, pages_df, out, n_buckets=4, buckets_per_pass=2)
    done = completed_buckets(out)
    assert len(done) == commits_before_crash
    assert spark.read.parquet(out + "/extracted").count() > 0  # write landed
    if done:
        _assert_lineage_matches_manifest(spark, out)

    pending = min(set(range(4)) - done)
    spark.createDataFrame(
        [("stale", pending, 0, 999, 999, 0, 0.0, "SUCCESS")], LINEAGE_SCHEMA
    ).write.mode("append").partitionBy("bucket").parquet(out + "/lineage")

    run_job(spark, pages_df, out, n_buckets=4, buckets_per_pass=2)
    assert completed_buckets(out) == {0, 1, 2, 3}
    assert _read_sorted(spark, out + "/extracted") == uninterrupted
    rows = _assert_lineage_matches_manifest(spark, out)
    assert sum(r["n_docs"] for r in rows) == len(uninterrupted)


def test_one_pass_runs_at_most_three_spark_jobs(spark, pages_df, tmp_path):
    """A pass is the extracted write plus one aggregate (two AQE jobs):
    no persist, no metrics pass over the frame, no separate count."""
    sc = spark.sparkContext
    group = f"one-pass-{tmp_path.name}"
    sc.setJobGroup(group, "one run_job pass")
    try:
        res = run_job(spark, pages_df, str(tmp_path / "jobs"), n_buckets=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert res["passes"] == 1
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3


def test_single_file_input_uses_every_core(spark, tmp_path, oracle_results):
    """A one-file input scans as one partition; run_job spreads it by
    url hash so the extract stage runs one task per core, and the rows
    still match the sequential kernel."""
    from conftest import N_PAGES, assert_matches_oracle

    from ocr_poc_spark.fixtures import write_pages_parquet
    from ocr_poc_spark.sources.pages import read_pages

    inp = str(tmp_path / "pages.parquet")
    write_pages_parquet(inp, N_PAGES, seed=42)
    pages = read_pages(spark, inp)
    assert pages.rdd.getNumPartitions() == 1
    sc = spark.sparkContext
    st = sc.statusTracker()
    group = f"one-file-{tmp_path.name}"
    sc.setJobGroup(group, "run_job over one input file")
    try:
        run_job(spark, pages, str(tmp_path / "out"), n_buckets=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # The pass writes, then aggregates the written (bucket, success)
    # columns ("collect" jobs); the last stage before those writes.
    stages = [
        st.getStageInfo(s)
        for j in st.getJobIdsForGroup(group)
        for s in st.getJobInfo(j).stageIds
    ]
    extract = max(
        (s for s in stages if not s.name.startswith("collect at")),
        key=lambda s: s.stageId,
    )
    assert extract.numTasks == sc.defaultParallelism > 1
    assert_matches_oracle(
        spark.read.parquet(str(tmp_path / "out" / "extracted")).collect(),
        oracle_results,
    )


def test_cli_kill_9_then_rerun_matches_in_process_run(spark, tmp_path):
    """SIGKILL the CLI's whole process group (its Python process, the
    Spark JVM and the Python workers) once its first bucket has
    committed, then rerun it to completion: the same extracted table
    and lineage sum as an uninterrupted in-process run_job."""
    import contextlib
    import signal
    import subprocess
    import sys
    import time

    from ocr_poc_spark.fixtures import write_pages_parquet
    from ocr_poc_spark.sources.pages import read_pages

    inp = str(tmp_path / "pages.parquet")
    write_pages_parquet(inp, 120, seed=11)
    out = str(tmp_path / "cli")
    cmd = [
        sys.executable, "-m", "ocr_poc_spark", "--input", inp, "--out", out,
        "--buckets", "4", "--buckets-per-pass", "1", "--cpus", "2",
    ]
    env = {**os.environ, "SPARK_DRIVER_MEM": "1g"}
    proc = subprocess.Popen(
        cmd, env=env, start_new_session=True,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    try:
        deadline = time.monotonic() + 300
        while not completed_buckets(out):
            assert proc.poll() is None, "the CLI exited before its first commit"
            assert time.monotonic() < deadline, "no bucket committed in time"
            time.sleep(0.05)
    finally:
        with contextlib.suppress(ProcessLookupError):
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait(timeout=60)
    killed_at = len(completed_buckets(out))
    assert 0 < killed_at < 4  # the kill landed mid-job

    rerun = subprocess.run(
        cmd, env=env, capture_output=True, text=True, check=True, timeout=600
    )
    summary = json.loads(rerun.stdout.strip().splitlines()[-1])
    assert summary["passes"] == 4 - killed_at
    assert completed_buckets(out) == {0, 1, 2, 3}

    ref = str(tmp_path / "ref")
    run_job(spark, read_pages(spark, inp), ref, n_buckets=4)
    expected = _read_sorted(spark, ref + "/extracted")
    assert len(expected) == 120
    assert _read_sorted(spark, out + "/extracted") == expected
    rows = _assert_lineage_matches_manifest(spark, out)
    assert sum(r["n_docs"] for r in rows) == len(expected)


@pytest.mark.parametrize(
    "kwargs",
    [
        {"mode": "relational"},
        {"n_buckets": 0},
        {"n_buckets": -2},
        {"buckets_per_pass": 0},
        {"buckets_per_pass": -1},
    ],
    ids=lambda kw: "-".join(f"{k}={v}" for k, v in kw.items()),
)
def test_run_job_rejects_unknown_mode(spark, pages_df, tmp_path, kwargs):
    out = tmp_path / "rel"
    with pytest.raises(ValueError):
        run_job(spark, pages_df.limit(40), str(out), **{"n_buckets": 2, **kwargs})
    assert not out.exists()  # rejected before any write


def test_iceberg_gate_without_connector(spark):
    from ocr_poc_spark.sources.pages import iceberg_available, read_pages

    if iceberg_available(spark):
        return  # connector present: nothing to gate
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="Iceberg connector"):
        read_pages(spark, "iceberg:db.pages")


def test_cli_dedup_stage(spark, pages_df, tmp_path):
    """Near-dup curation stage over extracted body_text: duplicate pages
    must pair up."""
    import pyspark.sql.functions as F

    from ocr_poc_spark.plans.job import run_dedup, run_job

    # duplicate a subset of pages under new urls -> guaranteed near-dups
    base = pages_df.limit(30)
    dups = base.select(
        F.concat(F.lit("https://mirror.example/"), F.col("url")).alias("url"),
        "warc_ts", "html", "text", "lang",
    )
    out = str(tmp_path / "dd")
    run_job(spark, base.unionByName(dups), out, mode="fused", n_buckets=2)
    res = run_dedup(spark, out, jaccard_threshold=0.9)
    assert res["dup_pairs"] > 0
    pairs = spark.read.parquet(res["dup_dir"]).collect()
    assert all(r["jaccard"] >= 0.9 for r in pairs)
    # every pair links an original with its mirror (same page body)
    n_mirror = sum(
        1 for r in pairs
        if r["id_a"].replace("https://mirror.example/", "") == r["id_b"].replace("https://mirror.example/", "")
        or r["id_b"].replace("https://mirror.example/", "") == r["id_a"]
    )
    assert n_mirror == len(pairs)


def test_cli_dedup_clusters_stage(spark, pages_df, tmp_path):
    """clusters=True resolves the pair list transitively: an original
    page with TWO mirrors (mirror~orig, mirror2~orig, mirror~mirror2
    all near-dups) must land in ONE component whose keeper is the
    lexicographic minimum url, and every component keeps exactly one
    keeper row."""
    import pyspark.sql.functions as F

    from ocr_poc_spark.plans.job import run_dedup, run_job

    base = pages_df.limit(15)
    m1 = base.select(
        F.concat(F.lit("https://m1.example/"), F.col("url")).alias("url"),
        "warc_ts", "html", "text", "lang",
    )
    m2 = base.select(
        F.concat(F.lit("https://m2.example/"), F.col("url")).alias("url"),
        "warc_ts", "html", "text", "lang",
    )
    out = str(tmp_path / "ddc")
    run_job(
        spark, base.unionByName(m1).unionByName(m2), out,
        mode="fused", n_buckets=2,
    )
    res = run_dedup(spark, out, jaccard_threshold=0.9, clusters=True)
    assert res["dup_component_docs"] > 0
    comp = spark.read.parquet(res["dup_components_dir"])
    rows = comp.collect()
    # component id is a member and the minimum of its component
    by_comp: dict = {}
    for r in rows:
        by_comp.setdefault(r.component_id, []).append(r)
    assert len(by_comp) == res["dup_components"]
    for cid, members in by_comp.items():
        ids = {m.doc_id for m in members}
        assert cid == min(ids)
        keepers = [m for m in members if m.keeper]
        assert len(keepers) == 1 and keepers[0].doc_id == cid
    # each original + its two mirrors share one component (transitivity)
    for r in rows:
        stripped = (
            r.doc_id.replace("https://m1.example/", "")
            .replace("https://m2.example/", "")
        )
        assert r.component_id.endswith(stripped) or stripped in r.component_id


def test_iceberg_gate_contract(spark, tmp_path, pages_df):
    """The Iceberg leg of S1/S4 cannot run here (no connector jar in the
    sandbox, no network to vendor one — exclusion documented in
    COVERAGE.md). What IS contractual and tested: the 'iceberg:' prefix
    dispatches to the connector gate and fails with an actionable error
    when the connector is absent; plain paths read parquet."""
    from ocr_poc_spark.sources.pages import iceberg_available, read_pages

    assert iceberg_available(spark) is False  # sandbox reality
    import pytest

    with pytest.raises(RuntimeError, match="Iceberg connector not on classpath"):
        read_pages(spark, "iceberg:warehouse.pages")

    p = str(tmp_path / "pages.parquet")
    pages_df.limit(5).write.parquet(p)
    assert read_pages(spark, p).count() == 5


def test_resume_rejects_changed_n_buckets(spark, pages_df, tmp_path):
    """Bucket membership is pmod(hash, n_buckets): resuming the same
    out_dir with a different n_buckets would re-extract docs into new
    bucket partitions while the old ones persist (silent duplication).
    The manifest pins n_buckets and the mismatch must raise."""
    import pytest

    from ocr_poc_spark.plans.job import run_job

    out = str(tmp_path / "nb")
    run_job(spark, pages_df.limit(20), out, mode="fused", n_buckets=4)
    with pytest.raises(ValueError, match="n_buckets"):
        run_job(spark, pages_df.limit(20), out, mode="fused", n_buckets=8)
    # same n_buckets still resumes cleanly (no-op)
    res = run_job(spark, pages_df.limit(20), out, mode="fused", n_buckets=4)
    assert res["rows_this_run"] == 0


def test_resume_rejects_changed_input(spark, pages_df, tmp_path):
    """Resuming the same out_dir over different input files would mix
    two corpora in one table. The manifest pins the input files (paths
    and sizes) and the mismatch must raise; a meta.json written before
    the input was pinned still resumes."""
    from ocr_poc_spark.sources.pages import read_pages

    a, b = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    pages_df.limit(20).write.parquet(a)
    pages_df.limit(30).write.parquet(b)
    out = str(tmp_path / "inp")
    run_job(spark, read_pages(spark, a), out, n_buckets=4)
    with pytest.raises(ValueError, match="input files"):
        run_job(spark, read_pages(spark, b), out, n_buckets=4)
    # the original input still resumes cleanly (no-op)
    res = run_job(spark, read_pages(spark, a), out, n_buckets=4)
    assert res["rows_this_run"] == 0

    with open(os.path.join(out, "_manifest", "meta.json"), "w") as fh:
        json.dump({"n_buckets": 4}, fh)
    res = run_job(spark, read_pages(spark, b), out, n_buckets=4)
    assert res["rows_this_run"] == 0


def test_cli_help_lists_only_the_three_stage_flags(capsys):
    from ocr_poc_spark.__main__ import main

    with pytest.raises(SystemExit) as exc:
        main(["--help"])
    assert exc.value.code == 0
    flags = set(
        re.findall(r"^  (?:-\w, )?(--[a-z][a-z-]*)", capsys.readouterr().out, re.M)
    )
    assert flags - {"--help"} == {
        "--input", "--out", "--buckets", "--buckets-per-pass", "--cpus",
        "--blocklist", "--robots", "--diff-against",
        "--dedup", "--dedup-clusters", "--curate", "--max-boiler-ratio",
        "--host-cap",
    }


def test_run_dedup_rejects_unknown_method_before_any_io(spark, tmp_path):
    from ocr_poc_spark.plans.job import run_dedup

    out = tmp_path / "none"
    with pytest.raises(ValueError, match="simhash"):
        run_dedup(spark, str(out), method="simhash")
    assert not out.exists()


def test_incremental_diff_job_extracts_only_changed(spark, pages_df, tmp_path):
    """The --diff-against wiring: changed_slice(old, new) over html bytes
    feeds run_job, so a rolling crawl processes only changed/added pages
    — and their extracted rows byte-match a full run on the new snapshot."""
    import pyspark.sql.functions as F

    from ocr_poc_spark.operators.crawl import changed_slice
    from ocr_poc_spark.plans.job import run_job

    old = pages_df
    grp = F.crc32(F.col("url")) % 5
    changed = old.where(grp == 0).withColumn(
        "html", F.concat("html", F.lit(bytearray(b"<!-- recrawl v2 -->")))
    )
    kept = old.where((grp != 0) & (grp != 1))  # grp==1 urls: deleted
    added = old.where(grp == 1).limit(5).select(
        F.concat(F.lit("https://recrawl.example/"), F.col("url")).alias("url"),
        "warc_ts", "html", "text", "lang",
    )
    new = kept.unionByName(changed).unionByName(added)

    work = changed_slice(old, new, content_col="html")
    expect_urls = {r["url"] for r in changed.select("url").collect()} | {
        r["url"] for r in added.select("url").collect()
    }
    assert {r["url"] for r in work.select("url").collect()} == expect_urls

    inc_dir, full_dir = str(tmp_path / "inc"), str(tmp_path / "full")
    s = run_job(spark, work, inc_dir, mode="fused", n_buckets=2)
    assert s["rows_this_run"] == len(expect_urls)
    run_job(spark, new, full_dir, mode="fused", n_buckets=2)

    inc = _read_sorted(spark, inc_dir + "/extracted")
    full = [
        t for t in _read_sorted(spark, full_dir + "/extracted")
        if t[0] in expect_urls
    ]
    assert inc == full
