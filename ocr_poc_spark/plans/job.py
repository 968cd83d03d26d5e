"""The three stages: extraction (``run_job``: pages -> extracted +
lineage, resumable), then MinHash dedup (``run_dedup``) and curation
(``run_curate``) over the extracted corpus.

One physical strategy: ONE Arrow-batched mapInPandas stage runs parse +
cascade per document (``extract_fused`` over ``extractor.extract_document``)
— a map-only plan with zero shuffles. At 10^12 documents this scales
linearly with executors: no exchange, no skew-sensitive key, partition
count = input splits. A map-only input with fewer splits than the
session's default parallelism (one large file, say) is first
repartitioned by url hash to that parallelism, so every core gets work
and long-tail page sizes spread evenly.

Resumability (north_star: "checkpoint manifest enabling idempotent
resume of failed partitions"): work is split into url-hash BUCKETS
(restartable units). A pass over pending buckets is one Spark job (two
after a repartition): the extracted write under bucket=K directories,
which also counts each bucket's docs and successes (``observe``). Then,
per bucket, the Spark driver writes its lineage row and manifest entry.
A crash before a bucket's manifest entry leaves it pending, so the rerun
replaces its extracted and lineage directories — same final tables
(asserted by tests/test_job_resume.py). ``meta.json`` pins
``n_buckets`` and the input files, so a bucket gets the same rows on
every task attempt and the observed counts equal the rows on disk
(Spark applies a result stage's accumulator updates once per partition).
The reference's analogue is the 3-retry REST policy (README_API.md:52)
— per-request retry becomes per-bucket restart.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from ..operators.lineage import write_lineage_row
from ..operators.textstats import lang_guess_expr
from ..schemas import EXTRACTED_SCHEMA


def _fused_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from ocr_poc_spark.extractor import extract_document

    columns = [f.name for f in EXTRACTED_SCHEMA.fields]
    for pdf in batches:
        rows: list[dict] = []
        for url, payload in zip(pdf["url"], pdf["html"]):
            r = extract_document(url, bytes(payload) if payload is not None else b"")
            # one column per ALL_FIELDS entry (r.fields holds every one)
            d = {**r.fields, **vars(r)}
            d["spans"] = [{"field": f, "start": s, "end": e} for f, s, e in r.spans]
            rows.append(d)
        yield pd.DataFrame(rows, columns=columns)


def extract_fused(pages: DataFrame) -> DataFrame:
    """Zero-shuffle extraction: (url, html) -> EXTRACTED_SCHEMA."""
    return pages.select("url", "html").mapInPandas(_fused_batches, EXTRACTED_SCHEMA)


# ---------------------------------------------------------------------------
# Bucketed, manifest-checkpointed job runner.
# ---------------------------------------------------------------------------
def _manifest_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def completed_buckets(out_dir: str) -> set[int]:
    mdir = _manifest_dir(out_dir)
    if not os.path.isdir(mdir):
        return set()
    done = set()
    for name in os.listdir(mdir):
        if name.startswith("bucket_") and name.endswith(".json"):
            done.add(int(name[len("bucket_"):-len(".json")]))
    return done


def _commit_bucket(
    out_dir: str, run_id: str, bucket: int, n_docs: int, n_ok: int, secs: float
) -> None:
    """Commit one bucket from the Spark driver: its lineage row, then its
    manifest entry, the atomic step that marks it done."""
    write_lineage_row(os.path.join(out_dir, "lineage"), run_id, bucket, n_docs, n_ok, secs)
    mdir = _manifest_dir(out_dir)
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".bucket_{bucket}.tmp")
    with open(tmp, "w") as fh:
        json.dump({"run_id": run_id, "bucket": bucket, "n_rows": n_docs, "secs": secs}, fh)
    os.replace(tmp, os.path.join(mdir, f"bucket_{bucket}.json"))  # atomic commit


def _input_fingerprint(spark: SparkSession, pages: DataFrame) -> list[list]:
    """Sorted [path, size] of every file ``pages`` reads, from the
    driver's file listing (no Spark job); empty for in-memory frames."""
    conf = spark._jsc.hadoopConfiguration()  # type: ignore[union-attr]
    hadoop_path = spark._jvm.org.apache.hadoop.fs.Path  # type: ignore[union-attr]
    out = []
    for uri in pages.inputFiles():
        path = hadoop_path(uri)
        out.append([uri, path.getFileSystem(conf).getFileStatus(path).getLen()])
    return sorted(out)


def _shuffles(pages: DataFrame) -> bool:
    """Whether ``pages``' plan shuffles (a --diff-against slice, a
    --robots join). AQE fixes such a plan's partition count only by
    running its shuffles, so run_job does not ask it for one and leaves
    it as it is."""
    plan = pages._jdf.queryExecution().executedPlan()
    return plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec"


def run_job(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    mode: str = "fused",
    n_buckets: int = 8,
    buckets_per_pass: int | None = None,
    fail_after_passes: int | None = None,
) -> dict:
    """Run (or resume) the extraction job. Returns summary stats.

    mode: only ``"fused"`` exists; the keyword is kept for callers that
    still pass it.
    fail_after_passes: test hook — raise after N committed passes to
    simulate a mid-job crash for the resume test.

    The per-bucket counts cost about 0.5 core-us per row at 8 buckets per
    pass, growing with the buckets per pass (17 at 256; 4-core probe).
    """
    if mode != "fused":
        raise ValueError(mode)
    # Checked before anything is written: a bad n_buckets pinned in
    # meta.json would make every later correct run on out_dir refuse.
    for name, value in (
        ("n_buckets", n_buckets),
        ("buckets_per_pass", buckets_per_pass),
    ):
        if value is not None and value < 1:
            raise ValueError(f"{name} must be >= 1, got {value}")
    run_id = uuid.uuid4().hex[:12]
    buckets_per_pass = buckets_per_pass or n_buckets
    ext_dir = os.path.join(out_dir, "extracted")
    lin_dir = os.path.join(out_dir, "lineage")

    # Resume guard: bucket membership is pmod(hash, n_buckets), so
    # resuming the same out_dir with a DIFFERENT n_buckets would
    # re-extract documents into new bucket partitions while their old
    # partitions still exist — silent duplication. Resuming over
    # different input files would mix two corpora in one table. Pin both
    # in the manifest and refuse a mismatch; a meta.json written before
    # the input was pinned has no "inputs" key and skips that check.
    meta_path = os.path.join(_manifest_dir(out_dir), "meta.json")
    inputs = _input_fingerprint(spark, pages)
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        if meta.get("n_buckets") != n_buckets:
            raise ValueError(
                f"out_dir was written with n_buckets={meta.get('n_buckets')}; "
                f"resuming with n_buckets={n_buckets} would duplicate "
                "documents across bucket partitions. Use the original value "
                "or a fresh out_dir."
            )
        if "inputs" in meta and meta["inputs"] != inputs:
            raise ValueError(
                "out_dir was written from different input files (paths or "
                "sizes differ from the ones pinned in meta.json); resuming "
                "would mix two corpora in one table. Use the original input "
                "or a fresh out_dir."
            )
    else:
        os.makedirs(_manifest_dir(out_dir), exist_ok=True)
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"n_buckets": n_buckets, "inputs": inputs}, fh)
        os.replace(tmp, meta_path)

    pending = sorted(set(range(n_buckets)) - completed_buckets(out_dir))
    passes = [
        pending[i : i + buckets_per_pass]
        for i in range(0, len(pending), buckets_per_pass)
    ]

    # One bucket expression both selects a pass's pages and stamps the
    # rows it writes.
    bucket = F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    bucketed = pages.withColumn("bucket", bucket)
    # A map-only input with fewer splits than cores (one large file, say)
    # is spread over every core by url hash (SURVEY.md §4 — explicit
    # repartition, not a Catalyst concern); every other input keeps its
    # plan.
    cores = spark.sparkContext.defaultParallelism
    if not _shuffles(pages) and pages.rdd.getNumPartitions() < cores:
        bucketed = bucketed.repartition(cores, F.xxhash64("url"))

    total_rows = 0
    t_start = time.monotonic()
    for i, batch in enumerate(passes):
        if fail_after_passes is not None and i >= fail_after_passes:
            raise RuntimeError("injected failure (test hook)")
        t0 = time.monotonic()
        part = bucketed.where(F.col("bucket").isin(batch))
        ext = extract_fused(part).withColumn("bucket", bucket)
        # Language verification column (textstats operator over the
        # kernel's body_text / raw_text).
        ext = ext.withColumn(
            "lang_guess", lang_guess_expr(F.coalesce("body_text", "raw_text"))
        )
        # Each bucket's doc and success counts, taken by the write job.
        obs, aggs = Observation(), []
        for b in batch:
            in_b = F.col("bucket") == b
            aggs += [
                F.count_if(in_b).alias(f"n_{b}"),
                F.count_if(in_b & F.col("success")).alias(f"ok_{b}"),
            ]
        ext.observe(obs, *aggs).write.mode("overwrite").partitionBy("bucket").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(ext_dir)
        counts = obs.get
        secs = time.monotonic() - t0
        for b in batch:
            _commit_bucket(out_dir, run_id, b, counts[f"n_{b}"], counts[f"ok_{b}"], secs)
            total_rows += counts[f"n_{b}"]

    return {
        "run_id": run_id,
        "mode": mode,
        "n_buckets": n_buckets,
        "passes": len(passes),
        "rows_this_run": total_rows,
        "secs": time.monotonic() - t_start,
        "extracted_dir": ext_dir,
        "lineage_dir": lin_dir,
    }


def write_counted(df: DataFrame, path: str, *counts) -> list[int]:
    """Overwrite ``path`` with ``df``; return its row count and the
    aggregate ``counts`` as that same write job took them (``observe``:
    no read-back job)."""
    aggs = [F.count(F.lit(1)), *counts]
    obs = Observation()
    df.observe(obs, *(c.alias(f"c{i}") for i, c in enumerate(aggs))).write.mode(
        "overwrite"
    ).parquet(path)
    return [obs.get[f"c{i}"] for i in range(len(aggs))]


def _curation_docs(spark: SparkSession, out_dir: str) -> DataFrame:
    """The doc frame both post-extraction stages (``run_dedup`` and
    ``run_curate``) consume: successful docs with a body, ONE row per url.

    Re-crawled corpora legitimately carry the same url on several
    extracted rows; per-doc operators (stats joins, short-doc union
    branches, pair dedup) all assume distinct ids, so duplicates are
    collapsed here to a deterministic representative (lowest body
    hash) via min_by aggregation — map-side partial aggregation ships
    at most one candidate body per (url, input split) through the one
    exchange, unlike a window, which would shuffle every copy."""
    ext = spark.read.parquet(os.path.join(out_dir, "extracted"))
    docs = ext.where(
        F.col("success") & F.col("body_text").isNotNull()
    ).select(
        F.col("url").alias("doc_id"),
        F.col("body_text").alias("text"),
    )
    return docs.groupBy("doc_id").agg(
        F.expr("min_by(text, md5(text))").alias("text"),
    )


def run_dedup(
    spark: SparkSession,
    out_dir: str,
    jaccard_threshold: float = 0.8,
    method: str = "minhash",
    clusters: bool = False,
) -> dict:
    """Post-extraction near-duplicate pass over the extracted corpus
    -> <out>/dup_pairs parquet: MinHash+LSH banding verified by exact
    shingle Jaccard >= jaccard_threshold.

    method: only ``"minhash"`` exists; the keyword is kept for callers
    that still pass it.

    clusters=True additionally resolves the pair list into duplicate
    components (transitive closure: "A~B, B~C" collapses even when A~C
    was never emitted) -> <out>/dup_components parquet with one row per
    paired url (doc_id, component_id, keeper) where keeper marks the
    component's minimum url — the row a training pipeline retains."""
    if method != "minhash":
        raise ValueError(method)
    from ..operators.dedup import connected_components, minhash_lsh_pairs

    docs = _curation_docs(spark, out_dir)
    pairs = minhash_lsh_pairs(docs, jaccard_threshold=jaccard_threshold)
    dup_dir = os.path.join(out_dir, "dup_pairs")
    (n_pairs,) = write_counted(pairs, dup_dir)
    out = {"dup_pairs": n_pairs, "dup_dir": dup_dir, "dedup_method": method}
    if clusters:
        comp_dir = os.path.join(out_dir, "dup_components")
        # Read the written pairs with their known schema: no inference job.
        comp = connected_components(
            spark.read.schema(pairs.schema).parquet(dup_dir)
        ).withColumn("keeper", F.col("doc_id") == F.col("component_id"))
        # A component has exactly one keeper row (its doc_id is the
        # component_id), so keepers count components: observe rejects
        # DISTINCT aggregates.
        n_docs, n_comps = write_counted(comp, comp_dir, F.count_if("keeper"))
        out.update(dup_component_docs=n_docs, dup_components=n_comps,
                   dup_components_dir=comp_dir)
    return out


def run_curate(
    spark: SparkSession,
    out_dir: str,
    max_boiler_ratio: float = 0.5,
    max_per_host: int | None = None,
) -> dict:
    """Post-extraction keep-list pass: flag documents whose extracted
    body is mostly corpus-duplicated boilerplate, and optionally cap
    documents per host for domain balance -> <out>/curation parquet
    with one row per successful doc (doc_id, host, boiler stats,
    host_rank, kept). The host cap ranks ONLY boiler-passing docs, so a
    host's quota is filled by its clean documents — boilerplate-rejected
    rows stay in the list with a NULL host_rank, never consuming cap
    slots.

    Scale shape: the one-per-url collapse (_curation_docs) ships one
    representative body per url through one map-side-combined exchange;
    after that boilerplate_shingle_stats shuffles ids + 60-bit hashes
    only and the host cap ranks on (host, stable hash)."""
    from ..operators.curation import boilerplate_shingle_stats, host_rank

    # Unparseable URLs must not all compete for one NULL-host cap
    # bucket: fall back to the full url (each gets its own "host").
    docs = _curation_docs(spark, out_dir).withColumn(
        "host", F.coalesce(F.parse_url("doc_id", F.lit("HOST")), F.col("doc_id"))
    )
    cur = docs.select("doc_id", "host").join(
        boilerplate_shingle_stats(docs), "doc_id"
    )
    quality_ok = F.col("boiler_ratio") <= max_boiler_ratio
    passing = cur.where(quality_ok)
    failing = cur.where(~F.coalesce(quality_ok, F.lit(False))).withColumn(
        "host_rank", F.lit(None).cast("int")
    )
    if max_per_host is not None:
        passing = host_rank(passing)
        cap_ok = F.col("host_rank") <= max_per_host
    else:
        passing = passing.withColumn("host_rank", F.lit(1))
        cap_ok = F.lit(True)
    cur = passing.withColumn("kept", cap_ok).unionByName(
        failing.withColumn("kept", F.lit(False))
    )
    cur_dir = os.path.join(out_dir, "curation")
    n, n_kept = write_counted(cur, cur_dir, F.count_if("kept"))
    return {"curation_rows": n, "curation_kept": n_kept, "curation_dir": cur_dir}
