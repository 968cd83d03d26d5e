"""End-to-end extraction job: pages -> extracted + lineage, resumable.

One physical strategy: ONE Arrow-batched mapInPandas stage runs parse +
cascade per document (``extract_fused`` over ``extractor.extract_document``)
— a map-only plan with zero shuffles. At 10^12 documents this scales
linearly with executors: no exchange, no skew-sensitive key, partition
count = input splits after an optional url-hash repartition that balances
long-tail page sizes.

Resumability (north_star: "checkpoint manifest enabling idempotent
resume of failed partitions"): work is split into url-hash BUCKETS
(restartable units). A pass over pending buckets commits in this order:
the extracted write (once, under bucket=K directories, no persist) ->
one aggregate over the written (bucket, success) columns -> per bucket,
from the Spark driver, its lineage row (one per bucket, not a per-partition
pass) -> its manifest entry. A crash before a bucket's manifest entry
leaves it pending, so the rerun replaces its extracted and lineage
directories — same final tables (asserted by tests/test_job_resume.py).
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
from pyspark.sql import DataFrame, SparkSession

from ..operators.lineage import partition_metrics, write_lineage_row
from ..operators.textstats import lang_guess_expr
from ..schemas import EXTRACTED_SCHEMA


def _fused_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from ocr_poc_spark.extractor import ALL_FIELDS, extract_document

    for pdf in batches:
        rows: list[dict] = []
        for url, payload in zip(pdf["url"], pdf["html"]):
            try:
                r = extract_document(
                    url, bytes(payload) if payload is not None else b""
                )
            except Exception as e:
                # extract_document already isolates parser crashes; this
                # outer guard covers any residual kernel bug so one doc can
                # never fail a whole task/bucket (typed contract as above).
                from ocr_poc_spark.extractor import (
                    INTERNAL_ERROR_MSG_PREFIX,
                    ExtractResult,
                )

                r = ExtractResult(
                    url=url, doc_kind=f"error/{type(e).__name__}",
                    success=False,
                    message=INTERNAL_ERROR_MSG_PREFIX + type(e).__name__,
                    quality_score=0.0, confidence=0.0, raw_text="",
                    fields={f: None for f in ALL_FIELDS}, body_text=None,
                    n_blocks=0,
                )
            d = {
                "url": r.url,
                "doc_kind": r.doc_kind,
                "success": r.success,
                "message": r.message,
                "quality_score": r.quality_score,
                "confidence": r.confidence,
                "raw_text": r.raw_text,
                "body_text": r.body_text,
                "spans": [
                    {"field": f, "start": s, "end": e} for f, s, e in r.spans
                ],
                "anchors_detected": r.anchors_detected,
                "n_blocks": r.n_blocks,
            }
            for f in ALL_FIELDS:
                d[f] = r.fields.get(f)
            rows.append(d)
        yield pd.DataFrame(rows, columns=[f.name for f in EXTRACTED_SCHEMA.fields])


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


def run_job(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    mode: str = "fused",
    n_buckets: int = 8,
    buckets_per_pass: int | None = None,
    run_id: str | None = None,
    fail_after_passes: int | None = None,
    repartition: int | None = None,
) -> dict:
    """Run (or resume) the extraction job. Returns summary stats.

    mode: only ``"fused"`` exists; the keyword is kept for callers that
    still pass it.
    fail_after_passes: test hook — raise after N committed passes to
    simulate a mid-job crash for the resume test.
    """
    if mode != "fused":
        raise ValueError(mode)
    # Checked before anything is written: a bad n_buckets pinned in
    # meta.json would make every later correct run on out_dir refuse.
    for name, value in (
        ("n_buckets", n_buckets),
        ("buckets_per_pass", buckets_per_pass),
        ("repartition", repartition),
    ):
        if value is not None and value < 1:
            raise ValueError(f"{name} must be >= 1, got {value}")
    run_id = run_id or uuid.uuid4().hex[:12]
    buckets_per_pass = buckets_per_pass or n_buckets
    ext_dir = os.path.join(out_dir, "extracted")
    lin_dir = os.path.join(out_dir, "lineage")

    # Resume guard: bucket membership is pmod(hash, n_buckets), so
    # resuming the same out_dir with a DIFFERENT n_buckets would
    # re-extract documents into new bucket partitions while their old
    # partitions still exist — silent duplication. Pin n_buckets in the
    # manifest and refuse a mismatch.
    meta_path = os.path.join(_manifest_dir(out_dir), "meta.json")
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
    else:
        os.makedirs(_manifest_dir(out_dir), exist_ok=True)
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"n_buckets": n_buckets}, fh)
        os.replace(tmp, meta_path)

    pending = sorted(set(range(n_buckets)) - completed_buckets(out_dir))
    passes = [
        pending[i : i + buckets_per_pass]
        for i in range(0, len(pending), buckets_per_pass)
    ]

    # Long-tail page-size balance: spread documents uniformly by url hash
    # (SURVEY.md §4 — explicit repartition, not a Catalyst concern).
    bucketed = pages.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    )
    if repartition:
        bucketed = bucketed.repartition(repartition, F.xxhash64("url"))

    total_rows = 0
    t_start = time.monotonic()
    for i, batch in enumerate(passes):
        if fail_after_passes is not None and i >= fail_after_passes:
            raise RuntimeError("injected failure (test hook)")
        t0 = time.monotonic()
        part = bucketed.where(F.col("bucket").isin(batch))
        ext = extract_fused(part).withColumn(
            "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
        )
        # Language verification column (textstats operator over the
        # kernel's body_text / raw_text).
        ext = ext.withColumn(
            "lang_guess", lang_guess_expr(F.coalesce("body_text", "raw_text"))
        )
        ext.write.mode("overwrite").partitionBy("bucket").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(ext_dir)
        written = spark.read.schema("bucket int, success boolean").parquet(ext_dir)
        counts = {
            r["bucket"]: r
            for r in partition_metrics(
                written.where(F.col("bucket").isin(batch)), run_id
            ).collect()  # <= n_buckets rows — driver-side by design
        }
        secs = time.monotonic() - t0
        for b in batch:
            c = counts.get(b, {"n_docs": 0, "n_ok": 0})
            _commit_bucket(out_dir, run_id, b, c["n_docs"], c["n_ok"], secs)
            total_rows += c["n_docs"]

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


def _curation_docs(
    spark: SparkSession, out_dir: str, with_host: bool = False
) -> DataFrame:
    """The one post-extraction doc frame every curation stage consumes:
    successful docs with a body, ONE row per url.

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
        F.col("lang_guess"),
    )
    docs = docs.groupBy("doc_id").agg(
        F.expr("min_by(text, md5(text))").alias("text"),
        F.expr("min_by(lang_guess, md5(text))").alias("lang_guess"),
    )
    if with_host:
        # Unparseable URLs must not all compete for one NULL-host cap
        # bucket: fall back to the full url (each gets its own "host").
        docs = docs.withColumn(
            "host",
            F.coalesce(F.parse_url("doc_id", F.lit("HOST")), F.col("doc_id")),
        )
    return docs


def run_dedup(
    spark: SparkSession,
    out_dir: str,
    jaccard_threshold: float = 0.8,
    method: str = "minhash",
    max_hamming: int = 3,
    semantic_threshold: float = 0.92,
    clusters: bool = False,
    semantic_max_cluster: int | None = None,
) -> dict:
    """Post-extraction near-duplicate pass over the extracted corpus
    (training-data curation stage) -> <out>/dup_pairs parquet.

    method='minhash': MinHash+LSH banding verified by exact shingle
    Jaccard >= jaccard_threshold. method='simhash': 60-bit fingerprint
    banding with pigeonhole-exact recall at hamming <= max_hamming.
    method='semantic': SemDeDup — hashing-trick embeddings, k-means
    quantizer with k ~ sqrt(n) learned on the corpus, exact cosine
    pairs within clusters (cosine >= semantic_threshold; catches
    paraphrase-level duplication the token-overlap methods miss).

    clusters=True additionally resolves the pair list into duplicate
    components (transitive closure: "A~B, B~C" collapses even when A~C
    was never emitted) -> <out>/dup_components parquet with one row per
    paired url (doc_id, component_id, keeper) where keeper marks the
    component's minimum url — the row a training pipeline retains."""
    from ..operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
        simhash_near_pairs,
    )

    docs = _curation_docs(spark, out_dir)
    if method == "minhash":
        pairs = minhash_lsh_pairs(docs, jaccard_threshold=jaccard_threshold)
    elif method == "simhash":
        pairs = simhash_near_pairs(docs, max_hamming=max_hamming)
    elif method == "semantic":
        from ..operators.similarity import kmeans_centroids, semantic_near_pairs
        from ..operators.textstats import hash_embedding

        # One checkpoint: count, the k-means passes and BOTH sides of
        # the in-cluster pair self-join otherwise re-run the parquet
        # scan + tokenization + embedding fold (~4x the dominant cost).
        emb = hash_embedding(docs, dim=64).select(
            F.col("doc_id").alias("vec_id"), "embedding"
        ).localCheckpoint(eager=True)
        n = emb.count()
        k = max(8, int(n ** 0.5))
        # Honesty guard (similarity.py max_cluster_size): in-cluster
        # pair work is |c|^2/2, so a degenerate quantizer that dumps
        # the corpus into one cluster silently reintroduces the
        # all-pairs blowup clustering exists to avoid. Expected cluster
        # size is n/k; allow 8x that (plus a floor so tiny corpora with
        # naturally lumpy clusters don't trip) and FAIL the job beyond
        # it — the fix is a finer quantizer, not waiving the guard.
        # semantic_max_cluster overrides the formula (tests; operators
        # who know their corpus is lumpy set it consciously).
        cap = (
            semantic_max_cluster
            if semantic_max_cluster is not None
            else max(256, (8 * n) // k + 1)
        )
        cents = kmeans_centroids(
            emb, n_centroids=k, dim=64, n_iter=3
        )
        pairs = semantic_near_pairs(
            emb, cents, cosine_threshold=semantic_threshold,
            max_cluster_size=cap,
        ).select(
            F.col("id_a"), F.col("id_b"), F.round("cosine", 6).alias("cosine")
        )
    else:
        raise ValueError(method)
    dup_dir = os.path.join(out_dir, "dup_pairs")
    pairs.write.mode("overwrite").parquet(dup_dir)
    # Read-backs carry the written frame's schema: no inference job.
    written = spark.read.schema(pairs.schema).parquet(dup_dir)
    out = {"dup_pairs": written.count(), "dup_dir": dup_dir, "dedup_method": method}
    if clusters:
        comp_dir = os.path.join(out_dir, "dup_components")
        comp = connected_components(written).withColumn(
            "keeper", F.col("doc_id") == F.col("component_id")
        )
        comp.write.mode("overwrite").parquet(comp_dir)
        n_docs, n_comps = spark.read.schema(comp.schema).parquet(comp_dir).agg(
            F.count(F.lit(1)), F.count_distinct("component_id")
        ).first()
        out.update(
            {
                "dup_component_docs": n_docs,
                "dup_components": n_comps,
                "dup_components_dir": comp_dir,
            }
        )
    return out


def run_corpus_stats(spark: SparkSession, out_dir: str) -> dict:
    """Post-extraction corpus-quality pass (training-data curation):
    per-document repetition/shape signals + PII counts over the
    extracted body_text -> <out>/corpus_stats parquet. Linear, no
    shuffle beyond the scan and the one-per-url collapse."""
    from ..operators.textstats import repetition_stats, scrub_pii

    docs = _curation_docs(spark, out_dir)
    stats = repetition_stats(docs).join(
        scrub_pii(docs).drop("scrubbed"), "doc_id"
    )
    stats_dir = os.path.join(out_dir, "corpus_stats")
    stats.write.mode("overwrite").parquet(stats_dir)
    n = spark.read.parquet(stats_dir).count()
    # Corpus-health profile: per-language doc-length distribution
    # (t-digest approx_percentile — fixed memory per group at any
    # corpus size; textstats.corpus_quantiles). The dashboard row a
    # crawl operator actually watches for drift between snapshots.
    from ..operators.textstats import corpus_quantiles

    profile = corpus_quantiles(
        docs.select("lang_guess", F.length("text").alias("n_chars")),
        "n_chars",
        keys=["lang_guess"],
    )
    profile_dir = os.path.join(out_dir, "corpus_profile")
    profile.write.mode("overwrite").parquet(profile_dir)
    return {
        "corpus_stats_rows": n,
        "corpus_stats_dir": stats_dir,
        "corpus_profile_dir": profile_dir,
        "corpus_profile_rows": spark.read.parquet(profile_dir).count(),
    }


def run_curate(
    spark: SparkSession,
    out_dir: str,
    max_boiler_ratio: float = 0.5,
    max_per_host: int | None = None,
    max_ppl: float | None = None,
    gopher: bool = False,
    with_ppl: bool | None = None,
) -> dict:
    """Post-extraction keep-list pass (training-data curation): flag
    documents whose extracted body is mostly corpus-duplicated
    boilerplate, and optionally cap documents per host for domain
    balance -> <out>/curation parquet with one row per successful doc
    (url, host, boiler stats, host_rank, kept). The host cap ranks
    ONLY boiler-passing docs, so a host's quota is filled by its clean
    documents — boilerplate-rejected rows stay in the list with a NULL
    host_rank, never consuming cap slots.

    Scale shape: the one-per-url collapse (_curation_docs) ships one
    representative body per url through one map-side-combined exchange;
    after that boilerplate_shingle_stats shuffles ids + 60-bit hashes
    only and the host cap ranks on (host, stable hash).

    ``max_ppl``: optional CCNet-style fluency gate — drop docs whose
    self-trained bigram-LM perplexity (textstats.bigram_lm_scores)
    exceeds the threshold. Docs with no bigrams (< 2 tokens) have no
    defined perplexity and fail the gate when it is on (they carry no
    trainable signal anyway).

    ``with_ppl``: whether the ppl column is computed and carried on the
    keep-list. Default (None) = only when the gate is on: the bigram LM
    costs an explode + two corpus-wide aggregations + per-bigram joins,
    too expensive to run as a fixed display-only cost of every --curate
    (ADVICE r4). Pass True to train/carry it without gating (threshold
    tuning from one run); the column rides the schema either way, NULL
    when not computed.

    ``gopher=True``: also require the published Gopher rules
    (textstats.gopher_rules — word count/shape/symbol/bullet/alpha/
    stopword gates); the per-rule flags ride the keep-list as a
    `gopher_keep` column either way a caller could join on."""
    from ..operators.curation import boilerplate_shingle_stats, host_cap
    from ..operators.textstats import bigram_lm_scores, gopher_rules

    docs = _curation_docs(spark, out_dir, with_host=True)
    boiler = boilerplate_shingle_stats(docs)
    cur = (
        docs.select("doc_id", "host")
        .join(boiler, "doc_id")
        .join(
            gopher_rules(docs).select("doc_id", "gopher_keep"), "doc_id"
        )
    )
    if with_ppl is None:
        with_ppl = max_ppl is not None
    if max_ppl is not None and not with_ppl:
        raise ValueError("run_curate: max_ppl requires the ppl column")
    if with_ppl:
        lm = bigram_lm_scores(docs).select("doc_id", "ppl")
        cur = cur.join(lm, "doc_id", "left")
    else:
        cur = cur.withColumn("ppl", F.lit(None).cast("double"))
    quality_ok = F.col("boiler_ratio") <= max_boiler_ratio
    if gopher:
        quality_ok = quality_ok & F.col("gopher_keep")
    if max_ppl is not None:
        quality_ok = quality_ok & (F.col("ppl") <= max_ppl)
    passing = cur.where(quality_ok)
    failing = cur.where(~F.coalesce(quality_ok, F.lit(False))).withColumn(
        "host_rank", F.lit(None).cast("int")
    )
    if max_per_host is not None:
        passing = host_cap(passing, max_per_host, host_col="host", filter=False)
        cap_ok = F.col("host_rank") <= max_per_host
    else:
        passing = passing.withColumn("host_rank", F.lit(1))
        cap_ok = F.lit(True)
    cur = passing.withColumn("kept", cap_ok).unionByName(
        failing.withColumn("kept", F.lit(False))
    )
    cur_dir = os.path.join(out_dir, "curation")
    cur.write.mode("overwrite").parquet(cur_dir)
    n, n_kept = spark.read.schema(cur.schema).parquet(cur_dir).agg(
        F.count(F.lit(1)), F.count_if("kept")
    ).first()
    return {"curation_rows": n, "curation_kept": n_kept, "curation_dir": cur_dir}


def run_decontaminate(
    spark: SparkSession,
    out_dir: str,
    bench_path: str,
    n: int = 8,
    min_overlap: int = 1,
) -> dict:
    """Post-extraction eval-set decontamination: flag extracted docs
    sharing >= min_overlap distinct n-grams with the benchmark corpus
    (parquet with a `text` column) -> <out>/contamination parquet.

    The benchmark n-gram set is broadcast; the corpus shuffles once on
    doc id (see operators/curation.decontaminate)."""
    from ..operators.curation import decontaminate

    docs = _curation_docs(spark, out_dir)
    bench = spark.read.parquet(bench_path).select("text")
    res = decontaminate(docs, bench, n=n, min_overlap=min_overlap)
    res_dir = os.path.join(out_dir, "contamination")
    res.write.mode("overwrite").parquet(res_dir)
    persisted = spark.read.parquet(res_dir)
    n_rows = persisted.count()
    n_bad = persisted.where("contaminated").count()
    return {
        "contamination_rows": n_rows,
        "contaminated_docs": n_bad,
        "contamination_dir": res_dir,
    }


def run_sample(spark: SparkSession, out_dir: str, quotas: dict[str, float]) -> dict:
    """Post-extraction corpus-mixing pass: deterministically sample the
    extracted docs per verified language (`lang_guess`, written by
    run_job) at the given per-stratum rates -> <out>/sample parquet
    (url + lang_guess keep-list). Body-less or duplicate-url docs are
    excluded like every sibling stage (_curation_docs); reproducible
    under resume."""
    from ..operators.curation import stratified_sample

    docs = _curation_docs(spark, out_dir).select(
        F.col("doc_id").alias("url"), "lang_guess"
    )
    kept = stratified_sample(docs, quotas, strat_col="lang_guess", id_col="url")
    smp_dir = os.path.join(out_dir, "sample")
    kept.write.mode("overwrite").parquet(smp_dir)
    n = spark.read.parquet(smp_dir).count()
    return {"sample_rows": n, "sample_dir": smp_dir, "sample_quotas": quotas}


def run_temperature_sample(
    spark: SparkSession, out_dir: str, alpha: float = 0.5
) -> dict:
    """Corpus-mixing variant of run_sample with DERIVED rates: the
    XLM-R/mT5 temperature rule resamples so per-language probabilities
    follow p^alpha — rates come from the corpus's own language counts
    (rarest kept whole) instead of explicit quotas. Writes the same
    <out>/sample keep-list (url + lang_guess), so the two samplers are
    interchangeable downstream; __main__ makes the flags mutually
    exclusive rather than letting one silently overwrite the other."""
    from ..operators.curation import temperature_sample

    docs = _curation_docs(spark, out_dir).select(
        F.col("doc_id").alias("url"), "lang_guess"
    )
    kept = temperature_sample(
        docs, alpha=alpha, strat_col="lang_guess", id_col="url"
    )
    smp_dir = os.path.join(out_dir, "sample")
    kept.write.mode("overwrite").parquet(smp_dir)
    n = spark.read.parquet(smp_dir).count()
    return {"sample_rows": n, "sample_dir": smp_dir, "sample_alpha": alpha}


def run_split(
    spark: SparkSession,
    out_dir: str,
    splits: dict[str, float],
    by_host: bool = True,
) -> dict:
    """Post-extraction train/val/test assignment: deterministic
    md5-bucket splits of the extracted docs -> <out>/splits parquet
    (url, host, split). Keyed on the HOST by default (leakage-safe:
    near-dup pages within a site never straddle the train/test
    boundary — curation.split_corpus); by_host=False keys on the url
    for iid row-level splits. Map-only, reproducible under resume.
    Host = the SAME parse_url+url-fallback definition the --curate
    host cap uses (_curation_docs with_host) — two host definitions in
    one pipeline would let a doc be capped under one host and split
    under another, and the fallback stops every unparseable url from
    collapsing into a single fictitious '' host/split bucket."""
    from ..operators.curation import split_corpus

    docs = _curation_docs(spark, out_dir, with_host=True).select(
        F.col("doc_id").alias("url"), "host"
    )
    assigned = split_corpus(
        docs, splits, id_col="url", by="host" if by_host else None
    )
    sp_dir = os.path.join(out_dir, "splits")
    assigned.write.mode("overwrite").parquet(sp_dir)
    counts = {
        r["split"]: r["n"]
        for r in spark.read.parquet(sp_dir)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    return {"split_dir": sp_dir, "split_rows": counts}


def run_select(
    spark: SparkSession,
    out_dir: str,
    target_path: str,
    top_n: int,
    sample_seed: str | None = None,
) -> dict:
    """Post-extraction DSIR selection pass (operators/dsir.py): score
    every extracted doc's hashed-ngram importance weight against a
    TARGET exemplar corpus (parquet with a text column, like the
    --decontaminate benchmark input) and mark the top_n most
    target-like -> <out>/selection parquet (url, n_ngrams, logw,
    selected). The full weight table is kept (not just the cut) so the
    threshold can be re-drawn without re-scoring; --pack honors the
    selected flag via LEFT SEMI. Deterministic (rounded logw desc, url)
    cut; idempotent overwrite like every post-stage.

    ``sample_seed`` (CLI --select-seed) switches the cut from greedy
    top-n to the paper's Gumbel-top-k importance RESAMPLING: selection
    probability proportional to weight, noise drawn deterministically
    from the seed (dsir.dsir_resample) — a different seed is a fresh
    draw, the same seed reproduces exactly."""
    from ..operators.dsir import importance_weights

    docs = _curation_docs(spark, out_dir).select(
        F.col("doc_id"), F.col("text")
    )
    # Target identity is irrelevant to the model (only its n-gram
    # bucket counts are used), so no id column is manufactured.
    target = spark.read.parquet(target_path).select("text")
    w = importance_weights(docs, target, id_col="doc_id").localCheckpoint(
        eager=True
    )
    if sample_seed is not None:
        from ..functions.texthash import hash60

        u = (
            F.pmod(
                hash60(F.concat(F.lit(sample_seed), F.lit(":"), F.col("doc_id"))),
                F.lit(10000),
            )
            + F.lit(0.5)
        ) / F.lit(10000.0)
        key = F.round(F.col("logw") + (-F.log(-F.log(u))), 4)
        ranked = w.withColumn("_k", key).orderBy(F.desc("_k"), F.asc("doc_id"))
    else:
        ranked = w.orderBy(F.desc("logw"), F.asc("doc_id"))
    top = ranked.limit(top_n).select("doc_id", F.lit(True).alias("_sel"))
    sel = w.join(top, "doc_id", "left").select(
        F.col("doc_id").alias("url"),
        "n_ngrams",
        "logw",
        F.coalesce("_sel", F.lit(False)).alias("selected"),
    )
    sel_dir = os.path.join(out_dir, "selection")
    sel.write.mode("overwrite").parquet(sel_dir)
    out = spark.read.parquet(sel_dir)
    return {
        "selection_dir": sel_dir,
        "selection_rows": out.count(),
        "selection_kept": out.where("selected").count(),
    }


def run_quality(
    spark: SparkSession,
    out_dir: str,
    target_path: str,
) -> dict:
    """Post-extraction quality-classifier pass (operators/classifier.py,
    the GPT-3 recipe): train a hashed Naive Bayes model with the TARGET
    exemplar corpus (parquet with a text column — curated text worth
    imitating) as the positive class and the extracted corpus itself as
    the negative class, then score every extracted doc and keep
    positives plus the deterministic soft-acceptance sliver ->
    <out>/quality parquet (url, n_terms, score, keep). The model is
    persisted too (<out>/quality_model, one row per bucket) so a later
    crawl can be scored without retraining. --pack honors the keep flag
    via LEFT SEMI (_packable_docs). Idempotent overwrite."""
    from ..operators.classifier import nb_score, nb_train

    docs = _curation_docs(spark, out_dir).select(
        F.col("doc_id"), F.col("text")
    )
    # nb_train never touches an id column (class counts only), so the
    # id-less target frame is fine as-is.
    target = spark.read.parquet(target_path).select("text")
    model = nb_train(target, docs)
    model_dir = os.path.join(out_dir, "quality_model")
    model.write.mode("overwrite").parquet(model_dir)
    model = spark.read.parquet(model_dir)
    scored = nb_score(docs, model).select(
        F.col("doc_id").alias("url"), "n_terms", "score", "keep"
    )
    q_dir = os.path.join(out_dir, "quality")
    scored.write.mode("overwrite").parquet(q_dir)
    out = spark.read.parquet(q_dir)
    return {
        "quality_dir": q_dir,
        "quality_model_dir": model_dir,
        "quality_rows": out.count(),
        "quality_kept": out.where("keep").count(),
    }


def run_span_dedup(
    spark: SparkSession,
    out_dir: str,
    span_tokens: int = 50,
    min_count: int = 2,
) -> dict:
    """Span-level exact substring dedup stage (Lee et al. 2022; see
    curation.dedup_spans): rewrite every extracted document with
    non-first occurrences of corpus-duplicated >= span_tokens-token
    spans removed -> <out>/span_dedup parquet (doc_id, text_clean,
    n_tokens, n_removed). Inside the operator only (hash, id, pos)
    rows cross exchanges; the output parquet carries the rewritten
    bodies, which a following --pack substitutes for the raw text
    (see run_pack). Overwrite-idempotent like every post-stage."""
    from ..operators.curation import dedup_spans

    docs = _curation_docs(spark, out_dir)
    out = dedup_spans(
        docs, id_col="doc_id", text_col="text",
        span_tokens=span_tokens, min_count=min_count,
    )
    sd_dir = os.path.join(out_dir, "span_dedup")
    out.write.mode("overwrite").parquet(sd_dir)
    res = spark.read.parquet(sd_dir)
    agg = res.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("n_removed") > 0).cast("long")).alias("affected"),
        F.sum("n_removed").alias("removed"),
    ).first()
    return {
        "span_dedup_dir": sd_dir,
        "span_dedup_docs": agg["n"],
        "span_dedup_affected": int(agg["affected"] or 0),
        "span_dedup_removed_tokens": int(agg["removed"] or 0),
        "span_dedup_tokens": span_tokens,
    }


def run_decontaminate_spans(
    spark: SparkSession,
    out_dir: str,
    bench_path: str,
    span_tokens: int = 8,
) -> dict:
    """Surgical decontamination stage: rewrite every extracted doc with
    benchmark-verbatim >= span_tokens-token windows excised ->
    <out>/decon_spans parquet (doc_id, text_clean, n_tokens,
    n_removed); see curation.decontaminate_spans. Feeds on the
    span-rewritten bodies when --span-dedup already ran (same
    substitution rule as _packable_docs), so the two rewrites compose
    in a fixed order: corpus dedup first, benchmark excision second.
    A following --pack substitutes text_clean for the raw body.
    Overwrite-idempotent like every post-stage."""
    from ..operators.curation import decontaminate_spans

    docs = _curation_docs(spark, out_dir)
    sd_dir = os.path.join(out_dir, "span_dedup")
    if os.path.isdir(sd_dir):
        rewritten = spark.read.parquet(sd_dir).select("doc_id", "text_clean")
        docs = docs.join(rewritten, "doc_id").select(
            "doc_id", F.col("text_clean").alias("text"), "lang_guess"
        )
    bench = spark.read.parquet(bench_path).select("text")
    out = decontaminate_spans(
        docs, bench, id_col="doc_id", text_col="text",
        span_tokens=span_tokens,
    )
    ds_dir = os.path.join(out_dir, "decon_spans")
    out.write.mode("overwrite").parquet(ds_dir)
    res = spark.read.parquet(ds_dir)
    agg = res.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("n_removed") > 0).cast("long")).alias("affected"),
        F.sum("n_removed").alias("removed"),
    ).first()
    return {
        "decon_spans_dir": ds_dir,
        "decon_spans_docs": agg["n"],
        "decon_spans_affected": int(agg["affected"] or 0),
        "decon_spans_removed_tokens": int(agg["removed"] or 0),
        "decon_spans_tokens": span_tokens,
    }


def run_frontier(
    spark: SparkSession,
    out_dir: str,
    per_host: int = 1,
) -> dict:
    """Crawl-scheduling stage: assign every extracted url a politeness
    wave (crawl_frontier) -> <out>/frontier parquet (url, host,
    priority, slot, wave). Priority is per-host churn when
    --diff-against wrote <out>/crawl_churn in this or an earlier run
    (recrawl fast-churning hosts first), else the host's document
    count (crawl big hosts first). Overwrite-idempotent."""
    from pyspark.errors import AnalysisException

    from ..operators.crawl import crawl_frontier
    from ..operators.hoststats import host_of

    try:
        ext = spark.read.parquet(os.path.join(out_dir, "extracted"))
    except AnalysisException as e:
        # a zero-page crawl commits no parquet parts: an empty frontier
        # summary, not a schema-inference crash
        if "UNABLE_TO_INFER_SCHEMA" not in str(e) and "PATH_NOT_FOUND" not in str(e):
            raise
        fr_dir = os.path.join(out_dir, "frontier")
        # keep the stage's output contract: frontier_dir is always a
        # readable (possibly empty) parquet table
        spark.createDataFrame(
            [],
            "url string, host string, priority double, slot int, wave int",
        ).write.mode("overwrite").parquet(fr_dir)
        return {
            "frontier_dir": fr_dir,
            "frontier_urls": 0,
            "frontier_waves": 0,
            "frontier_priority": "none",
            "frontier_per_host": per_host,
        }
    urls = ext.select("url")
    churn_dir = os.path.join(out_dir, "crawl_churn")
    if os.path.isdir(churn_dir):
        pr = spark.read.parquet(churn_dir).select(
            "host", F.col("churn").alias("priority")
        )
        pr_source = "crawl_churn"
    else:
        pr = urls.groupBy(host_of("url").alias("host")).agg(
            F.count(F.lit(1)).cast("double").alias("priority")
        )
        pr_source = "host_doc_count"
    out = crawl_frontier(urls, priority=pr, per_host=per_host)
    fr_dir = os.path.join(out_dir, "frontier")
    out.write.mode("overwrite").parquet(fr_dir)
    res = spark.read.parquet(fr_dir)
    max_wave = res.agg(F.max("wave")).first()[0]
    return {
        "frontier_dir": fr_dir,
        "frontier_urls": res.count(),
        # empty frontier (nothing extracted) => no waves, not a crash
        "frontier_waves": 0 if max_wave is None else max_wave + 1,
        "frontier_priority": pr_source,
        "frontier_per_host": per_host,
    }


def run_ccnet(spark: SparkSession, out_dir: str) -> dict:
    """CCNet quality-bucket stage: per-language ppl-rank terciles over
    the extracted docs (textstats.ccnet_buckets, stratified by the
    verified lang_guess) -> <out>/ccnet_buckets parquet (doc_id, lang,
    ppl, bucket). A following --pack drops the tail bucket (CCNet's
    rule: head+middle train, tail is cut). Docs without an LM row
    (< 2 tokens) get no bucket row and are NOT dropped by pack — only
    an explicit 'tail' label cuts a doc. Overwrite-idempotent."""
    from ..operators.textstats import ccnet_buckets

    docs = _curation_docs(spark, out_dir)
    out = ccnet_buckets(docs, strat_col="lang_guess")
    cb_dir = os.path.join(out_dir, "ccnet_buckets")
    out.write.mode("overwrite").parquet(cb_dir)
    res = spark.read.parquet(cb_dir)
    counts = {
        r["bucket"]: r["n"]
        for r in res.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    return {
        "ccnet_dir": cb_dir,
        "ccnet_head": int(counts.get("head", 0)),
        "ccnet_middle": int(counts.get("middle", 0)),
        "ccnet_tail": int(counts.get("tail", 0)),
    }


def _packable_docs(spark: SparkSession, out_dir: str):
    """The doc set the training-data stages feed on: _curation_docs
    composed with every sibling keep-list that ran before — span-
    rewritten bodies (--span-dedup), the curation keep-list (--curate),
    duplicate-component losers (--dedup-clusters), and the DSIR
    selection (--select-target). Shared by run_pack and run_shards so
    "what gets packed" and "what gets sharded" can never drift apart.
    All filters are LEFT SEMI / LEFT ANTI on the url — ids only, never
    bodies. Returns (docs, applied_filter_names)."""
    docs = _curation_docs(spark, out_dir)
    filters = []
    sd_dir = os.path.join(out_dir, "span_dedup")
    ds_dir = os.path.join(out_dir, "decon_spans")
    if os.path.isdir(sd_dir) and not os.path.isdir(ds_dir):
        # --span-dedup ran: substitute the span-rewritten bodies for
        # the raw text so packed sequences never carry a non-first
        # occurrence of a corpus-duplicated span. Inner join — the
        # span stage emits one row per curation doc by construction,
        # and a doc whose text was fully removed still packs its ''
        # (zero chunks) rather than leaking the raw body. Skipped when
        # decon_spans exists: its text_clean was computed FROM the
        # span-rewritten bodies (run_decontaminate_spans), so joining
        # both would be a dead extra shuffle.
        rewritten = spark.read.parquet(sd_dir).select(
            "doc_id", F.col("text_clean")
        )
        docs = docs.join(rewritten, "doc_id").select(
            "doc_id", F.col("text_clean").alias("text"), "lang_guess"
        )
        filters.append("span_dedup")
    if os.path.isdir(ds_dir):
        # --decontaminate-spans ran: its text_clean was computed FROM
        # the span-rewritten bodies when both stages ran (see
        # run_decontaminate_spans), so substituting it here subsumes
        # the span_dedup substitution above — but the span rewrite is
        # still IN EFFECT, so it must still appear in the provenance
        # record (filters) even though its join is skipped.
        if os.path.isdir(sd_dir):
            filters.append("span_dedup")
        rewritten = spark.read.parquet(ds_dir).select(
            "doc_id", F.col("text_clean")
        )
        docs = docs.join(rewritten, "doc_id").select(
            "doc_id", F.col("text_clean").alias("text"), "lang_guess"
        )
        filters.append("decon_spans")
    cur_dir = os.path.join(out_dir, "curation")
    if os.path.isdir(cur_dir):
        keep = spark.read.parquet(cur_dir).where("kept").select("doc_id")
        docs = docs.join(keep, "doc_id", "left_semi")
        filters.append("curation")
    comp_dir = os.path.join(out_dir, "dup_components")
    if os.path.isdir(comp_dir):
        losers = spark.read.parquet(comp_dir).where("NOT keeper").select(
            F.col("doc_id")
        )
        docs = docs.join(losers, "doc_id", "left_anti")
        filters.append("dedup_keepers")
    sel_dir = os.path.join(out_dir, "selection")
    if os.path.isdir(sel_dir):
        chosen = spark.read.parquet(sel_dir).where("selected").select(
            F.col("url").alias("doc_id")
        )
        docs = docs.join(chosen, "doc_id", "left_semi")
        filters.append("dsir_selection")
    cb_dir = os.path.join(out_dir, "ccnet_buckets")
    if os.path.isdir(cb_dir):
        # --ccnet ran: CCNet's rule — head+middle train, tail is cut.
        # LEFT ANTI on the explicit 'tail' labels only, so bucket-less
        # docs (< 2 tokens, no LM row) are NOT silently dropped.
        tail = spark.read.parquet(cb_dir).where(
            F.col("bucket") == "tail"
        ).select("doc_id")
        docs = docs.join(tail, "doc_id", "left_anti")
        filters.append("ccnet_tail_drop")
    q_dir = os.path.join(out_dir, "quality")
    if os.path.isdir(q_dir):
        good = spark.read.parquet(q_dir).where("keep").select(
            F.col("url").alias("doc_id")
        )
        docs = docs.join(good, "doc_id", "left_semi")
        filters.append("quality_classifier")
    return docs, filters


def run_shards(
    spark: SparkSession,
    out_dir: str,
    shard_tokens: int,
    seed: str = "",
) -> dict:
    """Training-order pass: deterministically shuffle the kept docs and
    cut token-balanced shards -> <out>/shards parquet (url, pos,
    tok_offset, shard_id; curation.shuffle_shards). Feeds on the SAME
    filtered doc set as run_pack (_packable_docs), so the shard layout
    always describes exactly the corpus a trainer would read. Token
    counts are whitespace-word counts of the (possibly span-rewritten)
    body. Changing --shard-seed re-deals the order (a new epoch);
    re-runs with the same seed are idempotent."""
    from ..operators.curation import shuffle_shards

    docs, filters = _packable_docs(spark, out_dir)
    # Empty-word filter matters: split('') yields [''] (1 phantom
    # token), so a fully span-deduped doc would otherwise shift every
    # later tok_offset — diverging from chunk/pack, which count it 0.
    n_tokens = F.size(
        F.filter(
            F.split(F.lower(F.trim(F.coalesce("text", F.lit("")))), r"\s+"),
            lambda w: F.length(w) > 0,
        )
    )
    shards = shuffle_shards(
        docs.withColumn("n_tokens", n_tokens),
        shard_tokens=shard_tokens,
        seed=seed,
        id_col="doc_id",
    ).select(
        F.col("doc_id").alias("url"), "pos", "tok_offset", "shard_id"
    )
    sh_dir = os.path.join(out_dir, "shards")
    shards.write.mode("overwrite").parquet(sh_dir)
    out = spark.read.parquet(sh_dir)
    return {
        "shard_rows": out.count(),
        "shard_count": out.select("shard_id").distinct().count(),
        "shards_dir": sh_dir,
        "shard_seed": seed,
        "shard_filters": filters,
    }


def run_pack(
    spark: SparkSession,
    out_dir: str,
    seq_len: int = 2048,
    chunk_tokens: int = 512,
    chunk_stride: int = 512,
    tokenizer: str | None = None,
) -> dict:
    """Post-extraction training-sequence pass (the last mile of the
    training-data pipeline): chunk the curated docs and pack the chunks
    into fixed-length sequences -> <out>/packed parquet (one row per
    (sequence, piece) with boundary attribution; see
    curation.pack_sequences).

    Composes with the sibling stages: if a --curate keep-list exists
    (<out>/curation) only kept docs are packed; if --dedup-clusters ran
    (<out>/dup_components) non-keeper duplicates are dropped too. Both
    filters are LEFT SEMI / LEFT ANTI on the url — ids only, never
    bodies. ``tokenizer="subword"`` sizes budgets in greedy-subword
    tokens (functions/subword.py) instead of whitespace words.
    Overwrites its own output dir, so re-runs on a committed --out are
    idempotent like every post-stage."""
    from ..operators.curation import chunk_documents, pack_sequences

    docs, filters = _packable_docs(spark, out_dir)
    chunks = chunk_documents(
        docs, id_col="doc_id", text_col="text",
        chunk_tokens=chunk_tokens, stride=chunk_stride, tokenizer=tokenizer,
    )
    packed = pack_sequences(chunks, seq_len=seq_len, id_col="doc_id")
    packed_dir = os.path.join(out_dir, "packed")
    packed.write.mode("overwrite").parquet(packed_dir)
    out = spark.read.parquet(packed_dir)
    n_pieces = out.count()
    n_seqs = out.select("seq_id").distinct().count()
    return {
        "packed_pieces": n_pieces,
        "packed_sequences": n_seqs,
        "packed_dir": packed_dir,
        "packed_filters": filters,
        "packed_tokenizer": tokenizer or "whitespace",
    }
