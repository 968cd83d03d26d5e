"""The benchmark workloads, their output checks and per-layer probes.

Each workload generates its inputs from the seed (gen.py), runs one job
per `run` call and checks that job's outputs against the sequential
oracle and against invariants computed here in Python. Probes (traced
runs only) time single layers through their public functions and read
per-layer counts from the program's outputs.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from collections import Counter

import pyarrow.parquet as pq

from . import gen, oracle

FULL_PAGES = 3000
RECRAWL_PAGES = 2000
CORPUS_PAGES = 700
N_BUCKETS = 8
BUCKETS_PER_PASS = 2  # recrawl_resume: 4 passes, stopped after 2
JACCARD = 0.8  # run_dedup's default threshold
HOST_CAP_SHARE = 0.05  # run_curate host cap, as a share of the corpus

KINDS = ("html/article", "html/listing", "pdf/article", "pdf/listing", "binary/unknown")
MESSAGES = ("insufficient_quality", "empty_document", "unsupported_format")


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) under path."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


def read_extracted(out_dir: str) -> list[dict]:
    from ocr_poc_spark.extractor import ALL_FIELDS

    cols = ["url", "doc_kind", "success", "message", "body_text", "spans", *ALL_FIELDS]
    return pq.read_table(os.path.join(out_dir, "extracted"), columns=cols).to_pylist()


def check_extraction(out_dir: str, expected: dict[str, str]) -> tuple[int, list[str], list[dict]]:
    """Compare a run_job output directory with the oracle digests of
    exactly the expected urls; check lineage and manifest. Returns
    (failed documents, problems, rows)."""
    from ocr_poc_spark.extractor import ALL_FIELDS

    rows = read_extracted(out_dir)
    problems: list[str] = []
    seen: set[str] = set()
    failed = 0
    for r in rows:
        url = r["url"]
        got = oracle.row_digest(
            r["body_text"], [r[f] for f in ALL_FIELDS],
            [[s["field"], s["start"], s["end"]] for s in r["spans"] or []],
            r["success"], r["message"],
        )
        if url in seen or expected.get(url) != got or r["doc_kind"].startswith("error/"):
            failed += 1
        seen.add(url)
    missing = len(set(expected) - seen)
    failed += missing
    if failed:
        problems.append(f"{failed} documents missing, duplicated or differing from the oracle")
    lineage = pq.read_table(os.path.join(out_dir, "lineage"), columns=["n_docs"])
    n_lineage = sum(lineage.column("n_docs").to_pylist())
    if n_lineage != len(rows):
        problems.append(f"lineage SUM(n_docs)={n_lineage} != {len(rows)} rows")
    from ocr_poc_spark.plans.job import completed_buckets

    if completed_buckets(out_dir) != set(range(N_BUCKETS)):
        problems.append("manifest does not cover every bucket")
    return failed, problems, rows


def manifest_passes(out_dir: str) -> list[float]:
    """Seconds of each committed pass, from the manifest's secs field
    (every bucket of one pass carries the same run_id and secs)."""
    mdir = os.path.join(out_dir, "_manifest")
    seen = set()
    for name in os.listdir(mdir):
        if name.startswith("bucket_"):
            with open(os.path.join(mdir, name)) as fh:
                m = json.load(fh)
            seen.add((m["run_id"], m["secs"]))
    return [secs for _, secs in seen]


def shingles(text: str) -> set[str]:
    """operators.dedup.word_shingles in Python: lower(trim), split on
    whitespace, 3-word shingles."""
    words = text.strip().lower().split()
    return {" ".join(words[i:i + 3]) for i in range(len(words) - 2)}


def jaccard(a: set, b: set) -> float:
    union = len(a | b)
    return len(a & b) / union if union else 0.0


def components(pairs: list[tuple[str, str]]) -> dict[str, str]:
    """Union-find over pairs -> node: minimum node of its component."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def histogram(rows: list[dict]) -> dict[str, float]:
    kinds = Counter(r["doc_kind"] if r["doc_kind"] in KINDS else "other" for r in rows)
    msgs = Counter(
        "ok" if r["message"] is None
        else "internal_error" if r["message"].startswith("internal_error")
        else r["message"] if r["message"] in MESSAGES else "other"
        for r in rows
    )
    out = {f"extractor.kind.{k.replace('/', '_')}": kinds[k] for k in (*KINDS, "other")}
    out.update({f"extractor.msg.{m}": msgs[m] for m in ("ok", *MESSAGES, "internal_error", "other")})
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


class JobInput:
    """One job's generated input: the parquet dirs it reads, their bytes,
    the page rows, the (url, payload) pages the kernel sees, and their
    oracle digests."""

    def __init__(self, dirs: list[str], nbytes: int, rows: list[dict],
                 kernel: list[tuple[str, bytes]]):
        self.dirs, self.nbytes, self.rows, self.kernel = dirs, nbytes, rows, kernel
        self.expected: dict[str, str] = {}


class Workload:
    """Base: subclasses implement make_input() and run()."""

    name = ""
    # Untimed jobs before the window: the JVM compiles the plans' code
    # over the first jobs after set-up.
    warmup_jobs = 1
    pages_per_job = 0

    def __init__(self, seed: int, work: str, tracer, kernel, oracle_dir: str, key: str):
        self.seed, self.work, self.tr = seed, work, tracer
        self.kernel, self.oracle_dir, self.key = kernel, oracle_dir, key
        self.inp: JobInput | None = None  # input of the last job
        self.last_out = ""
        self.parts: dict[str, list[float]] = {}  # named job-time parts per job

    # -- inputs -----------------------------------------------------------
    def write(self, rows: list[dict], tag: str, name: str, n_files: int) -> tuple[str, int]:
        path = os.path.join(self.work, "in", tag, name)
        return path, gen.write_pages(rows, path, n_files, self.seed)

    def make_input(self, tag: str) -> JobInput:
        raise NotImplementedError

    def fresh_input(self, tag: str) -> JobInput:
        """A new input with oracle digests, replacing the last one. The
        kernel memoizes per block text in each worker, so a job re-run on
        pages a worker has seen would be faster than any real crawl."""
        if self.inp is not None:
            shutil.rmtree(os.path.dirname(self.inp.dirs[0]), ignore_errors=True)
        inp = self.make_input(tag)
        cache = os.path.join(self.oracle_dir, f"{self.name}-{self.seed}-{tag}-{self.key}.json")
        inp.expected = self.kernel.digests(inp.kernel, cache)
        self.inp = inp
        return inp

    # -- helpers ----------------------------------------------------------
    def read_pages(self, spark, path: str):
        from ocr_poc_spark.sources.pages import read_pages

        with self.tr.span("sources", "read_pages"):
            return read_pages(spark, path)

    def run_job(self, spark, pages, out_dir: str, **kw) -> dict:
        from ocr_poc_spark.plans.job import run_job

        with self.tr.span("job", "run_job"):
            return run_job(spark, pages, out_dir, mode="fused", n_buckets=N_BUCKETS, **kw)

    def new_out(self, i: int) -> str:
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = os.path.join(self.work, "out", f"{self.name}{i}")
        return self.last_out

    def job_pages(self, spark, inp: JobInput):
        """The DataFrame the job extracts from inp."""
        return self.read_pages(spark, inp.dirs[0])

    def prepare(self, spark) -> list[str]:
        """Untimed set-up that needs the session; returns problems."""
        return []

    def written(self) -> int:
        """Bytes the last job wrote."""
        return dir_usage(self.last_out)[1]

    def job_input_bytes(self) -> int:
        """Bytes of the files the last job read."""
        return self.inp.nbytes

    def extraction_out(self) -> str:
        """The run_job output the job.* and lineage probes read."""
        return self.last_out

    def extraction_job_s(self, job_s: float) -> float:
        """Wall seconds of the run_job that wrote extraction_out()."""
        return job_s

    # -- probes (traced runs) ----------------------------------------------
    def probes(self, spark, cores: int, job_s: float, probe: JobInput, kernel: list[list]) -> dict[str, float]:
        """Per-layer metrics. probe is an input no worker has seen, and
        kernel its timed kernel pass."""
        from ocr_poc_spark.operators.lineage import partition_metrics
        from ocr_poc_spark.plans.job import extract_fused

        m: dict[str, float] = {}
        tr = self.tr
        tr.run_id = "probe"
        inp = self.inp

        scan = 0.0
        for d in inp.dirs:
            with tr.span("sources", "scan"):
                scan += _timed(lambda d=d: _noop(self.read_pages(spark, d).select("url", "html")))
        m["sources.scan_s"] = scan
        m["sources.input_bytes"] = inp.nbytes

        parse_ms = [(r[5] - r[4]) * 1e3 for r in kernel]
        total_ms = [(r[6] - r[5]) * 1e3 for r in kernel]
        cascade_ms = [t - p for t, p in zip(total_ms, parse_ms)]
        m["textproc.parse_ms_p50"] = statistics.median(parse_ms)
        m["textproc.parse_ms_p99"] = statistics.quantiles(parse_ms, n=100)[98]
        m["textproc.blocks_per_doc"] = statistics.mean(r[7] for r in kernel)
        m["extractor.cascade_ms_p50"] = statistics.median(cascade_ms)
        m["extractor.cascade_ms_p99"] = statistics.quantiles(cascade_ms, n=100)[98]
        kernel_busy = sum(total_ms) / 1e3
        m["extractor.kernel_busy_s"] = kernel_busy

        out = self.extraction_out()
        rows = read_extracted(out)
        m["extractor.ok_ratio"] = sum(bool(r["success"]) for r in rows) / max(1, len(rows))
        m["extractor.error_docs"] = sum(r["doc_kind"].startswith("error/") for r in rows)
        m.update(histogram(rows))

        with tr.span("job", "extract_fused"):
            stage = _timed(lambda: _noop(extract_fused(self.job_pages(spark, probe))))
        m["job.extract_stage_s"] = stage
        m["job.kernel_share"] = kernel_busy / (cores * stage)
        m["job.commit_s"] = self.extraction_job_s(job_s) - stage
        passes = manifest_passes(out)
        m["job.pass_s_p50"] = statistics.median(passes)
        m["job.pass_s_max"] = max(passes)
        m["job.passes"] = len(passes)
        m["job.files_written"], m["job.bytes_written"] = dir_usage(out)

        ext = spark.read.parquet(os.path.join(out, "extracted")).persist()
        ext.count()
        with tr.span("lineage", "partition_metrics"):
            m["lineage.metrics_s"] = _timed(lambda: _noop(partition_metrics(ext, "probe")))
        ext.unpersist()
        m["lineage.rows"] = pq.read_table(os.path.join(out, "lineage")).num_rows

        m.update(self.recrawl_probe(spark, probe))
        m.update(self.dedup_probe(spark, out))
        m.update(self.curate_probe(spark, out))
        return m

    def stop_and_resume(self, spark, pages, out: str) -> tuple[float, float, list[str]]:
        """run_job over pages() in BUCKETS_PER_PASS-bucket passes, stopped
        half way by fail_after_passes, then resumed from the manifest.
        Returns (stopped call s, resuming call s, problems)."""
        problems = []
        t0 = time.perf_counter()
        try:
            self.run_job(spark, pages(), out, buckets_per_pass=BUCKETS_PER_PASS,
                         fail_after_passes=N_BUCKETS // BUCKETS_PER_PASS // 2)
            problems.append("the stopped job did not stop")
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        t1 = time.perf_counter()
        self.run_job(spark, pages(), out, buckets_per_pass=BUCKETS_PER_PASS)
        return t1 - t0, time.perf_counter() - t1, problems

    def snapshots(self, spark, probe: JobInput):
        """(old, new) page frames of a recrawl of the probe input: 10% of
        its pages changed, 3% deleted, 3% added."""
        new_rows, _ = gen.recrawl(self.seed, probe.rows, tag="probe-recrawl")
        path, _ = self.write(new_rows, "probe", "recrawl", 8)
        return self.read_pages(spark, probe.dirs[0]), self.read_pages(spark, path)

    def recrawl_probe(self, spark, probe: JobInput) -> dict[str, float]:
        """crawl.* and job.resume_s: changed_slice over a recrawl, then
        run_job in passes, stopped half way and resumed from the manifest."""
        from ocr_poc_spark.operators.crawl import changed_slice

        old, new = self.snapshots(spark, probe)
        with self.tr.span("crawl", "changed_slice"):
            t0 = time.perf_counter()
            n_work = changed_slice(old, new, content_col="html").count()
            diff_s = time.perf_counter() - t0
        _, resume_s, _ = self.stop_and_resume(
            spark, lambda: changed_slice(old, new, content_col="html"),
            os.path.join(self.work, "out", "probe-recrawl"),
        )
        return {
            "crawl.diff_s": diff_s,
            "crawl.work_ratio": n_work / new.count(),
            "job.resume_s": resume_s,
        }

    def dedup_probe(self, spark, out: str) -> dict[str, float]:
        import pyspark.sql.functions as F
        from ocr_poc_spark.operators.dedup import (
            connected_components,
            minhash_band_index,
            minhash_lsh_pairs,
        )

        tr = self.tr
        docs = (
            spark.read.parquet(os.path.join(out, "extracted"))
            .where(F.col("success") & F.col("body_text").isNotNull())
            .select(F.col("url").alias("doc_id"), F.col("body_text").alias("text"))
        )
        pairs_dir = os.path.join(self.work, "out", "probe-pairs")
        with tr.span("dedup", "minhash_lsh_pairs"):
            t0 = time.perf_counter()
            minhash_lsh_pairs(docs, jaccard_threshold=JACCARD).write.mode("overwrite").parquet(pairs_dir)
            minhash_s = time.perf_counter() - t0
        pairs = spark.read.parquet(pairs_dir)
        with tr.span("dedup", "connected_components"):
            components_s = _timed(lambda: _noop(connected_components(pairs)))
        with tr.span("dedup", "minhash_band_index"):
            index = minhash_band_index(docs).collect()
        buckets: dict[tuple, list[str]] = {}
        for r in index:
            buckets.setdefault((r["band"], r["sig"]), []).append(r["id"])
        cand = {(a, b) for ids in buckets.values() for a in ids for b in ids if a < b}
        verified = pairs.count()
        m = {
            "dedup.minhash_s": minhash_s,
            "dedup.components_s": components_s,
            "dedup.candidate_pairs": len(cand),
            "dedup.verified_pairs": verified,
            "dedup.verify_ratio": verified / max(1, len(cand)),
        }
        m.update(self.recall())
        return m

    def recall(self) -> dict[str, float]:
        """No injected pairs: recall is vacuously 1 over 0 eligible pairs."""
        return {"dedup.recall": 1.0, "dedup.eligible_pairs": 0}

    def curate_probe(self, spark, out: str) -> dict[str, float]:
        from ocr_poc_spark.plans.job import run_curate

        with self.tr.span("curation", "run_curate"):
            t0 = time.perf_counter()
            res = run_curate(spark, out, max_per_host=self.host_cap())
            curate_s = time.perf_counter() - t0
        return {
            "curation.curate_s": curate_s,
            "curation.kept_ratio": res["curation_kept"] / max(1, res["curation_rows"]),
        }

    def host_cap(self) -> int:
        return max(1, int(self.pages_per_job * HOST_CAP_SHARE))


class FullCrawl(Workload):
    """A fresh fused run_job over one new snapshot per job, in one pass."""

    name = "full_crawl"
    warmup_jobs = 3  # on eighth-size inputs: the plans warm per job, not per page
    pages_per_job = FULL_PAGES

    def make_input(self, tag: str) -> JobInput:
        n = FULL_PAGES // 8 if tag.startswith("w") else FULL_PAGES
        rows = gen.make_pages(self.seed, n, tag=tag)
        path, nbytes = self.write(rows, tag, "pages", 16)
        return JobInput([path], nbytes, rows, [(r["url"], r["html"]) for r in rows])

    def run(self, spark, i: int) -> tuple[float, int, int, list[str]]:
        """One job: (job_s, attempted, failed, problems); i < 0 is a
        warm-up job."""
        inp = self.fresh_input(f"w{-i}" if i < 0 else f"j{i}")
        out = self.new_out(i)
        pages = self.job_pages(spark, inp)
        t0 = time.perf_counter()
        self.run_job(spark, pages, out)
        job_s = time.perf_counter() - t0
        failed, problems, _ = check_extraction(out, inp.expected)
        return job_s, len(inp.expected), failed, problems


class RecrawlResume(Workload):
    """A second snapshot -> changed_slice -> run_job in two-bucket passes,
    stopped after half of them and resumed from the manifest."""

    name = "recrawl_resume"
    pages_per_job = RECRAWL_PAGES

    def make_input(self, tag: str) -> JobInput:
        old = gen.make_pages(self.seed, RECRAWL_PAGES, tag=tag)
        new, churn = gen.recrawl(self.seed, old, tag=f"{tag}r")
        old_dir, old_bytes = self.write(old, tag, "old", 8)
        new_dir, new_bytes = self.write(new, tag, "new", 8)
        work = set(churn["changed"]) | set(churn["added"])
        kernel = [(r["url"], r["html"]) for r in new if r["url"] in work]
        return JobInput([old_dir, new_dir], old_bytes + new_bytes, old, kernel)

    def job_pages(self, spark, inp: JobInput):
        from ocr_poc_spark.operators.crawl import changed_slice

        old, new = (self.read_pages(spark, d) for d in inp.dirs)
        with self.tr.span("crawl", "changed_slice"):
            return changed_slice(old, new, content_col="html")

    def snapshots(self, spark, probe: JobInput):
        return tuple(self.read_pages(spark, d) for d in probe.dirs)

    def run(self, spark, i: int) -> tuple[float, int, int, list[str]]:
        inp = self.fresh_input(f"w{-i}" if i < 0 else f"j{i}")
        out = self.new_out(i)
        stop_s, resume_s, problems = self.stop_and_resume(
            spark, lambda: self.job_pages(spark, inp), out)
        failed, more, _ = check_extraction(out, inp.expected)
        return stop_s + resume_s, len(inp.expected), failed + len(problems), problems + more


class CurateDedup(Workload):
    """run_dedup(minhash, clusters) then run_curate with a host cap over
    one extracted corpus holding injected near-duplicate copies. Dedup and
    curation keep no per-text caches, so every job reuses the corpus."""

    name = "curate_dedup"

    def make_input(self, tag: str) -> JobInput:
        rows = gen.make_pages(self.seed, CORPUS_PAGES, tag=tag)
        rows, self.injected = gen.with_near_dups(self.seed, rows)
        self.pages_per_job = len(rows)
        path, nbytes = self.write(rows, tag, "pages", 8)
        return JobInput([path], nbytes, rows, [(r["url"], r["html"]) for r in rows])

    def prepare(self, spark) -> list[str]:
        """Build the extracted corpus (untimed) and the Python-side
        reference: bodies, eligible injected pairs, curation row set."""
        inp = self.fresh_input("corpus")
        self.corpus = os.path.join(self.work, "out", "corpus")
        t0 = time.perf_counter()
        self.run_job(spark, self.job_pages(spark, inp), self.corpus)
        self.corpus_job_s = time.perf_counter() - t0
        failed, problems, rows = check_extraction(self.corpus, inp.expected)
        self.bodies = {
            r["url"]: shingles(r["body_text"])
            for r in rows if r["success"] and r["body_text"] is not None
        }
        self.eligible = [
            (min(a, b), max(a, b)) for a, b in self.injected
            if a in self.bodies and b in self.bodies
            and jaccard(self.bodies[a], self.bodies[b]) >= JACCARD
        ]
        self.parts = {"dedup": [], "curate": []}
        return problems

    def extraction_out(self) -> str:
        return self.corpus

    def extraction_job_s(self, job_s: float) -> float:
        return self.corpus_job_s

    def run(self, spark, i: int) -> tuple[float, int, int, list[str]]:
        from ocr_poc_spark.plans.job import run_curate, run_dedup

        with self.tr.span("dedup", "run_dedup"):
            t0 = time.perf_counter()
            run_dedup(spark, self.corpus, jaccard_threshold=JACCARD, method="minhash", clusters=True)
            t1 = time.perf_counter()
        with self.tr.span("curation", "run_curate"):
            run_curate(spark, self.corpus, max_per_host=self.host_cap())
            t2 = time.perf_counter()
        self.parts["dedup"].append(t1 - t0)
        self.parts["curate"].append(t2 - t1)
        failed, problems = self.check()
        return t2 - t0, len(self.bodies), failed, problems

    def check(self) -> tuple[int, list[str]]:
        problems: list[str] = []
        pairs = pq.read_table(os.path.join(self.corpus, "dup_pairs")).to_pylist()
        edges = [(p["id_a"], p["id_b"]) for p in pairs]
        bad = sum(
            a not in self.bodies or b not in self.bodies
            or jaccard(self.bodies[a], self.bodies[b]) < JACCARD
            for a, b in edges
        )
        if bad:
            problems.append(f"{bad} dup pairs below the Jaccard threshold")
        comp = pq.read_table(os.path.join(self.corpus, "dup_components")).to_pylist()
        got = {c["doc_id"]: c["component_id"] for c in comp}
        want = components(edges)
        wrong = (len(comp) - len(got)) + sum(
            got.get(k) != want.get(k) for k in set(got) | set(want)
        )
        if wrong:
            problems.append(f"{wrong} component memberships differ from union-find")
        cur = pq.read_table(os.path.join(self.corpus, "curation")).to_pylist()
        per_host = Counter(r["host"] for r in cur if r["kept"])
        ids = [r["doc_id"] for r in cur]
        if (set(ids) != set(self.bodies) or len(ids) != len(set(ids))
                or any(n > self.host_cap() for n in per_host.values())):
            problems.append("curation keep-list rows or host cap wrong")
            bad += 1
        self.found = {(min(a, b), max(a, b)) for a, b in edges}
        return bad + wrong, problems

    def written(self) -> int:
        return sum(
            dir_usage(os.path.join(self.corpus, d))[1]
            for d in ("dup_pairs", "dup_components", "curation")
        )

    def job_input_bytes(self) -> int:
        return dir_usage(os.path.join(self.corpus, "extracted"))[1]

    def recall(self) -> dict[str, float]:
        found = sum(p in self.found for p in self.eligible)
        return {
            "dedup.recall": found / max(1, len(self.eligible)),
            "dedup.eligible_pairs": len(self.eligible),
        }

    def curate_probe(self, spark, out: str) -> dict[str, float]:
        rows = pq.read_table(os.path.join(out, "curation"), columns=["kept"]).column("kept").to_pylist()
        return {
            "curation.curate_s": statistics.median(self.parts["curate"]),
            "curation.kept_ratio": sum(rows) / max(1, len(rows)),
        }


WORKLOADS = {w.name: w for w in (FullCrawl, RecrawlResume, CurateDedup)}
