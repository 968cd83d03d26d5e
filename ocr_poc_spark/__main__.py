"""CLI entry point — the spark-submit surface.

    spark-submit --py-files dist/ocr_poc_spark.zip run_job.py \
        --input <pages parquet|iceberg:tbl> --out <dir>

or locally:

    python -m ocr_poc_spark --input pages.parquet --out /tmp/out

Resume semantics: re-running with the same --out skips buckets already
committed in the checkpoint manifest (<out>/_manifest/).
"""

from __future__ import annotations

import argparse
import json
import sys

from .plans.job import completed_buckets, run_job
from .session import get_spark
from .sources.pages import read_pages


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="ocr_poc_spark")
    ap.add_argument("--input", required=True, help="pages parquet path or iceberg:<table>")
    ap.add_argument("--out", required=True, help="output dir (extracted/, lineage/, _manifest/)")
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--buckets-per-pass", type=int, default=None)
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--repartition", type=int, default=None)
    ap.add_argument(
        "--dedup", action="store_true",
        help="after extraction, write near-dup pairs over body_text",
    )
    ap.add_argument(
        "--corpus-stats", action="store_true",
        help="after extraction, write per-doc repetition/PII quality "
             "signals over body_text",
    )
    ap.add_argument(
        "--curate", action="store_true",
        help="after extraction, write a per-doc keep-list "
             "(cross-corpus boilerplate ratio + optional per-host cap)",
    )
    ap.add_argument(
        "--max-boiler-ratio", type=float, default=0.5,
        help="curation: drop docs whose duplicated-shingle ratio exceeds this",
    )
    ap.add_argument(
        "--host-cap", type=int, default=None,
        help="curation: keep at most N docs per host (stable hash order)",
    )
    ap.add_argument(
        "--gopher", action="store_true",
        help="curation: additionally require the published Gopher "
             "document-quality rules (word count/shape/symbol/bullet/"
             "alpha/stopword gates); the gopher_keep flag rides the "
             "keep-list either way",
    )
    ap.add_argument(
        "--max-ppl", type=float, default=None,
        help="curation: drop docs whose self-trained bigram-LM "
             "perplexity exceeds this (CCNet-style fluency gate)",
    )
    ap.add_argument(
        "--with-ppl", action="store_true",
        help="curation: train the bigram LM and carry per-doc ppl on "
             "the keep-list even without --max-ppl (threshold tuning); "
             "off by default — the LM pass is a whole-corpus cost",
    )
    ap.add_argument(
        "--sample", metavar="LANG=RATE[,..]", default=None,
        help="after extraction, write a deterministic stratified sample "
             "keep-list by verified language (e.g. en=0.5,fr=0.25)",
    )
    ap.add_argument(
        "--sample-temperature", type=float, default=None, metavar="ALPHA",
        help="after extraction, write a temperature-rebalanced sample "
             "keep-list (per-language rates derived from corpus counts, "
             "p^ALPHA mixing; rarest language kept whole); mutually "
             "exclusive with --sample",
    )
    ap.add_argument(
        "--shard-tokens", type=int, default=None, metavar="N",
        help="after extraction (and any curation/dedup/selection "
             "stages), write a deterministic shuffled training-order "
             "shard assignment of the kept docs (~N tokens per shard, "
             "whole docs)",
    )
    ap.add_argument(
        "--shard-seed", default="", metavar="SEED",
        help="seed for the --shard-tokens shuffle order (a new seed "
             "re-deals the order: a new training epoch)",
    )
    ap.add_argument(
        "--decontaminate", metavar="BENCH_PARQUET", default=None,
        help="after extraction, flag docs sharing 8-grams with the "
             "benchmark corpus (parquet with a text column)",
    )
    ap.add_argument(
        "--decontaminate-spans", action="store_true",
        help="with --decontaminate: also REWRITE docs excising every "
             "benchmark-verbatim >= --decon-span-tokens-token window "
             "(surgical decontamination); --pack then packs the "
             "rewritten bodies",
    )
    ap.add_argument(
        "--decon-span-tokens", type=int, default=8,
        help="window length in whitespace tokens for "
             "--decontaminate-spans",
    )
    ap.add_argument(
        "--select-target", metavar="TARGET_PARQUET", default=None,
        help="after extraction, DSIR-score every doc against this "
             "target exemplar corpus (parquet with a text column) and "
             "write a selection keep-list; requires --select-top",
    )
    ap.add_argument(
        "--select-top", type=int, default=None,
        help="number of most-target-like docs to mark selected "
             "(--pack then packs only those)",
    )
    ap.add_argument(
        "--select-seed", default=None,
        help="with --select-target: Gumbel-top-k importance RESAMPLING "
             "(selection probability proportional to weight, "
             "deterministic per seed) instead of the greedy top-N cut",
    )
    ap.add_argument(
        "--quality-target", metavar="TARGET_PARQUET", default=None,
        help="after extraction, train a Naive Bayes quality classifier "
             "(positive = this curated exemplar parquet's text column, "
             "negative = the extracted corpus itself) and write a "
             "scored keep-list + the persisted model; --pack honors it",
    )
    ap.add_argument(
        "--span-dedup", action="store_true",
        help="after extraction, rewrite docs removing non-first "
             "occurrences of exact >= --span-tokens-token spans "
             "duplicated across the corpus (Lee et al. 2022); --pack "
             "then packs the rewritten bodies",
    )
    ap.add_argument(
        "--span-tokens", type=int, default=50,
        help="minimum duplicated-span length in whitespace tokens "
             "for --span-dedup",
    )
    ap.add_argument(
        "--ccnet", action="store_true",
        help="after extraction, write CCNet head/middle/tail quality "
             "buckets (per-language perplexity-rank terciles); --pack "
             "then drops the tail bucket",
    )
    ap.add_argument(
        "--frontier", type=int, metavar="PER_HOST", default=None,
        help="after extraction, write a politeness-aware recrawl "
             "frontier (<= PER_HOST fetches per host per wave); "
             "priority = per-host churn when --diff-against ran, "
             "else host document count",
    )
    ap.add_argument(
        "--pack", action="store_true",
        help="after extraction (and any curation/dedup stages), chunk "
             "kept docs and pack fixed-length training sequences",
    )
    ap.add_argument("--seq-len", type=int, default=2048)
    ap.add_argument("--chunk-tokens", type=int, default=512)
    ap.add_argument(
        "--chunk-stride", type=int, default=None,
        help="defaults to --chunk-tokens (non-overlapping windows); "
             "validated here so a bad combo fails before the job runs",
    )
    ap.add_argument(
        "--pack-tokenizer", choices=["whitespace", "subword"],
        default="whitespace",
        help="token unit for chunk/pack budgets (subword = greedy "
             "longest-match over the committed vocab)",
    )
    ap.add_argument(
        "--split", metavar="NAME=FRAC[,..]", default=None,
        help="after extraction, write a train/val/test assignment "
             "(e.g. train=0.9,val=0.05,test=0.05); deterministic md5 "
             "buckets keyed on the HOST (leakage-safe) unless "
             "--split-by-url",
    )
    ap.add_argument(
        "--split-by-url", action="store_true",
        help="key --split buckets on the url instead of the host "
             "(iid row-level splits; near-dups may straddle splits)",
    )
    ap.add_argument(
        "--blocklist", metavar="DOMAINS_FILE", default=None,
        help="text file of blocked domains (one per line, # comments); "
             "pages on those domains or their subdomains are dropped "
             "BEFORE extraction (map-only, composes with --diff-against "
             "and resume)",
    )
    ap.add_argument(
        "--robots", metavar="RULES_TSV", default=None,
        help="tab-separated per-host robots policy (host<TAB>allow|"
             "disallow<TAB>path_prefix, # comments); urls a host's "
             "rules disallow (RFC 9309 longest-match, allow wins ties) "
             "are dropped BEFORE extraction",
    )
    ap.add_argument(
        "--diff-against", metavar="OLD_PAGES", default=None,
        help="incremental crawl mode: process only pages whose html "
             "bytes are new or changed vs this previous pages snapshot "
             "(same parquet/warc/iceberg forms as --input); unchanged "
             "and deleted urls are skipped before extraction",
    )
    ap.add_argument(
        "--dedup-method", choices=["minhash", "simhash", "semantic"],
        default="minhash",
        help="near-dup detector: MinHash+LSH (exact-Jaccard verified), "
             "SimHash banding (pigeonhole-exact recall), or semantic "
             "(SemDeDup: k-means-clustered hashing-trick embeddings, "
             "in-cluster cosine — catches paraphrase-level dups)",
    )
    ap.add_argument(
        "--semantic-threshold", type=float, default=0.92,
        help="cosine threshold for --dedup-method semantic",
    )
    ap.add_argument(
        "--dedup-clusters", action="store_true",
        help="with --dedup: also resolve pairs into duplicate components "
             "(connected components; transitive closure) and write a "
             "keeper flag per paired doc",
    )
    args = ap.parse_args(argv)
    if args.chunk_stride is None:
        args.chunk_stride = args.chunk_tokens
    if args.pack and args.chunk_stride > args.chunk_tokens:
        ap.error(
            f"--chunk-stride ({args.chunk_stride}) > --chunk-tokens "
            f"({args.chunk_tokens}) would drop words between windows"
        )
    if (args.select_target is None) != (args.select_top is None):
        ap.error("--select-target and --select-top go together")
    args.split_fracs = None
    if args.split:
        # Validate the spec BEFORE the (possibly hours-long) extraction
        # runs, mirroring split_corpus's own exhaustiveness arithmetic.
        try:
            fr = {}
            for part in args.split.split(","):
                key, sep, frac = part.partition("=")
                if not sep or not key.strip():
                    raise ValueError(f"malformed piece {part!r}")
                fr[key.strip()] = float(frac)
            if any(v < 0 for v in fr.values()):
                raise ValueError("fractions must be non-negative")
            if sum(int(round(v * 10000)) for v in fr.values()) != 10000:
                raise ValueError("fractions must sum to 1")
            args.split_fracs = fr
        except ValueError as e:
            ap.error(f"--split: {e}")
    if args.select_top is not None and args.select_top <= 0:
        ap.error("--select-top must be positive")
    if args.frontier is not None and args.frontier < 1:
        ap.error("--frontier PER_HOST must be >= 1")
    if args.decontaminate_spans and not args.decontaminate:
        ap.error("--decontaminate-spans requires --decontaminate BENCH")
    if args.decontaminate_spans and args.decon_span_tokens < 2:
        ap.error("--decon-span-tokens must be >= 2")
    if args.span_dedup and args.span_tokens < 2:
        ap.error("--span-tokens must be >= 2")
    if args.sample and args.sample_temperature is not None:
        # both write <out>/sample; one silently clobbering the other
        # would look like a successful run with the wrong keep-list
        ap.error("--sample and --sample-temperature are mutually exclusive")
    if args.sample_temperature is not None and not 0.0 <= args.sample_temperature <= 1.0:
        ap.error("--sample-temperature must be in [0, 1]")
    if args.shard_tokens is not None and args.shard_tokens <= 0:
        ap.error("--shard-tokens must be positive")
    if args.dedup_clusters:
        # clusters are resolved from the pair stage's output; asking for
        # them implies running it (silently ignoring the flag would
        # complete "successfully" with no dup_components written).
        args.dedup = True

    spark = get_spark("ocr_poc_spark.job", cpus=args.cpus)
    done = completed_buckets(args.out)
    if done:
        print(f"resuming: {len(done)} bucket(s) already committed", file=sys.stderr)
    pages = read_pages(spark, args.input)
    if args.blocklist:
        from .operators.curation import url_blocklist_filter

        with open(args.blocklist) as fh:
            domains = [
                ln.strip() for ln in fh
                if ln.strip() and not ln.lstrip().startswith("#")
            ]
        if not domains:
            ap.error(f"--blocklist {args.blocklist}: no domains found")
        pages = url_blocklist_filter(pages, domains)
    if args.robots:
        from .operators.crawl import robots_filter

        rows = []
        with open(args.robots) as fh:
            for ln in fh:
                ln = ln.strip()
                if not ln or ln.startswith("#"):
                    continue
                parts = ln.split("\t")
                if len(parts) != 3 or parts[1] not in ("allow", "disallow"):
                    ap.error(f"--robots {args.robots}: malformed line {ln!r}")
                if not parts[2].startswith("/"):
                    # a prefix without the leading slash can never match
                    # a derived path — a silently dead rule (fail-open),
                    # the opposite of this file's loud-rejection posture
                    ap.error(
                        f"--robots {args.robots}: path_prefix must start "
                        f"with '/' in line {ln!r}"
                    )
                rows.append(tuple(parts))
        if not rows:
            ap.error(f"--robots {args.robots}: no rules found")
        rules = spark.createDataFrame(
            rows, "host string, rule string, path_prefix string"
        )
        pages = robots_filter(pages, rules)
    if args.diff_against:
        from .operators.crawl import changed_slice

        # Only ids + sha2 digests ride the diff join; the unchanged
        # bulk of a rolling crawl never reaches extraction. Composes
        # with manifest resume: the filtered frame just has fewer rows
        # per bucket.
        pages = changed_slice(
            read_pages(spark, args.diff_against),
            pages,
            id_col="url",
            content_col="html",
        )
    summary = run_job(
        spark,
        pages,
        args.out,
        n_buckets=args.buckets,
        buckets_per_pass=args.buckets_per_pass,
        repartition=args.repartition,
    )
    if args.blocklist:
        summary["blocklist"] = args.blocklist
    if args.diff_against:
        summary["diff_against"] = args.diff_against
        # Per-host churn rollup of the two snapshots -> <out>/crawl_churn
        # (the recrawl-scheduling signal; ids+digests only, one small
        # table per run). Recomputed from the inputs, not the filtered
        # frame, so it also counts deleted/unchanged urls.
        import os as _os

        from .operators.crawl import crawl_churn_stats

        churn_dir = _os.path.join(args.out, "crawl_churn")
        crawl_churn_stats(
            read_pages(spark, args.diff_against),
            read_pages(spark, args.input),
            id_col="url",
            content_col="html",
        ).write.mode("overwrite").parquet(churn_dir)
        summary["crawl_churn_dir"] = churn_dir
        summary["crawl_churn_hosts"] = spark.read.parquet(churn_dir).count()
    if args.dedup:
        from .plans.job import run_dedup

        summary.update(
            run_dedup(
                spark,
                args.out,
                method=args.dedup_method,
                semantic_threshold=args.semantic_threshold,
                clusters=args.dedup_clusters,
            )
        )
    if args.corpus_stats:
        from .plans.job import run_corpus_stats

        summary.update(run_corpus_stats(spark, args.out))
    if args.decontaminate:
        from .plans.job import run_decontaminate

        summary.update(run_decontaminate(spark, args.out, args.decontaminate))
    if args.split_fracs:
        from .plans.job import run_split

        summary.update(
            run_split(
                spark, args.out, args.split_fracs,
                by_host=not args.split_by_url,
            )
        )
    if args.sample:
        from .plans.job import run_sample

        quotas = {}
        for part in args.sample.split(","):
            key, _, rate = part.partition("=")
            quotas[key.strip()] = float(rate)
        summary.update(run_sample(spark, args.out, quotas))
    if args.sample_temperature is not None:
        from .plans.job import run_temperature_sample

        summary.update(
            run_temperature_sample(spark, args.out, args.sample_temperature)
        )
    if args.curate:
        from .plans.job import run_curate

        summary.update(
            run_curate(
                spark,
                args.out,
                gopher=args.gopher,
                max_boiler_ratio=args.max_boiler_ratio,
                max_per_host=args.host_cap,
                max_ppl=args.max_ppl,
                with_ppl=True if args.with_ppl else None,
            )
        )
    if args.select_target:
        from .plans.job import run_select

        summary.update(
            run_select(
                spark, args.out, args.select_target, args.select_top,
                sample_seed=args.select_seed,
            )
        )
    if args.quality_target:
        from .plans.job import run_quality

        summary.update(run_quality(spark, args.out, args.quality_target))
    if args.span_dedup:
        from .plans.job import run_span_dedup

        summary.update(
            run_span_dedup(spark, args.out, span_tokens=args.span_tokens)
        )
    if args.ccnet:
        from .plans.job import run_ccnet

        summary.update(run_ccnet(spark, args.out))
    if args.frontier is not None:
        from .plans.job import run_frontier

        summary.update(run_frontier(spark, args.out, per_host=args.frontier))
    if args.decontaminate_spans:
        from .plans.job import run_decontaminate_spans

        summary.update(
            run_decontaminate_spans(
                spark, args.out, args.decontaminate,
                span_tokens=args.decon_span_tokens,
            )
        )
    if args.pack:
        from .plans.job import run_pack

        summary.update(
            run_pack(
                spark,
                args.out,
                seq_len=args.seq_len,
                chunk_tokens=args.chunk_tokens,
                chunk_stride=args.chunk_stride,
                tokenizer=None if args.pack_tokenizer == "whitespace"
                else args.pack_tokenizer,
            )
        )
    if args.shard_tokens is not None:
        from .plans.job import run_shards

        summary.update(
            run_shards(
                spark, args.out, args.shard_tokens, seed=args.shard_seed
            )
        )
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
