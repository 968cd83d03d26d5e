"""CLI entry point — the spark-submit surface.

    spark-submit --py-files dist/ocr_poc_spark.zip run_job.py \
        --input <pages parquet|iceberg:tbl> --out <dir>

or locally:

    python -m ocr_poc_spark --input pages.parquet --out /tmp/out

Three stages run in order: extraction (``run_job``), then, when asked,
MinHash near-duplicate detection (``--dedup``, ``--dedup-clusters``) and
the curation keep-list (``--curate``, ``--max-boiler-ratio``,
``--host-cap``) over the extracted corpus. ``--blocklist``, ``--robots``
and ``--diff-against`` narrow the pages extraction sees.

Resume semantics: re-running with the same --out skips buckets already
committed in the checkpoint manifest (<out>/_manifest/).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from .plans.job import completed_buckets, run_curate, run_dedup, run_job, write_counted
from .session import get_spark
from .sources.pages import read_pages


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="ocr_poc_spark")
    ap.add_argument("--input", required=True, help="pages parquet path or iceberg:<table>")
    ap.add_argument("--out", required=True, help="output dir (extracted/, lineage/, _manifest/)")
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--buckets-per-pass", type=int, default=None)
    ap.add_argument("--cpus", type=int, default=None)
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
        "--dedup", action="store_true",
        help="after extraction, write MinHash near-dup pairs over body_text",
    )
    ap.add_argument(
        "--dedup-clusters", action="store_true",
        help="with --dedup: also resolve pairs into duplicate components "
             "(connected components; transitive closure) and write a "
             "keeper flag per paired doc",
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
    args = ap.parse_args(argv)
    if args.dedup_clusters:
        # clusters are resolved from the pair stage's output; asking for
        # them implies running it (silently ignoring the flag would
        # complete "successfully" with no dup_components written).
        args.dedup = True

    spark = get_spark("ocr_poc_spark.job", cpus=args.cpus)
    done = completed_buckets(args.out)
    if done:
        print(f"resuming: {len(done)} bucket(s) already committed", file=sys.stderr)
    pages = snapshot = read_pages(spark, args.input)
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
        old = read_pages(spark, args.diff_against)
        pages = changed_slice(old, pages, content_col="html")
    summary = run_job(
        spark,
        pages,
        args.out,
        n_buckets=args.buckets,
        buckets_per_pass=args.buckets_per_pass,
    )
    if args.blocklist:
        summary["blocklist"] = args.blocklist
    if args.diff_against:
        summary["diff_against"] = args.diff_against
        # Per-host churn rollup of the two snapshots -> <out>/crawl_churn
        # (the recrawl-scheduling signal; ids+digests only, one small
        # table per run). Taken over the unfiltered snapshots, so it also
        # counts deleted/unchanged urls.
        from .operators.crawl import crawl_churn_stats

        churn_dir = os.path.join(args.out, "crawl_churn")
        (n_hosts,) = write_counted(
            crawl_churn_stats(old, snapshot, content_col="html"), churn_dir
        )
        summary["crawl_churn_dir"] = churn_dir
        summary["crawl_churn_hosts"] = n_hosts
    if args.dedup:
        summary.update(run_dedup(spark, args.out, clusters=args.dedup_clusters))
    if args.curate:
        summary.update(
            run_curate(
                spark,
                args.out,
                max_boiler_ratio=args.max_boiler_ratio,
                max_per_host=args.host_cap,
            )
        )
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
