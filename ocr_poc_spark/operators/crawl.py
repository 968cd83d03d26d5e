"""Crawl operators: comparing two crawls keyed on `url`, and the robots
gate.

A rolling web crawl re-fetches URLs continuously; the expensive part of
the pipeline (extraction, dedup, curation) should only ever run on
pages whose CONTENT changed since the last snapshot. `crawl_diff`
classifies every url across two snapshots as added / deleted / changed
/ unchanged from content digests, and `changed_slice` is the
ready-to-process frame (new rows needing work) an incremental run
feeds to `plans.job.run_job`, whose manifest resume makes the recrawl
incremental. `crawl_churn_stats` rolls the diff up per host, and
`robots_filter` drops the urls a site's robots rules disallow.

Scale notes (100 TB): both sides project to (id, 64-hex sha2 digest)
BEFORE the full-outer join, so the shuffle carries ~80 bytes per url,
never page bytes; the join keys on the url, which is unique per
snapshot (enforce upstream with the min_by pre-dedup run_job uses —
duplicate ids would cross-multiply, so this module asserts nothing and
documents the contract instead of scanning for violations). sha2-256
digest collisions are negligible at any corpus size.

Reference parity: the reference service re-OCRs every uploaded card
unconditionally (its api_server.py — stateless per-document HTTP);
snapshot diffing is the batch-pipeline capability that replaces
"re-process everything" at crawl scale.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .hoststats import host_of


def crawl_diff(old: DataFrame, new: DataFrame, content_col: str = "text") -> DataFrame:
    """One row per url present in EITHER snapshot, with
    status in {'added','deleted','changed','unchanged'} plus both
    content digests (NULL where the url is absent on that side).

    `content_col` may be string (extracted text) or binary (raw html /
    warc payload) — sha2 accepts both. NULL content digests to the
    4-char sentinel 'null' — present-but-NULL is distinguishable from
    absence (the digest column itself is the presence witness) AND from
    every real content value including '' (a sha2 digest is always 64
    hex chars, so the sentinel cannot collide; ADVICE r4 — previously
    NULL and '' shared sha2('') and a NULL->'' transition read as
    'unchanged')."""
    def side(df: DataFrame, alias: str) -> DataFrame:
        c = F.col(content_col)
        # digest-of-branches, not branch-of-contents: binary content
        # must reach sha2 raw (a cast to string would mangle non-UTF-8
        # bytes), and the NULL arm's sentinel keeps one string type.
        digest = F.when(c.isNull(), F.lit("null")).otherwise(
            F.sha2(c, 256)
        )
        return df.select(F.col("url").alias("_id"), digest.alias(alias))

    joined = side(old, "old_digest").join(
        side(new, "new_digest"), "_id", "full_outer"
    )
    status = (
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("deleted"))
        .when(F.col("old_digest") != F.col("new_digest"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(
        F.col("_id").alias("url"),
        status.alias("status"),
        "old_digest",
        "new_digest",
    )


def changed_slice(old: DataFrame, new: DataFrame, content_col: str = "text") -> DataFrame:
    """The incremental work set: rows of `new` whose content is new or
    changed vs `old` — what an incremental extraction/curation run
    actually processes. LEFT SEMI against the diff, so the output
    carries `new`'s full row (the downstream job needs the page), but
    only ids+digests ride the diff join itself."""
    work = (
        crawl_diff(old, new, content_col=content_col)
        .where(F.col("status").isin("added", "changed"))
        .select(F.col("url").alias("_work_id"))
    )
    return new.join(
        work, on=F.col("url") == F.col("_work_id"), how="left_semi"
    )


def crawl_churn_stats(
    old: DataFrame, new: DataFrame, content_col: str = "text"
) -> DataFrame:
    """Per-host churn rollup of a snapshot pair — the recrawl-scheduling
    signal: hosts whose content churns (high added/changed/deleted
    share) deserve a faster revisit cadence; static hosts can be
    demoted. Returns one row per host: status counts + churn ratio
    (non-unchanged share, round 6).

    The host is hoststats.host_of of the url, so spellings of one host
    ('https://A.example/x', 'https://a.example:443/y') roll up together.
    The groupBy key is a host string over ids-only diff rows, so the
    whole rollup shuffles ~100 bytes per url; zipfian host skew is
    absorbed by partial aggregation (counts are associative — each input
    partition ships at most one row per host)."""
    diff = crawl_diff(old, new, content_col=content_col)
    n_of = lambda s: F.sum((F.col("status") == s).cast("long")).alias(f"n_{s}")
    return (
        diff.groupBy(host_of().alias("host"))
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            n_of("added"),
            n_of("changed"),
            n_of("deleted"),
            n_of("unchanged"),
        )
        .withColumn(
            "churn",
            F.round(
                (F.col("n_urls") - F.col("n_unchanged")) / F.col("n_urls"), 6
            ),
        )
    )


def robots_filter(df: DataFrame, rules: DataFrame) -> DataFrame:
    """Robots-policy filtering (the crawl-politeness gate a web-corpus
    pipeline applies before extraction): drop every url a site's
    robots rules disallow. ``rules`` is the pre-parsed per-host policy
    table (host string, rule 'allow'|'disallow', path_prefix string) —
    one row per directive, the shape a robots.txt fetch pipeline
    produces for the crawler's own user-agent.

    Semantics (the REP longest-match subset, RFC 9309): directives
    apply to EXACT hosts only (robots.txt is per-origin — subdomains
    have their own file, unlike domain blocklists); among directives
    whose path_prefix literally prefixes the url path, the LONGEST
    prefix wins and 'allow' beats 'disallow' on equal length; a url
    with no matching directive (or a host with no rules at all) is
    allowed. Wildcards (*, $) are NOT implemented — a rules producer
    expands or drops them upstream; implementing a partial regex
    translation here would silently mis-enforce real files.

    The host is hoststats.host_of of the url, so
    'HTTPS://user@A.example:8443/x' matches rules for 'a.example': a
    compliance gate that failed OPEN on such spellings would quietly
    crawl forbidden paths. Urls with no extractable host at all are kept
    (nothing to match rules against — the url_blocklist_filter posture).

    Plan / 100 TB shape: directives are grouped to ONE array row per
    host first (rules tables are bounded by #hosts x a few directives),
    then joined onto the corpus by host — broadcastable for real rule
    sets, an equi-join on the uniform host key otherwise; the
    allow/deny decision is a per-row higher-order fold over that
    host's directive array, so the corpus never shuffles on anything
    but the (optional) host join and no directive row ever multiplies
    a url row."""
    per_host = rules.groupBy(F.lower(F.col("host")).alias("_rh")).agg(
        F.collect_list(
            F.struct(
                F.col("path_prefix").alias("p"),
                (F.lower(F.col("rule")) == "allow").alias("a"),
            )
        ).alias("_rules")
    )
    path_raw = F.regexp_replace(F.col("url"), r"(?i)^https?://[^/?#]*", "")
    # REP matches against path (+query); a query-only url's path is '/'
    path = (
        F.when(path_raw == "", F.lit("/"))
        .when(~path_raw.startswith("/"), F.concat(F.lit("/"), path_raw))
        .otherwise(path_raw)
    )
    # Derive host+path BEFORE the join: adding them after it makes
    # Catalyst try to bind the url reference on the broadcast side
    # (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND on Spark 4.1).
    base = df.withColumn("_h", host_of()).withColumn("_p", path)
    joined = base.join(
        F.broadcast(per_host), F.col("_h") == F.col("_rh"), "left"
    )
    # Longest-match fold: carry (best_len, allow); allow wins length
    # ties. startswith on the literal prefix — no wildcard semantics.
    verdict = F.expr(
        "aggregate(filter(_rules, r -> startswith(_p, r.p)), "
        "named_struct('len', -1, 'a', true), "
        "(acc, r) -> CASE WHEN length(r.p) > acc.len "
        "OR (length(r.p) = acc.len AND r.a) "
        "THEN named_struct('len', length(r.p), 'a', r.a) ELSE acc END)"
    )
    allowed = F.col("_rules").isNull() | F.coalesce(verdict["a"], F.lit(True))
    return joined.where(allowed).drop("_h", "_rh", "_rules", "_p")
