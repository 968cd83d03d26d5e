"""Corpus-curation operators beyond per-document signals.

Production path (run_curate):
- boilerplate_shingle_stats : RefinedWeb/C4-style "line dedup" analogue
  — fraction of a document made of spans that repeat across the corpus
  (nav menus, cookie banners, legal footers). Spans are k-word shingles
  because the curated unit here is whitespace text.
- host_rank                 : per-host rank by a stable hash order;
  run_curate keeps rank <= its cap (domain-balance cap).

Also here: url_blocklist_filter (the CLI's --blocklist).

All native column expressions; every shuffle carries ids + 60-bit
hashes only, never document bodies. The 60-bit hash is the md5-hex15
trick (functions/texthash.hash60) so the DuckDB oracle can recompute
every operator exactly.

Scale notes (100 TB):
- boilerplate: explode is per-DISTINCT-shingle (bounded by doc length);
  the per-shingle document count is a window over the uniform 60-bit
  hash -> no skew; only (id, hash) pairs ride the two exchanges.
- host_rank: one window over host; the shuffle carries (host, id,
  hash) only. A pathological host with 10^9 docs makes one heavy
  window partition; at that size a per-host cap is the wrong tool.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..functions.texthash import hash60
from ..functions.texthash import norm_words as _raw_norm_words
from ..functions.texthash import shingle_hashes as _shingle_hashes
from .hoststats import host_of


def _norm_words(text_col: str):
    """Shared word tokenisation with this module's NULL contract: a
    NULL text tokenises like '' (one empty word), so every input doc
    gets an output row — NULL would satisfy neither size branch and
    silently drop the row."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    return _raw_norm_words(c)


SHINGLE_K = 5  # boilerplate span length in words
MIN_DOCS = 2  # a span is boilerplate once it occurs in this many docs


def boilerplate_shingle_stats(df: DataFrame) -> DataFrame:
    """Per-document boilerplate fraction of a (doc_id, text) frame:
    share of the document's distinct SHINGLE_K-word shingles that appear
    in >= MIN_DOCS distinct documents corpus-wide (the RefinedWeb "exact
    line dedup" signal, expressed over shingles).

    Returns (doc_id, n_shingles, n_boiler, boiler_ratio); docs shorter
    than SHINGLE_K words report 0 shingles and ratio 0.0.

    Plan (exactly TWO exchanges, both on uniform keys, only (id, hash)
    pairs riding them): distinct-per-doc explode -> per-hash document
    count as a window over the 60-bit hash (count == distinct docs
    because of the per-doc distinct; no self-join, the shingle md5s are
    computed once) -> groupBy doc. Docs shorter than k words never
    explode at all — they come back via a constant union branch keyed
    on word count, so no join-back is needed for them either.
    """
    k = SHINGLE_K
    base = df.select(F.col("doc_id").alias("_id"), _norm_words("text").alias("_w"))
    short = base.where(F.size("_w") < k).select(
        F.col("_id").alias("doc_id"),
        F.lit(0).cast("long").alias("n_shingles"),
        F.lit(0).cast("long").alias("n_boiler"),
        F.lit(0.0).alias("boiler_ratio"),
    )
    exploded = (
        base.where(F.size("_w") >= k)
        .select("_id", F.explode(F.array_distinct(_shingle_hashes("_w", k))).alias("_h"))
    )
    w_hash = Window.partitionBy("_h")
    per_doc = (
        exploded.withColumn("_n_docs", F.count(F.lit(1)).over(w_hash))
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("_n_docs") >= MIN_DOCS, 1).otherwise(0)).alias("n_boiler"),
        )
        .select(
            F.col("_id").alias("doc_id"),
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.col("n_boiler").cast("long").alias("n_boiler"),
            F.round(F.col("n_boiler") / F.col("n_shingles"), 6).alias("boiler_ratio"),
        )
    )
    return per_doc.unionByName(short)


def host_rank(df: DataFrame) -> DataFrame:
    """Adds `host_rank`: each document's 1-based rank within its `host`
    by a stable hash order (hash60(doc_id), then doc_id), so the set
    ranked <= k is independent of input partitioning and re-runs. The
    rank shuffle carries (host, id, 60-bit hash) only."""
    w = Window.partitionBy("host").orderBy(F.asc("_hord"), F.asc("doc_id"))
    return (
        df.withColumn("_hord", hash60("doc_id"))
        .withColumn("host_rank", F.row_number().over(w))
        .drop("_hord")
    )


def url_blocklist_filter(df: DataFrame, blocked_domains: list[str]) -> DataFrame:
    """Domain-blocklist filtering — the FIRST pass of a web-corpus
    pipeline (spam/adult/SEO-farm domain lists à la CCNet/RefinedWeb):
    drop every document whose url host equals a blocked domain or is a
    subdomain of one ('ads.example' blocks 'ads.example' and
    'x.ads.example', never 'badads.example'), by the host of `url`.

    Map-only, zero shuffle: real blocklists are 10^4-10^6 domains —
    kilobytes-to-megabytes — so they ride as an array literal evaluated
    per row with an EXISTS higher-order function (suffix match, no
    regex explosion); at the 10^6 scale prefer a broadcast join on the
    reversed-host prefix, which this deliberately does not build until
    a corpus needs it. The host is hoststats.host_of of the url (so
    'HTTPS://user@Ads.example:8443/p' is blocked too); unparseable urls
    (no host) are never blocked."""
    if not blocked_domains:
        raise ValueError("url_blocklist_filter: blocked_domains is empty")
    norm = sorted({d.strip().lower().lstrip(".") for d in blocked_domains})
    if any(not d for d in norm):
        raise ValueError("url_blocklist_filter: empty domain in blocklist")
    host = host_of()
    blocked = F.exists(
        F.array(*[F.lit(d) for d in norm]),
        lambda d: (host == d) | host.endswith(F.concat(F.lit("."), d)),
    )
    return df.where(~blocked)
