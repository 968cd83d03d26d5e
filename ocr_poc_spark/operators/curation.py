"""Corpus-curation operators beyond per-document signals.

Production path (run_curate):
- boilerplate_shingle_stats : RefinedWeb/C4-style "line dedup" analogue
  — fraction of a document made of spans that repeat across the corpus
  (nav menus, cookie banners, legal footers). Spans are k-word shingles
  because the curated unit here is whitespace text.
- host_cap                  : at most k documents per host/source,
  selected by a stable hash order (domain-balance cap).

Also here: url_blocklist_filter (the CLI's --blocklist).

All native column expressions; every shuffle carries ids + 60-bit
hashes only, never document bodies. The 60-bit hash is the md5-hex15
trick shared with fingerprint/minhash so the DuckDB oracle can
recompute every operator exactly.

Scale notes (100 TB):
- boilerplate: explode is per-DISTINCT-shingle (bounded by doc length);
  the per-shingle document count is a window over the uniform 60-bit
  hash -> no skew; only (id, hash) pairs ride the two exchanges.
- host_cap: window over host; the shuffle carries (host, id, hash)
  only. A pathological host with 10^9 docs would make one heavy window
  partition, so the filtering path pre-filters EXACTLY (no sampling):
  a local top-k per (host, input partition) — the per-key analogue of
  TakeOrderedAndProject's partial top-k — bounds what any host ships
  to the global rank at k rows per input partition. The global top-k
  of a host is a subset of every partition's local top-k, so the kept
  set is provably identical. At 10^12 docs per host the cap itself is
  the wrong tool.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..functions.texthash import hash60
from ..functions.texthash import norm_words as _raw_norm_words
from ..functions.texthash import shingle_hashes as _shingle_hashes


def _norm_words(text_col: str):
    """Shared word tokenisation with this module's NULL contract: a
    NULL text tokenises like '' (one empty word), so every input doc
    gets an output row — NULL would satisfy neither size branch and
    silently drop the row."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    return _raw_norm_words(c)


def boilerplate_shingle_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document boilerplate fraction: share of the document's
    distinct k-word shingles that appear in >= min_docs distinct
    documents corpus-wide (the RefinedWeb "exact line dedup" signal,
    expressed over shingles).

    Returns (id, n_shingles, n_boiler, boiler_ratio); docs shorter than
    k words report 0 shingles and ratio 0.0.

    Plan (exactly TWO exchanges, both on uniform keys, only (id, hash)
    pairs riding them): distinct-per-doc explode -> per-hash document
    count as a window over the 60-bit hash (count == distinct docs
    because of the per-doc distinct; no self-join, the shingle md5s are
    computed once) -> groupBy doc. Docs shorter than k words never
    explode at all — they come back via a constant union branch keyed
    on word count, so no join-back is needed for them either.
    """
    base = df.select(F.col(id_col).alias("_id"), _norm_words(text_col).alias("_w"))
    short = base.where(F.size("_w") < k).select(
        F.col("_id").alias(id_col),
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
            F.sum(F.when(F.col("_n_docs") >= min_docs, 1).otherwise(0)).alias("n_boiler"),
        )
        .select(
            F.col("_id").alias(id_col),
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.col("n_boiler").cast("long").alias("n_boiler"),
            F.round(F.col("n_boiler") / F.col("n_shingles"), 6).alias("boiler_ratio"),
        )
    )
    return per_doc.unionByName(short)


def host_cap(
    df: DataFrame,
    max_per_host: int,
    host_col: str = "source",
    id_col: str = "doc_id",
    filter: bool = True,
) -> DataFrame:
    """Domain-balance cap: keep at most `max_per_host` documents per
    host, chosen by a stable hash order (so the kept set is independent
    of input partitioning and re-runs). Returns the capped frame with a
    `host_rank` column.

    The rank shuffle carries (host, id, 60-bit hash) only; payload
    columns are joined back by id afterwards by the caller if needed —
    here the input frame is narrow so we rank in place.

    Hot-host safety (filter=True path): before the per-host rank, each
    INPUT partition keeps only its local k smallest (_hord, id) rows per
    host — windowed over (host, spark_partition_id()), so a pathological
    host is spread over every input partition instead of funneling into
    one window partition. The global k smallest of a host are among
    every partition's local k smallest, so the kept set and the surviving
    ranks are IDENTICAL by construction (no sampling, no fallback); at
    most k * n_input_partitions rows per host reach the global rank.
    The filter=False keep-list mode must report the full rank of every
    row (over-cap rows ship with kept=false), so it keeps the single
    per-host window.
    """
    h = hash60(id_col)
    stamped = df.withColumn("_hord", h)
    if filter:
        wl = Window.partitionBy(host_col, F.spark_partition_id()).orderBy(
            F.asc("_hord"), F.asc(id_col)
        )
        stamped = (
            stamped.withColumn("_lrank", F.row_number().over(wl))
            .where(F.col("_lrank") <= max_per_host)
            .drop("_lrank")
        )
    w = Window.partitionBy(host_col).orderBy(F.asc("_hord"), F.asc(id_col))
    ranked = stamped.withColumn("host_rank", F.row_number().over(w)).drop("_hord")
    if filter:
        ranked = ranked.where(F.col("host_rank") <= max_per_host)
    return ranked


def url_blocklist_filter(
    df: DataFrame,
    blocked_domains: list[str],
    url_col: str = "url",
    keep: bool = True,
) -> DataFrame:
    """Domain-blocklist filtering — the FIRST pass of a web-corpus
    pipeline (spam/adult/SEO-farm domain lists à la CCNet/RefinedWeb):
    drop every document whose url host equals a blocked domain or is a
    subdomain of one ('ads.example' blocks 'ads.example' and
    'x.ads.example', never 'badads.example'). keep=False inverts the
    predicate (audit mode: return only the blocked rows).

    Map-only, zero shuffle: real blocklists are 10^4-10^6 domains —
    kilobytes-to-megabytes — so they ride as an array literal evaluated
    per row with an EXISTS higher-order function (suffix match, no
    regex explosion); at the 10^6 scale prefer a broadcast join on the
    reversed-host prefix, which this deliberately does not build until
    a corpus needs it. Case-insensitive on the host per DNS rules.
    Unparseable urls (no host) are never blocked."""
    if not blocked_domains:
        raise ValueError("url_blocklist_filter: blocked_domains is empty")
    norm = sorted({d.strip().lower().lstrip(".") for d in blocked_domains})
    if any(not d for d in norm):
        raise ValueError("url_blocklist_filter: empty domain in blocklist")
    from .hoststats import host_of

    host = F.lower(host_of(url_col))
    blocked_arr = F.array(*[F.lit(d) for d in norm])
    hit = F.exists(
        blocked_arr,
        lambda d: (host == d) | host.endswith(F.concat(F.lit("."), d)),
    )
    blocked = (host != "") & hit
    return df.where(~blocked if keep else blocked)
