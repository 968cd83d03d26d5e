"""Corpus-curation operators beyond per-document signals.

Production path (run_curate):
- boilerplate_shingle_stats : RefinedWeb/C4-style "line dedup" analogue
  — fraction of a document made of spans that repeat across the corpus
  (nav menus, cookie banners, legal footers). Spans are k-word shingles
  because the curated unit here is whitespace text.
- host_cap                  : at most k documents per host/source,
  selected by a stable hash order (domain-balance cap).

Also here: url_blocklist_filter (the CLI's --blocklist) and, each
reached by its driver query, the reproducible md5-bucket samplers
(stratified_sample, temperature_sample, split_corpus), normalize_urls
and shuffle_shards.

All native column expressions; every shuffle carries ids + 60-bit
hashes only, never document bodies. The 60-bit hash is the md5-hex15
trick shared with fingerprint/minhash so the DuckDB oracle can
recompute every operator exactly.

Scale notes (100 TB):
- boilerplate: explode is per-DISTINCT-shingle (bounded by doc length);
  the per-shingle document count is a window over the uniform 60-bit
  hash -> no skew; only (id, hash) pairs ride the two exchanges.
- samplers and split_corpus: map-only, no RNG (temperature_sample adds
  one broadcast join of a per-stratum threshold table).
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


def sample_bucket(id_col: str = "doc_id", denom: int = 10000):
    """Deterministic [0, denom) bucket from the md5 of the id — the
    reproducible substitute for rand() so resumed/re-run partitions
    sample identically (and the DuckDB oracle can recompute it)."""
    return F.pmod(hash60(id_col), F.lit(denom))


def stratified_sample(
    df: DataFrame,
    quotas: dict[str, float],
    strat_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    denom: int = 10000,
) -> DataFrame:
    """Corpus-mixing sampler: keep a deterministic `quotas[stratum]`
    fraction of each stratum (language, source, quality bin). Map-only,
    zero shuffle, stable under re-runs and resume.

    Rates are quantised to 1/denom steps (default 0.01%); round, not
    truncate — int(0.29 * 10000) is 2899 in IEEE-754."""
    bucket = sample_bucket(id_col, denom)
    thresh = F.lit(int(round(default_rate * denom)))
    for key, rate in sorted(quotas.items()):
        thresh = F.when(F.col(strat_col) == key, F.lit(int(round(rate * denom)))).otherwise(thresh)
    return df.where(bucket < thresh)


def split_corpus(
    df: DataFrame,
    splits: dict[str, float],
    id_col: str = "doc_id",
    by: str | None = None,
    denom: int = 10000,
) -> DataFrame:
    """Deterministic train/val/test assignment: adds a `split` column
    naming which partition of `splits` (name -> fraction, summing to 1)
    each row belongs to. Map-only, zero shuffle, no RNG — the same
    md5-bucket construction as stratified_sample, so re-runs, resumed
    partitions, and the DuckDB oracle all agree row-for-row.

    Leakage control: pass ``by`` (e.g. the host column) to key the
    bucket on that column instead of the row id — every document of a
    host then lands in the SAME split, so near-duplicate pages within
    a site can never straddle the train/test boundary (the standard
    web-corpus eval-hygiene rule).

    Fractions are quantised to 1/denom steps; the quantised cumulative
    thresholds must exhaust [0, denom) exactly — a dict that rounds to
    99.99% would silently leave buckets unassigned, so it raises
    instead. Assignment scans split names in sorted order (first
    cumulative threshold the bucket falls under), making the layout a
    pure function of (splits, by-key)."""
    if not splits:
        raise ValueError("split_corpus: splits is empty")
    if any(v < 0 for v in splits.values()):
        # negative fractions can cancel inside the sum check and then
        # produce non-monotone thresholds (unreachable splits)
        raise ValueError("split_corpus: fractions must be non-negative")
    cum, edges = 0, []
    for name in sorted(splits):
        cum += int(round(splits[name] * denom))
        edges.append((name, cum))
    if cum != denom:
        raise ValueError(
            f"split_corpus: quantised fractions sum to {cum}/{denom}, not 1"
        )
    key = by or id_col
    bucket = sample_bucket(key, denom)
    expr = None
    for name, edge in edges:
        cond = bucket < F.lit(edge)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    # A NULL key makes the md5 bucket NULL and every threshold test
    # NULL — the row would silently get split=NULL and vanish from all
    # three partitions downstream, exactly the silent-row-loss the
    # exhaustiveness check above exists to prevent. Fail loudly at
    # execution time instead (in-plan, no extra job).
    expr = F.when(
        F.col(key).isNull(),
        F.raise_error(
            F.lit(f"split_corpus: NULL {key!r} key cannot be assigned a split")
        ).cast("string"),
    ).otherwise(expr)
    return df.withColumn("split", expr)


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


# Tracking query parameters stripped by URL canonicalization: any param
# whose name starts with a TRACKING_PREFIXES entry, plus the exact names
# in TRACKING_PARAMS (compared on the part before '='). The filter
# expression below is DERIVED from these constants; the DuckDB oracle in
# __spark_entry__ spells out the same derived regex.
TRACKING_PREFIXES = ("utm_",)
TRACKING_PARAMS = ("fbclid", "gclid", "msclkid", "ref")
_TRACKING_RE = "^(" + "|".join(TRACKING_PARAMS) + ")(=|$)"

_URL_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$"


def _is_tracking_param(prm):
    cond = prm.rlike(_TRACKING_RE) | (prm == "")
    for pfx in TRACKING_PREFIXES:
        cond = cond | prm.startswith(pfx)
    return cond


def normalize_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Adds `url_norm`: the canonical form of a URL — the first pass of
    a web-corpus pipeline so trivially-different spellings of one
    resource dedup exactly.

    - scheme and host lowercased; default ports (:80 http, :443 https)
      stripped; empty path -> '/'
    - fragment dropped
    - tracking params (TRACKING_PREFIXES / TRACKING_PARAMS) removed;
      surviving query params sorted byte-lexicographically; '?' dropped
      when none remain
    - inputs not matching scheme://authority... pass through unchanged

    Pure native expressions (regexp_extract + array HOFs), map-only,
    zero shuffle; the DuckDB oracle mirrors it function-for-function."""
    u = F.col(url_col)
    scheme = F.lower(F.regexp_extract(u, _URL_RE, 1))
    host = F.lower(F.regexp_extract(u, _URL_RE, 2))
    path = F.regexp_extract(u, _URL_RE, 3)
    qs = F.regexp_extract(u, _URL_RE, 4)
    host = (
        F.when(
            (scheme == "http") & host.endswith(":80"),
            host.substr(F.lit(1), F.length(host) - 3),
        )
        .when(
            (scheme == "https") & host.endswith(":443"),
            host.substr(F.lit(1), F.length(host) - 4),
        )
        .otherwise(host)
    )
    path = F.when(path == "", F.lit("/")).otherwise(path)
    kept = F.array_sort(F.filter(F.split(qs, "&"), lambda prm: ~_is_tracking_param(prm)))
    qtail = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))
    norm = F.when(
        scheme == "", u  # non-URL input: pass through unchanged
    ).otherwise(F.concat(scheme, F.lit("://"), host, path, qtail))
    return df.withColumn("url_norm", norm)


def _two_phase_prefix_sums(
    df: DataFrame,
    order_cols: list[str],
    sums: dict[str, object],
    bucket,
) -> DataFrame:
    """Global EXCLUSIVE running sums over `order_cols` order without a
    single-partition window: `bucket` splits the order into ordered
    buckets, per-BUCKET running sums (bounded window partitions), then
    the per-bucket totals are broadcast back as offsets. The collect is
    bounded by the bucket count — one tiny row per bucket — never by
    data size. `sums` maps output column name -> value column (name or
    Column); each output is the sum of its value over all rows strictly
    before the row in the global order.

    `bucket` is a DETERMINISTIC bucket id that must be monotone in the
    order key (e.g. key div step for a uniform hash key), so the window
    demands exactly ONE exchange and the output is a pure function of
    the global order, never of the physical partitioning
    (parallelism-invariance tests pin this)."""
    spark = df.sparkSession
    d = df
    names = list(sums)
    for out, c in sums.items():
        col = F.col(c) if isinstance(c, str) else c
        d = d.withColumn(f"{out}_v", col)
    d = d.withColumn("_pid", bucket.cast("int"))
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    for out in names:
        d = d.withColumn(
            f"{out}_run", F.sum(f"{out}_v").over(w) - F.col(f"{out}_v")
        )
    totals = {
        r["_pid"]: r
        for r in d.groupBy("_pid")
        .agg(*[F.sum(f"{out}_v").alias(f"{out}_tot") for out in names])
        .collect()
    }
    offs, acc = [], {out: 0 for out in names}
    for pid in sorted(totals):
        offs.append((pid, *[acc[out] for out in names]))
        for out in names:
            acc[out] += totals[pid][f"{out}_tot"] or 0
    schema = "_pid int, " + ", ".join(f"{out}_off long" for out in names)
    off_df = spark.createDataFrame(offs or [(0, *[0] * len(names))], schema)
    d = d.join(F.broadcast(off_df), "_pid")
    for out in names:
        d = d.withColumn(
            out, (F.col(f"{out}_off") + F.col(f"{out}_run")).cast("long")
        ).drop(f"{out}_v", f"{out}_run", f"{out}_off")
    return d.drop("_pid")


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


def temperature_sample(
    df: DataFrame,
    alpha: float = 0.5,
    strat_col: str = "lang",
    id_col: str = "doc_id",
    denom: int = 10000,
) -> DataFrame:
    """Multilingual temperature rebalancing (the XLM-R / mT5 corpus-
    mixing rule): resample so stratum probabilities follow p^alpha
    instead of p — high-resource languages are downsampled toward the
    low-resource ones as alpha -> 0; alpha = 1 keeps the natural
    distribution. Unlike stratified_sample (explicit per-stratum
    quotas), the rates here are DERIVED from the corpus itself:

        rate(s) = (n_min / n_s) ** (1 - alpha)

    so the rarest stratum is kept in full and every other stratum is
    kept at the rate that makes post-sample counts proportional to
    n_s^alpha. Rates are quantised to 1/denom via floor (floor, not
    round: both engines' float rounding of exact .5 products could
    differ in principle; floor of an identical double cannot),
    clamped to at least one bucket so extreme skew cannot zero a
    stratum out entirely, and
    applied with the reproducible md5 bucket of stratified_sample — no
    RNG, identical under re-runs, resume, and the SQL oracle.

    Exactness: at the default alpha = 0.5 the rate is sqrt(n_min/n_s) —
    bigint->double casts are exact for real stratum counts, IEEE
    division and sqrt are correctly rounded, so Spark and DuckDB agree
    bit-for-bit. Other alphas go through pow(), which is NOT required
    to be correctly rounded and may differ between libms in the last
    ulp; the operator supports them, the oracled config pins 0.5.

    NULL strata are a legitimate state (lang-id abstains) and form
    their own stratum: the threshold join is null-safe (equi-joins drop
    NULL keys; window-as-join needs the same care — round-4 review).

    Plan / 100 TB shape: one tiny groupBy(stratum) count (partially
    aggregated map-side, rows = #strata), a 1-row min roll-up cross-
    joined back, then ONE broadcast join of the #strata-row threshold
    table onto the corpus — the corpus itself never shuffles.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError("temperature_sample: alpha must be in [0, 1]")
    counts = df.groupBy(F.col(strat_col).alias("_strat")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    nmin = counts.agg(F.min("_n").alias("_nmin"))
    ratio = F.col("_nmin").cast("double") / F.col("_n").cast("double")
    if alpha == 0.5:
        rate = F.sqrt(ratio)
    else:
        rate = F.pow(ratio, F.lit(1.0 - alpha))
    # Clamp to >= 1 bucket: real web-crawl skew can push a huge
    # stratum's rate below 1/denom (e.g. n_min=3 vs n_en=1e9 at
    # alpha=0.5 -> rate ~5e-5), and floor alone would zero its
    # threshold and silently drop the ENTIRE stratum — the opposite of
    # rebalancing. The clamp keeps >= ~n/denom of it, deterministic
    # and oracle-replayable (greatest(floor(...), 1) in SQL).
    thresholds = (
        counts.crossJoin(F.broadcast(nmin))
        .select(
            "_strat",
            F.greatest(F.floor(rate * F.lit(float(denom))), F.lit(1))
            .cast("int")
            .alias("_thresh"),
        )
    )
    bucket = sample_bucket(id_col, denom)
    t = F.broadcast(thresholds)
    joined = df.join(t, df[strat_col].eqNullSafe(t["_strat"]), "inner")
    return joined.where(bucket < F.col("_thresh")).drop("_strat", "_thresh")


def shuffle_shards(
    df: DataFrame,
    shard_tokens: int,
    seed: str = "",
    id_col: str = "doc_id",
    n_tokens_col: str = "n_tokens",
    n_partitions: int | None = None,
) -> DataFrame:
    """Deterministic global TRAINING-ORDER shuffle + token-balanced
    shard assignment — the last stage before a trainer reads the
    corpus. Documents are placed in the pseudo-random total order given
    by the md5 of (seed, id) and cut greedily into shards of ~
    ``shard_tokens`` tokens each (a document never splits across
    shards; a shard may overshoot by less than one document — the
    standard whole-doc sharding rule).

    Returns one row per input row:
        <id>        the document
        pos         long   0-based position in the global shuffled order
        tok_offset  long   tokens strictly before this doc in that order
        shard_id    long   tok_offset div shard_tokens

    Changing ``seed`` yields an unrelated order (new training epoch /
    re-shuffle); the same seed is stable under re-runs, resume, and any
    parallelism — the order key is data-derived, never rand() or
    physical row order. NULL/negative token counts count as 0 (the doc
    still occupies a position).

    Plan / 100 TB shape: the only wide op is ONE exchange on an
    equal-width slice of the 60-bit order key (uniform by construction —
    md5 output, so hot hosts or doc sizes cannot skew it); prefix sums
    are two-phase per-bucket windows + broadcast offsets
    (_two_phase_prefix_sums) — no global window, driver traffic bounded
    by the partition count. Rows carry (id, key, n_tokens) only, never
    text.
    """
    if shard_tokens <= 0:
        raise ValueError("shuffle_shards: shard_tokens must be positive")
    spark = df.sparkSession
    if n_partitions is None:
        n_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    key = hash60(
        F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))
    )
    ntok = F.greatest(
        F.coalesce(F.col(n_tokens_col).cast("long"), F.lit(0).cast("long")),
        F.lit(0).cast("long"),
    )
    items = df.select(
        F.col(id_col), key.alias("_k"), ntok.alias("_nt")
    )
    # Tie-break by id: 60-bit collisions are ~never at test scale but
    # the order must be TOTAL for the output to be well-defined.
    # The order key is a uniform 60-bit hash BY CONSTRUCTION, so the
    # prefix-sum buckets are a deterministic equal-width slice of the
    # key space (monotone in _k, balanced without sampling).
    step = (1 << 60) // int(n_partitions)
    d = _two_phase_prefix_sums(
        items,
        ["_k", id_col],
        {"tok_offset": "_nt", "pos": F.lit(1)},
        F.expr(f"_k div {step}"),
    )
    return d.select(
        F.col(id_col),
        F.col("pos"),
        F.col("tok_offset"),
        (F.expr(f"tok_offset div {int(shard_tokens)}")).alias("shard_id"),
    )
