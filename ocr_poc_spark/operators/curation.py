"""Corpus-curation operators beyond per-document signals: the cross-
document passes a web-scale training-data pipeline runs between
extraction and tokenization.

- boilerplate_shingle_stats : RefinedWeb/C4-style "line dedup" analogue
  — fraction of a document made of spans that repeat across the corpus
  (nav menus, cookie banners, legal footers). Spans are k-word shingles
  because the curated unit here is whitespace text; on corpora with
  real newlines pass a line splitter instead.
- decontaminate             : benchmark-overlap flagging (GPT-3/Llama
  style eval decontamination) — count n-grams shared with a benchmark
  set and flag contaminated documents.
- stratified_sample         : deterministic per-stratum quota sampling
  (corpus mixing) via a reproducible md5 bucket — no RNG, so re-runs
  and resumed partitions select the same documents.
- host_cap                  : at most k documents per host/source,
  selected by a stable hash order (domain-balance cap).

All native column expressions; every shuffle carries ids + 60-bit
hashes only, never document bodies. The 60-bit hash is the md5-hex15
trick shared with fingerprint/minhash so the DuckDB oracle can
recompute every operator exactly.

Scale notes (100 TB):
- boilerplate: explode is per-DISTINCT-shingle (bounded by doc length);
  the groupBy key is a uniform hash -> no skew; partial aggregation
  collapses each doc's rows map-side before both shuffles.
- decontaminate: the benchmark n-gram set is explicitly broadcast (eval
  sets are ~10^6-10^7 n-grams — megabytes); the corpus side shuffles
  once, on doc id, carrying one boolean per n-gram (map-side combine
  collapses to one row per doc before the exchange because exploded
  rows of a doc are co-partitioned with their input split).
- stratified_sample: map-only, zero shuffle.
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


def decontaminate(
    df: DataFrame,
    bench_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: per corpus document, the number of
    distinct n-gram hashes shared with `bench_df` (same text_col), and
    a contaminated flag at `min_overlap`.

    The benchmark side is collapsed to its distinct n-gram hashes and
    broadcast — the canonical plan at scale, since eval suites are
    orders of magnitude smaller than the corpus. The corpus side
    shuffles exactly once, on the doc id, after a map-side partial
    aggregate; docs shorter than n words never explode and return via a
    constant union branch (no join-back)."""
    bench = (
        bench_df.select(_norm_words(text_col).alias("_w"))
        .select(F.explode(F.array_distinct(_shingle_hashes("_w", n))).alias("_h"))
        .distinct()
        .select("_h", F.lit(1).alias("_hit"))
    )
    base = df.select(F.col(id_col).alias("_id"), _norm_words(text_col).alias("_w"))
    short = base.where(F.size("_w") < n).select(
        F.col("_id").alias(id_col),
        F.lit(0).cast("long").alias("n_ngrams"),
        F.lit(0).cast("long").alias("n_overlap"),
        F.lit(min_overlap <= 0).alias("contaminated"),
    )
    exploded = (
        base.where(F.size("_w") >= n)
        .select("_id", F.explode(F.array_distinct(_shingle_hashes("_w", n))).alias("_h"))
    )
    overlap = (
        exploded.join(F.broadcast(bench), "_h", "left")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(F.coalesce("_hit", F.lit(0))).alias("n_overlap"),
        )
        .select(
            F.col("_id").alias(id_col),
            F.col("n_ngrams").cast("long").alias("n_ngrams"),
            F.col("n_overlap").cast("long").alias("n_overlap"),
            (F.col("n_overlap") >= min_overlap).alias("contaminated"),
        )
    )
    return overlap.unionByName(short)


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


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    stride: int = 64,
) -> DataFrame:
    """Training-sequence prep: split each document into fixed-size
    word windows with overlap (stride <= chunk_tokens, enforced — a
    larger stride would silently drop the words between windows) — the
    per-document half of sequence packing. Returns (id, chunk_idx,
    chunk_text, n_tokens); a doc shorter than one window yields its
    single short chunk; an EMPTY (or NULL / whitespace-only) doc yields
    no chunks at all. Map-only + explode: zero shuffle, linear at any
    corpus size.

    Window starts step by `stride`; the last window may be short but is
    never empty; starts past the end emit nothing (a doc of w words has
    ceil(max(w - chunk_tokens, 0) / stride) + 1 chunks).
    """
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    if stride > chunk_tokens:
        raise ValueError(
            f"stride ({stride}) > chunk_tokens ({chunk_tokens}) would drop "
            "the words between windows"
        )
    df = df.where(F.length(F.trim(F.coalesce(F.col(text_col), F.lit("")))) > 0)
    w = _norm_words(text_col)
    n_chunks = F.expr(
        f"1 + cast(ceil(greatest(size(_w) - {chunk_tokens}, 0) / {stride}) as int)"
    )
    slice_sql = f"slice(_w, i * {stride} + 1, {chunk_tokens})"
    chunks = F.expr(
        f"transform(sequence(0, _nc - 1), "
        f"i -> struct(i as chunk_idx, "
        f"concat_ws(' ', {slice_sql}) as chunk_text, "
        f"size({slice_sql}) as n_tokens))"
    )
    return (
        df.select(F.col(id_col).alias(id_col), w.alias("_w"))
        .withColumn("_nc", n_chunks)
        .select(id_col, F.explode(chunks).alias("_c"))
        .select(
            id_col,
            F.col("_c.chunk_idx").alias("chunk_idx"),
            F.col("_c.chunk_text").alias("chunk_text"),
            F.col("_c.n_tokens").alias("n_tokens"),
        )
    )


def vocab_topk(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 100,
    min_count: int = 1,
    id_col: str | None = None,
) -> DataFrame:
    """Corpus vocabulary stats: global term frequencies + document
    frequencies, top-k by count (count desc, term asc — deterministic).

    Plan: ONE scan + tokenization -> explode (doc, term) occurrences ->
    groupBy (term, doc) with map-side partial aggregation (collapses a
    doc's repeats before the exchange) -> groupBy term over the tiny
    per-(term, doc) rows (term_count = sum, doc_count = count) ->
    distributed top-k via sort+limit (TakeOrderedAndProject, never a
    global window). No self-join, no second pass over the corpus.

    Pass ``id_col`` when the frame has a real document id: the
    intermediate (term, doc) frame is then inspectable and provably
    partition-independent. Without one, a synthetic per-row id stands in
    (output counts are invariant to the ids — each input row is one
    document either way).
    """
    doc_key = F.col(id_col) if id_col else F.monotonically_increasing_id()
    terms = (
        df.select(doc_key.alias("_d"), _norm_words(text_col).alias("_w"))
        .select("_d", F.explode("_w").alias("term"))
        .where(F.col("term") != "")
    )
    per_doc = terms.groupBy("term", "_d").agg(F.count(F.lit(1)).alias("_c"))
    return (
        per_doc.groupBy("term")
        .agg(
            F.sum("_c").alias("term_count"),
            F.count(F.lit(1)).alias("doc_count"),
        )
        .where(F.col("term_count") >= min_count)
        .orderBy(F.desc("term_count"), F.asc("term"))
        .limit(top_k)
    )


def _two_phase_prefix_sums(
    df: DataFrame,
    order_cols: list[str],
    sums: dict[str, object],
    n_partitions: int,
    bucket=None,
) -> DataFrame:
    """Global EXCLUSIVE running sums over `order_cols` order without a
    single-partition window: split the order into n_partitions ordered
    buckets, per-BUCKET running sums (bounded window partitions), then
    broadcast the per-bucket totals back as offsets. The collect is
    bounded by the bucket count — one tiny row per bucket — never by
    data size. `sums` maps output column name -> value column (name or
    Column); each output is the sum of its value over all rows strictly
    before the row in the global order.

    The output is a pure function of the global order, never of the
    physical partitioning (parallelism-invariance tests pin this).

    Bucketing strategy — two paths, same semantics:
    - bucket=None: repartitionByRange on the order key (works for ANY
      key distribution; range boundaries come from Spark's sampling).
      The row->bucket map is then a property of the physical lineage,
      so it is pinned with a localCheckpoint — which ERASES the range
      partitioner at the SQL layer and costs the window's ENSURE_
      REQUIREMENTS a second (pid-keyed, ids-only) exchange.
    - bucket=<Column>: a caller-supplied DETERMINISTIC bucket id that
      must be monotone in the order key (e.g. key div step for a
      uniform hash key). No repartition, no checkpoint, and the window
      demands exactly ONE exchange — the plan a 100 TB run wants when
      the order key is uniform by construction."""
    spark = df.sparkSession
    d = df
    names = list(sums)
    for out, c in sums.items():
        col = F.col(c) if isinstance(c, str) else c
        d = d.withColumn(f"{out}_v", col)
    if bucket is not None:
        d = d.withColumn("_pid", bucket.cast("int"))
    else:
        d = d.repartitionByRange(n_partitions, *order_cols).withColumn(
            "_pid", F.spark_partition_id()
        )
        # Pin the row->partition assignment: the totals collect and the
        # main pass must see the SAME assignment (deterministic for one
        # lineage, but pinning is free and local).
        d = d.localCheckpoint(eager=False)
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


def pack_sequences(
    chunks: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    chunk_idx_col: str = "chunk_idx",
    n_tokens_col: str = "n_tokens",
    n_partitions: int | None = None,
) -> DataFrame:
    """Pack chunk_documents output into fixed-length training sequences
    (the final stage of an LLM data pipeline): conceptually concatenate
    all chunks in global (id, chunk_idx) order into one token stream and
    cut it every ``seq_len`` tokens — the GPT-style concat-and-slice
    packing. Documents/chunks MAY cross sequence boundaries; boundary
    attribution is returned per piece, so every training sequence can be
    reassembled and every token traced back to its source chunk.

    Returns one row per (sequence, piece):
        seq_id          long  sequence number (0-based)
        tok_start/_end  int   half-open token span WITHIN the sequence
        <id>, <chunk_idx>     the source chunk
        chunk_tok_start/_end  half-open span WITHIN the source chunk
    Every sequence except the last covers exactly [0, seq_len) with no
    gaps or overlaps. Zero-token chunks carry no tokens and are skipped.

    The packing rule is a pure function of the GLOBAL chunk order, never
    of the physical partitioning, so output is identical at any
    parallelism (tested) and recomputable in plain SQL as a window
    cumsum. At scale the prefix sum is two-phase instead of one global
    window: range-partition by the order key, per-PARTITION running sums
    (bounded window partitions), then per-partition totals — at most one
    tiny row per partition — are collected and broadcast back as
    offsets. The collect is bounded by the partition count, exactly like
    run_job's manifest collect, never by data size.
    """
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    spark = chunks.sparkSession
    if n_partitions is None:
        n_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))

    items = chunks.select(id_col, chunk_idx_col, n_tokens_col).where(
        F.col(n_tokens_col) > 0
    )
    d = _two_phase_prefix_sums(
        items, [id_col, chunk_idx_col], {"_start": n_tokens_col}, n_partitions
    )
    end = F.col("_start") + F.col(n_tokens_col).cast("long")
    L = F.lit(seq_len).cast("long")
    d = d.withColumn("_end", end)
    # Integer div, not floor(double division): token offsets at
    # 10^12-doc scale exceed the 2^53 exact-integer range of doubles.
    seqs = F.sequence(
        F.expr(f"_start div {seq_len}"), F.expr(f"(_end - 1) div {seq_len}")
    )
    e = d.withColumn("seq_id", F.explode(seqs))
    lo = F.greatest(F.col("_start"), F.col("seq_id") * L)
    hi = F.least(F.col("_end"), (F.col("seq_id") + 1) * L)
    return e.select(
        F.col("seq_id").cast("long").alias("seq_id"),
        (lo - F.col("seq_id") * L).cast("int").alias("tok_start"),
        (hi - F.col("seq_id") * L).cast("int").alias("tok_end"),
        F.col(id_col),
        F.col(chunk_idx_col),
        (lo - F.col("_start")).cast("int").alias("chunk_tok_start"),
        (hi - F.col("_start")).cast("int").alias("chunk_tok_end"),
    )


def strip_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """RefinedWeb-style exact line dedup that actually REWRITES the
    text (boilerplate_shingle_stats is the read-only signal): a line
    whose normalized form (trimmed, lowercased) appears in >= min_docs
    DISTINCT documents is removed from every document; everything else
    is preserved verbatim, in order. Blank/whitespace-only lines never
    participate in counting and are always kept (they are structure,
    not content). Returns (id, text_clean, n_lines, n_removed) — one
    row per input document, including documents with no line breaks,
    fully-stripped documents (text_clean = remaining lines, possibly
    empty) and NULL-text documents ('' in, '' out).

    Plan: split -> posexplode (id, idx, line) -> per-line 60-bit hash;
    participating (id, hash) pairs are distinct-per-doc, so a window
    count over the hash IS the distinct-doc frequency (no self-join);
    lines join the flagged-hash set with a LEFT ANTI on the uniform
    hash key; the rebuild is one groupBy(id) assembling sort_array of
    (idx, line) — a document's own lines only, the same per-doc bound
    every extractor stage already holds. Shuffles carry (id, idx,
    line) once for the rebuild and bare (id, hash) for the counting.
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        F.split(F.coalesce(F.col(text_col), F.lit("")), "\n").alias("_ls"),
    )
    lines = base.select(
        "_id",
        F.posexplode("_ls").alias("_idx", "_line"),
    ).withColumn("_norm", F.lower(F.trim("_line")))
    participating = F.length("_norm") > 0
    boiler = (
        lines.where(participating)
        .select("_id", hash60("_norm").alias("_h"))
        .distinct()
        .withColumn("_n_docs", F.count(F.lit(1)).over(Window.partitionBy("_h")))
        .where(F.col("_n_docs") >= min_docs)
        .select("_h")
        .distinct()
    )
    flagged = lines.withColumn(
        "_h", F.when(participating, hash60("_norm"))
    ).join(boiler, "_h", "left_anti")
    rebuilt = flagged.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_idx", "_line"))),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    totals = lines.groupBy("_id").agg(F.count(F.lit(1)).alias("n_lines"))
    return (
        totals.join(rebuilt, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.col("n_lines").cast("long").alias("n_lines"),
            (F.col("n_lines") - F.coalesce("_n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


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


def _span_tok_base(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_id, _toks) frame with the span operators' shared tokenisation:
    norm_words with empties dropped, NULL text => empty array. ONE
    definition — dedup_spans and decontaminate_spans must tokenise
    identically or their oracles (and the --span-dedup ->
    --decontaminate-spans composition) drift."""
    toks = F.filter(
        F.coalesce(
            _raw_norm_words(text_col), F.expr("CAST(array() AS ARRAY<STRING>)")
        ),
        lambda w: F.length(w) > 0,
    )
    return df.select(F.col(id_col).alias("_id"), toks.alias("_toks"))


def _span_occurrences(base: DataFrame, k: int) -> DataFrame:
    """All k-shingle occurrences of a _span_tok_base frame as
    (_id, _pos, _h) rows — 60-bit md5-hex15 hashes, positions 0-based;
    sub-k-token docs emit nothing (sequence guard per texthash docs)."""
    span_structs = F.expr(
        f"CASE WHEN size(_toks) >= {k} THEN "
        f"transform(sequence(1, size(_toks) - {k - 1}), "
        f"i -> struct(cast(i - 1 as int) as pos, "
        f"cast(conv(substring(md5(concat_ws(' ', slice(_toks, i, {k}))), 1, 15), 16, 10) as bigint) as h)) "
        f"ELSE CAST(array() AS ARRAY<STRUCT<pos: INT, h: BIGINT>>) END"
    )
    return base.select("_id", F.explode(span_structs).alias("_s")).select(
        "_id", F.col("_s.pos").alias("_pos"), F.col("_s.h").alias("_h")
    )


def _excise_spans(
    base: DataFrame, removals: DataFrame, k: int, id_col: str
) -> DataFrame:
    """Shared rebuild tail: drop every token covered by a removal
    window [pos, pos + k) and re-join the survivors — returns one row
    per base doc: (id, text_clean, n_tokens, n_removed)."""
    starts = removals.groupBy("_id").agg(
        F.array_sort(F.collect_list("_pos")).alias("_starts")
    )
    joined = base.join(starts, "_id", "left").withColumn(
        "_st", F.coalesce("_starts", F.expr("CAST(array() AS ARRAY<INT>)"))
    )
    kept = F.expr(
        f"filter(_toks, (t, i) -> NOT exists(_st, p -> p <= i AND i < p + {k}))"
    )
    return joined.select(
        F.col("_id").alias(id_col),
        F.array_join(kept, " ").alias("text_clean"),
        F.size("_toks").cast("long").alias("n_tokens"),
        (F.size("_toks") - F.size(kept)).cast("long").alias("n_removed"),
    )


def dedup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Span-level EXACT substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): remove every >=
    span_tokens-token span whose exact token sequence occurs at least
    min_count times across the corpus, keeping only the globally first
    occurrence. Complements strip_boilerplate_lines (line-level) and
    MinHash/semantic (document-level) — this is the pass that
    excises a verbatim licence block or syndicated paragraph embedded
    inside otherwise-unique documents, without dropping the documents.

    Semantics (deterministic, oracle-replayable):
    - tokens = whitespace-split of lower(trim(text)), empties dropped
      (the shared norm_words tokenisation); output text is therefore
      the normalised token stream re-joined by single spaces.
    - every span_tokens-token window (shingle) is hashed (60-bit
      md5-hex15); a hash with >= min_count occurrences corpus-wide is
      duplicated (same-document repeats count).
    - the canonical occurrence of a duplicated shingle is the minimum
      (id, pos) pair; every OTHER occurrence marks its window
      [pos, pos + span_tokens) for removal in its document. Because a
      duplicated region of length L >= k contributes L-k+1 overlapping
      duplicated shingles, the union of marked windows covers the
      maximal duplicated span, not just one window.
    - edge: a document can own one shingle of an overlapping region
      while losing a neighbouring one to an earlier document; removal
      is the union of lost windows — aggressive but deterministic.

    Returns one row per input document (NULL text => '' out):
      (id, text_clean, n_tokens, n_removed).

    Plan / 100 TB shape: occurrence rows carry ONLY (hash, id, pos) —
    never text — through two exchanges. Duplicate detection is a
    groupBy(hash) agg of count + min(struct(id, pos)): both partially
    aggregable, so a cookie-banner span duplicated in 10^8 documents
    is collapsed map-side instead of sorting a hot window partition
    (why this differs from strip_boilerplate_lines's window form,
    whose per-doc-distinct line rows stay small). The join back to
    occurrences is an equi-join on the uniform 60-bit hash (AQE skew
    split handles a residual hot hash). Rebuild joins a per-doc sorted
    start array (bounded by the doc's own token count) back to the
    token arrays and filters with one EXISTS higher-order function per
    token — O(|tokens| * |starts|) per doc, linear for real corpora
    where duplicated-span density is far below saturation.
    """
    if span_tokens < 2:
        raise ValueError("dedup_spans: span_tokens must be >= 2")
    if min_count < 2:
        raise ValueError("dedup_spans: min_count must be >= 2")
    k = int(span_tokens)
    base = _span_tok_base(df, id_col, text_col)
    occ = _span_occurrences(base, k)
    dup = (
        occ.groupBy("_h")
        .agg(
            F.count(F.lit(1)).alias("_cnt"),
            F.min(F.struct(F.col("_id"), F.col("_pos"))).alias("_first"),
        )
        .where(F.col("_cnt") >= min_count)
        .select("_h", "_first")
    )
    removals = (
        occ.join(dup, "_h")
        .where(
            ~(
                (F.col("_id") == F.col("_first._id"))
                & (F.col("_pos") == F.col("_first._pos"))
            )
        )
        .select("_id", "_pos")
    )
    return _excise_spans(base, removals, k, id_col)


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
    standard whole-doc sharding rule; pack_sequences is the stage that
    splits token streams exactly).

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

    Plan / 100 TB shape: the only wide op is ONE range repartition by
    the 60-bit order key (uniform by construction — md5 output, so the
    range partitioner cannot be skewed by hot hosts or doc sizes);
    prefix sums are the same two-phase per-partition-window + broadcast-
    offsets scheme as pack_sequences (_two_phase_prefix_sums) — no
    global window, driver traffic bounded by the partition count. Rows
    carry (id, key, n_tokens) only, never text.
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
    # key space (monotone in _k, balanced without sampling): the
    # one-exchange path of _two_phase_prefix_sums.
    step = (1 << 60) // int(n_partitions)
    d = _two_phase_prefix_sums(
        items,
        ["_k", id_col],
        {"tok_offset": "_nt", "pos": F.lit(1)},
        n_partitions,
        bucket=F.expr(f"_k div {step}"),
    )
    return d.select(
        F.col(id_col),
        F.col("pos"),
        F.col("tok_offset"),
        (F.expr(f"tok_offset div {int(shard_tokens)}")).alias("shard_id"),
    )


def decontaminate_spans(
    df: DataFrame,
    bench_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
) -> DataFrame:
    """Surgical benchmark decontamination: REWRITE each document with
    every >= span_tokens-token window that appears verbatim in the
    benchmark corpus excised, instead of dropping the whole document
    (`decontaminate` flags docs; this removes just the leaked spans —
    the "surgical" variant real pipelines run when a one-line benchmark
    quote would otherwise cost an entire long document).

    Same deterministic token/shingle semantics as dedup_spans (shared
    norm_words tokenisation, 60-bit md5-hex15 shingle hashes, union of
    overlapping matched windows covers the maximal leaked span) with
    one intentional difference: there is NO canonical first occurrence
    — every occurrence of a benchmark shingle is removed, because the
    goal is zero eval-set overlap, not one surviving copy.

    Returns one row per input document (NULL text => '' out):
      (id, text_clean, n_tokens, n_removed).

    Plan / 100 TB shape: the benchmark collapses to its DISTINCT
    shingle hashes and is broadcast (eval suites are orders of
    magnitude smaller than the corpus — same rationale as
    decontaminate), so matching is a map-side LEFT SEMI: corpus
    occurrence rows (id, pos) only ever shuffle once, into the per-doc
    start-array groupBy. One exchange on the occurrence side plus the
    id-equi-join back to the token arrays — strictly fewer exchanges
    than dedup_spans (no corpus-wide hash groupBy, no hash join-back).
    """
    if span_tokens < 2:
        raise ValueError("decontaminate_spans: span_tokens must be >= 2")
    k = int(span_tokens)
    base = _span_tok_base(df, id_col, text_col)
    occ = _span_occurrences(base, k)
    bench = (
        _span_tok_base(bench_df, text_col, text_col)
        .where(F.size("_toks") >= k)
        .select(F.explode(F.array_distinct(_shingle_hashes("_toks", k))).alias("_h"))
        .distinct()
    )
    removals = occ.join(F.broadcast(bench), "_h", "left_semi").select("_id", "_pos")
    return _excise_spans(base, removals, k, id_col)


def strip_repeated_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Within-document repeated-line removal — the SELF-repetition
    rewrite (Dolma-style) complementing strip_boilerplate_lines
    (cross-document): a line whose normalized form (ALL edge
    whitespace stripped — including \r/\t, so CRLF splits match —
    then lowercased) already occurred EARLIER in the same document is
    dropped; the first occurrence and all blank lines are kept
    verbatim, in order (blanks are structure, not content — same
    contract as the cross-doc pass). Catches the chrome web pages
    repeat inside one page (cookie banners rendered per section,
    repeated share bars) that no cross-document threshold sees.

    ENTIRELY map-only — the keep decision is one higher-order filter
    over the document's own line array, zero shuffle, no state. The
    per-doc cost is O(lines^2) comparisons (each line scans its
    predecessors); for real pages (hundreds of lines) that is
    microseconds, and a pathological million-line doc should be length-
    gated before it reaches any curation stage anyway. NULL text reads
    as one blank line ('' in, '' out).

    Returns (id, text_clean, n_lines, n_removed)."""
    base = df.select(
        F.col(id_col),
        F.split(F.coalesce(F.col(text_col), F.lit("")), "\n").alias("_ls"),
    )
    # normalization strips ALL leading/trailing whitespace (regexp,
    # not trim(): trim only removes ASCII spaces, so CRLF documents —
    # 'nav\r' vs 'nav' after a \n split — and tab-padded chrome would
    # otherwise defeat the match; an all-\r/\t line counts as blank)
    norm = "regexp_replace({x}, '^\\\\s+|\\\\s+$', '')"
    kept = F.expr(
        "filter(_ls, (l, i) -> "
        + norm.format(x="l") + " = '' OR NOT exists("
        "slice(_ls, 1, i), p -> lower(" + norm.format(x="p") + ")"
        " = lower(" + norm.format(x="l") + ")))"
    )
    return base.select(
        id_col,
        F.array_join(kept, "\n").alias("text_clean"),
        F.size("_ls").cast("long").alias("n_lines"),
        (F.size("_ls") - F.size(kept)).cast("long").alias("n_removed"),
    )


def benchmark_coverage(
    df: DataFrame,
    bench_df: DataFrame,
    bench_id_col: str = "bench_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark-side contamination report — the reverse direction of
    `decontaminate`: for each BENCHMARK document, the fraction of its
    distinct n-grams that appear anywhere in the corpus. Corpus-side
    flags tell you which training docs to drop; THIS tells you which
    eval rows are already compromised (a benchmark item 90%-covered by
    the corpus measures memorization, not ability) — the integrity
    report an eval owner reads before trusting a score.

    Plan shape (deliberately the mirror of decontaminate's): the
    BENCHMARK side is tiny and explodes to (bench_id, hash) rows; the
    CORPUS side collapses to its distinct n-gram hashes — too big to
    broadcast at 100 TB, so the membership test is a LEFT SEMI
    equi-join on the uniform 60-bit hash key (bare hashes, partial-
    aggregated distinct, the cheapest possible corpus projection).
    Sub-n-word benchmark docs report n_ngrams = 0 with coverage NULL
    (nothing to leak — never a divide error).

    Returns (bench_id, n_ngrams, n_found, coverage round 6)."""
    corpus = (
        df.select(_norm_words(text_col).alias("_w"))
        .where(F.size("_w") >= n)
        .select(F.explode(F.array_distinct(_shingle_hashes("_w", n))).alias("_h"))
        .distinct()
    )
    bench = bench_df.select(
        F.col(bench_id_col).alias("_bid"), _norm_words(text_col).alias("_w")
    )
    exploded = (
        bench.where(F.size("_w") >= n)
        .select("_bid", F.explode(F.array_distinct(_shingle_hashes("_w", n))).alias("_h"))
    )
    # ONE pass over the exploded bench side (decontaminate's shape):
    # left join against the marked corpus hashes, count + sum(marker)
    # in the same aggregate — no second explode, no agg-to-agg join.
    marked = corpus.withColumn("_hit", F.lit(1))
    full = (
        exploded.join(marked, "_h", "left")
        .groupBy("_bid")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(F.coalesce("_hit", F.lit(0))).alias("n_found"),
        )
        .select(
            F.col("_bid").alias(bench_id_col),
            F.col("n_ngrams").cast("long").alias("n_ngrams"),
            F.col("n_found").cast("long").alias("n_found"),
            F.round(F.col("n_found") / F.col("n_ngrams"), 6).alias("coverage"),
        )
    )
    short = bench.where(F.size("_w") < n).select(
        F.col("_bid").alias(bench_id_col),
        F.lit(0).cast("long").alias("n_ngrams"),
        F.lit(0).cast("long").alias("n_found"),
        F.lit(None).cast("double").alias("coverage"),
    )
    return full.unionByName(short)
