"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k (baseline; exact; O(Q*N) broadcast join)
  and exact all-pairs cosine near-dup pairs (O(n^2); oracle-checkable)
- random-hyperplane LSH bucketing (scale path: candidates only within
  matching buckets, then exact re-rank) for top-k and near-dup pairs
- IVF ANN: k-means coarse quantizer + n_probe search
- SemDeDup: nearest-centroid assignment, in-cluster near-dup pairs,
  one keeper per duplicate component
- int8 embedding quantization and the ANN recall audit

All arithmetic runs JVM-side through higher-order functions
(zip_with/aggregate); no Python UDFs.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from pyspark.sql.column import Column


def _dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Adds `_v` (double-cast vector) and `_norm`, behind a PLAN FENCE.

    The non-eager localCheckpoint is load-bearing (measured 10x on
    assign_clusters, r6): without it Catalyst collapses the projection
    chain and every downstream higher-order expression (per-centroid
    distance folds, hyperplane dots, cosines) re-evaluates the inlined
    `_v` — and whatever produced the vector, e.g. hash_embedding's
    per-token md5 fold — once per consuming lambda, because interpreted
    HOFs have no common-subexpression elimination. The fence
    materializes rows once on first use (no extra job at call time, a
    fresh RDD per invocation so repeated runs recompute), and Spark
    propagates size stats across it, so downstream auto-broadcasts
    still fire."""
    v = F.transform(vec_col, lambda x: x.cast("double"))
    return (
        df.withColumn("_v", v)
        .withColumn("_norm", F.sqrt(_dot(F.col("_v"), F.col("_v"))))
        .localCheckpoint(eager=False)
    )


def _cosine_or_null(dot, norm_a, norm_b):
    """Exact cosine, NULL when either norm is zero. Spark 4 runs ANSI
    mode: a bare division DIVIDE_BY_ZEROs the whole job on the first
    zero vector (e.g. a hashing-trick embedding of an empty document),
    and NaN would SORT FIRST under desc (NaN is greatest) — NULL rows
    instead drop out of thresholds and rank last, the contract every
    consumer here wants: a zero vector has no defined direction, so it
    is never anyone's near-dup or neighbor."""
    denom = norm_a * norm_b
    return F.when(denom > 0, dot / denom)


def _rerank_pairs(pairs: DataFrame, k: int) -> DataFrame:
    """Shared exact-rerank tail of every ANN/top-k path: given candidate
    rows carrying (query_id, neighbor_id, q_v, q_norm, c_v, c_norm),
    score the exact cosine and keep each query's top k. ONE definition
    of the tie-break ordering (cosine desc, neighbor_id asc) — the
    committed goldens pin it, so it must not fork per operator.
    Zero-norm sides are excluded (no defined cosine), not ranked."""
    from pyspark.sql import Window

    cos = _cosine_or_null(
        _dot(F.col("q_v"), F.col("c_v")), F.col("q_norm"), F.col("c_norm")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("cosine", cos)
        .where(F.col("cosine").isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _join_back_vectors(
    pairs: DataFrame,
    vecs: DataFrame,
    id_col: str,
    qvecs: DataFrame | None = None,
) -> DataFrame:
    """Join normalized vectors back onto ids-only candidate pairs, once
    per side (the candidate-generation shuffles stay ids-only). The
    query side may come from a different frame (serving-mode lookup)."""
    qv = vecs if qvecs is None else qvecs
    return pairs.join(
        qv.select(F.col(id_col).alias("query_id"), F.col("_v").alias("q_v"),
                  F.col("_norm").alias("q_norm")),
        "query_id",
    ).join(
        vecs.select(F.col(id_col).alias("neighbor_id"), F.col("_v").alias("c_v"),
                    F.col("_norm").alias("c_norm")),
        "neighbor_id",
    )


def cosine_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: list[int] | None = None,
    k: int = 3,
    max_broadcast_queries: int = 100_000,
) -> DataFrame:
    """Exact top-k cosine neighbors for the given query rows.

    Queries are broadcast against the corpus — at 100TB the corpus side
    stays partitioned and the small query side ships to every executor.
    ``query_ids`` is therefore mandatory: broadcasting the whole corpus
    as the query side would OOM the driver at scale (use lsh_ann_topk
    for all-vs-all). A bounded query list over ``max_broadcast_queries``
    is refused for the same reason.
    """
    if query_ids is None:
        raise ValueError(
            "cosine_topk requires explicit query_ids (the query side is "
            "broadcast); for all-vs-all ANN use lsh_ann_topk"
        )
    if len(query_ids) > max_broadcast_queries:
        raise ValueError(
            f"refusing to broadcast {len(query_ids)} query vectors "
            f"(> max_broadcast_queries={max_broadcast_queries})"
        )
    base = with_norm(df.select(id_col, vec_col), vec_col)
    q = base.where(F.col(id_col).isin(query_ids))
    q = q.select(
        F.col(id_col).alias("query_id"),
        F.col("_v").alias("q_v"),
        F.col("_norm").alias("q_norm"),
    )
    c = base.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("_v").alias("c_v"),
        F.col("_norm").alias("c_norm"),
    )
    pairs = F.broadcast(q).crossJoin(c).where(F.col("query_id") != F.col("neighbor_id"))
    return _rerank_pairs(pairs, k)


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    rs = np.random.RandomState(seed)
    return rs.randn(n_planes, dim).astype(float).tolist()


def lsh_bucket(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 12,
    seed: int = 7,
    n_tables: int = 1,
) -> DataFrame:
    """Adds LSH (table, bucket) columns, exploded to one row per table:
    per table, bucket = sign bits of dots with n_planes seeded random
    hyperplanes (deterministic literals, broadcast free). Multiple
    tables give OR-amplification: a near pair collides in >=1 table with
    high probability while random pairs stay spread.

    A wrong `dim` would be a SILENT total-recall loss (zip_with pads the
    shorter side with nulls -> every bucket NULL -> the equi-join never
    matches), so the vector length is asserted at execution time."""
    base = with_norm(df, vec_col)
    base = base.where(
        F.when(
            F.size("_v") != F.lit(dim),
            F.raise_error(
                F.concat(
                    F.lit(f"lsh_bucket: dim={dim} but embedding has "),
                    F.size("_v").cast("string"),
                    F.lit(" elements"),
                )
            ).cast("boolean"),
        ).otherwise(F.lit(True))
    )
    entries = []
    for t in range(n_tables):
        bucket = F.lit(0).cast("long")
        for i, plane in enumerate(_hyperplanes(dim, n_planes, seed + 101 * t)):
            p = F.array(*[F.lit(float(x)) for x in plane])
            bit = (_dot(F.col("_v"), p) > 0).cast("long")
            bucket = bucket + F.shiftleft(bit, i)
        entries.append(F.struct(F.lit(t).alias("tbl"), bucket.alias("bkt")))
    e = base.withColumn("_tb", F.explode(F.array(*entries)))
    return e.withColumn("tbl", F.col("_tb.tbl")).withColumn(
        "bucket", F.col("_tb.bkt")
    ).drop("_tb")


def lsh_ann_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 7,
    n_tables: int = 4,
) -> DataFrame:
    """Approximate top-k: exact cosine re-rank within LSH buckets, union
    of candidates over n_tables hash tables. The bucket equi-join
    replaces the cross join — shuffle keys are hash buckets (uniform),
    candidate count ~ N * n_tables / 2^planes per row.

    Ids ONLY ride the bucket self-join (shipping the vectors through it
    would multiply shuffle volume by dim x n_tables); candidate pairs
    are deduped across tables first, then the vectors are joined back
    once per side for the exact scoring."""
    b = lsh_bucket(df.select(id_col, vec_col), id_col, vec_col, dim, n_planes, seed, n_tables)
    band_ids = b.select(id_col, "tbl", "bucket")
    left = band_ids.select(F.col(id_col).alias("query_id"), "tbl", "bucket")
    right = band_ids.select(F.col(id_col).alias("neighbor_id"), "tbl", "bucket")
    pairs = (
        left.join(right, ["tbl", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    vecs = with_norm(df.select(id_col, vec_col), vec_col)
    return _rerank_pairs(_join_back_vectors(pairs, vecs, id_col), k)


def cosine_near_dup_pairs_exact(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cosine_threshold: float = 0.95,
) -> DataFrame:
    """EXACT embedding-cosine near-dup pairs: all-pairs self-join with
    the threshold filter — the small-scale / oracle-checkable variant
    (O(n^2); embedding_near_dup_pairs is the LSH-bucketed scale path,
    same contract, approximate recall)."""
    base = with_norm(df.select(id_col, vec_col), vec_col)
    a = base.select(F.col(id_col).alias("id_a"), F.col("_v").alias("v_a"),
                    F.col("_norm").alias("n_a"))
    b = base.select(F.col(id_col).alias("id_b"), F.col("_v").alias("v_b"),
                    F.col("_norm").alias("n_b"))
    cos = _cosine_or_null(
        _dot(F.col("v_a"), F.col("v_b")), F.col("n_a"), F.col("n_b")
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cos)
        .where(F.col("cosine") >= cosine_threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cosine_threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 7,
    n_tables: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-table LSH
    candidates (high-cosine pairs agree on all sign bits of a table with
    probability (1 - theta/pi)^planes, so >=1 of n_tables catches them)."""
    b = lsh_bucket(df.select(id_col, vec_col), id_col, vec_col, dim, n_planes, seed, n_tables)
    band_ids = b.select(id_col, "tbl", "bucket")
    left = band_ids.select(F.col(id_col).alias("id_a"), "tbl", "bucket")
    right = band_ids.select(F.col(id_col).alias("id_b"), "tbl", "bucket")
    cand = (
        left.join(right, ["tbl", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # Vectors joined back AFTER pair-dedup (ids only ride the band join).
    vecs = with_norm(df.select(id_col, vec_col), vec_col)
    cand = cand.join(
        vecs.select(F.col(id_col).alias("id_a"), F.col("_v").alias("v_a"),
                    F.col("_norm").alias("n_a")),
        "id_a",
    ).join(
        vecs.select(F.col(id_col).alias("id_b"), F.col("_v").alias("v_b"),
                    F.col("_norm").alias("n_b")),
        "id_b",
    )
    cos = _cosine_or_null(
        _dot(F.col("v_a"), F.col("v_b")), F.col("n_a"), F.col("n_b")
    )
    return (
        cand.withColumn("cosine", cos)
        .where(F.col("cosine") >= cosine_threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer + n_probe search.
# ---------------------------------------------------------------------------
def _seed_centroids(dim: int, n_centroids: int, seed: int) -> list[list[float]]:
    rs = np.random.RandomState(seed + 31)
    return rs.randn(n_centroids, dim).astype(float).tolist()


def _sqdist(v, centroid: list[float]) -> "Column":
    # Left-fold sum of squared differences — the SAME IEEE operation
    # order as the pure-Python golden mirror (scripts/make_goldens.py),
    # so distances are bit-exact across the two implementations.
    # Fused INDEX fold (accumulate (v[i]-c[i])^2 over 0..dim-1) rather
    # than zip_with + aggregate: identical float op sequence, but no
    # per-centroid intermediate diff array — measured ~2.5x faster on
    # the sf0.1 fixture (the interpreted HOF fold is the IVF hot spot).
    # The centroid literal array constant-folds to one Literal.
    arr = F.array(*[F.lit(float(x)) for x in centroid])
    idx = F.sequence(F.lit(0), F.lit(len(centroid) - 1))
    return F.aggregate(
        idx,
        F.lit(0.0),
        lambda acc, i: acc
        + (F.get(v, i) - F.get(arr, i)) * (F.get(v, i) - F.get(arr, i)),
    )


# Historic dial (round 3): above this size centroids stopped being
# expression literals (k*dim literal nodes through analysis/codegen)
# and shipped as a broadcast table. Round-4 measurement moved the
# default to BROADCAST AT EVERY k: per-call centroid literals make each
# invocation (and each Lloyd round) a brand-new expression tree that is
# re-analyzed and re-codegen'd (~1s per compile — 3x the actual fixture
# compute), while the broadcast encoding keeps one stable plan whose
# generated code is reused. Results are identical either way: the
# per-(vector, centroid) distance fold and the (distance, index) struct
# argmin are the same IEEE operations in both encodings (parity-tested;
# the literal encoding remains available via centroid_encoding="literal"
# as a second witness).
MAX_LITERAL_CENTROIDS = 64


def _with_centroids_col(base: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Attach the full centroid table to every row as ONE broadcast
    array column `_cents` (sorted struct<i, cvec> — struct ordering
    sorts on the leading cidx field, fixing collect_list's arbitrary
    order). A broadcast cross join against a single-row frame is
    map-side: no corpus row, and in particular no vector, ever crosses
    an exchange — the invariant the literal-array path also holds —
    while keeping the PLAN size independent of k (the centroids ride as
    data, not as k*dim literal nodes)."""
    # NOTE (measured, round 4): the collect_list/array_sort agg looks
    # like a removable extra job, but it is LOAD-BEARING — assembling
    # the single row driver-side makes it a one-row LocalRelation that
    # Catalyst inlines as a literal into every consuming expression,
    # reintroducing the giant per-call literal trees (and their ~7x
    # compile cost) this broadcast encoding exists to avoid. Keep the
    # aggregate: it is a non-foldable barrier.
    cdf = base.sparkSession.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "i int, cvec array<double>",
    ).agg(F.array_sort(F.collect_list(F.struct("i", "cvec"))).alias("_cents"))
    return base.crossJoin(F.broadcast(cdf))


def _sorted_centroid_dists(v) -> "Column":
    """Per-row array of struct(d, i) over the `_cents` column, sorted
    ascending — element 0 is the argmin assignment, the first n_probe
    are the probe set. Same left-fold distance and (d, i) lexicographic
    tie-break as the literal path, so results are bit-identical."""
    dists = F.transform(
        "_cents",
        lambda c: F.struct(
            F.aggregate(
                # zip_with + fold, NOT the index fold _sqdist uses:
                # here the centroid is a RUNTIME struct element, and an
                # index fold pays 4 array-gets + 2 struct extractions
                # per step (the squared difference has no let-binding)
                # — measured ~1.5x slower at the k~sqrt(n) shape. The
                # literal path's constant arrays make the index fold
                # cheap there. Same IEEE op order either way.
                F.zip_with(F.col("_v"), c["cvec"], lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, e: acc + e,
            ).alias("d"),
            c["i"].alias("i"),
        ),
    )
    return F.array_sort(dists)


def kmeans_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    n_centroids: int = 16,
    n_iter: int = 5,
    seed: int = 7,
    prepared: DataFrame | None = None,
) -> list[list[float]]:
    """Deterministic Lloyd's k-means, Spark-native: seeded random init
    (data-independent, so the pure-Python oracle mirror reproduces it
    exactly), a FIXED number of iterations, centroids rounded to 4
    decimals each update.

    Scale shape (MLlib-style): centroids live on the driver (k x dim
    doubles) and enter each assignment pass as literal arrays; the per-
    iteration update is posexplode(vector) -> groupBy(cluster, pos) with
    map-side partial aggregation, so the shuffle carries at most
    k x dim rows per task and the driver collects k x dim totals — no
    vector ever crosses the wire. The 4-decimal rounding quantizes away
    double-summation order noise (Spark task order vs the oracle's file
    order), keeping assignments byte-stable across partitionings.

    The literal-array design point is k up to a few hundred; a
    production IVF with k ~ sqrt(corpus) in the thousands would keep the
    same algorithm but ship centroids as a broadcast table join.

    ``prepared``: an already-materialized frame carrying the normalized
    `_v` column (ivf_ann_topk passes its own checkpointed base so the
    corpus is scanned/normalized/persisted ONCE, not once here and once
    there)."""
    base = prepared
    if base is None:
        base = (
            with_norm(df.select(vec_col), vec_col)
            .select("_v")
            .localCheckpoint(eager=True)
        )
    cents = _seed_centroids(dim, n_centroids, seed)
    for _ in range(n_iter):
        # Broadcast-centroid assignment at EVERY k (not just above
        # MAX_LITERAL_CENTROIDS): per-iteration centroids as literals
        # would make each Lloyd round a brand-new expression tree —
        # re-analyzed and re-codegen'd every time (~1s/iter measured,
        # 3x the actual compute at fixture scale). With centroids as
        # broadcast DATA the plan is identical across rounds, so the
        # compiled code is reused; the assignment itself (sorted
        # distance array element 0) is bit-identical to the literal
        # argmin (same index-fold float ops, same (d, i) tie-break —
        # pinned by the goldens and the paths-agree test). Still a pure
        # map: zero exchanges before the (cluster, pos) update
        # aggregate.
        assigned = _with_centroids_col(base, cents).select(
            _sorted_centroid_dists(F.col("_v"))[0]["i"].alias("c"),
            "_v",
        )
        stats = (
            assigned.select("c", F.posexplode("_v").alias("pos", "val"))
            .groupBy("c", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        sums: dict[int, list[float]] = {}
        counts: dict[int, int] = {}
        for r in stats:
            sums.setdefault(r["c"], [0.0] * dim)[r["pos"]] = r["s"]
            counts[r["c"]] = r["n"]
        cents = [
            [round(sums[i][p] / counts[i], 4) for p in range(dim)]
            if counts.get(i)
            else cents[i]  # empty cluster keeps its previous centroid
            for i in range(n_centroids)
        ]
    return cents


def ivf_ann_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    dim: int = 64,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_iter: int = 5,
    seed: int = 7,
    queries: DataFrame | None = None,
    centroids: list[list[float]] | None = None,
    centroid_encoding: str = "broadcast",
) -> DataFrame:
    """IVF approximate top-k (the k-means alternative to lsh_ann_topk):
    corpus vectors are assigned to their nearest centroid; each query
    probes its n_probe nearest centroids and re-ranks candidates with
    the exact cosine. Recall/cost dial is n_probe/n_centroids (probing
    all centroids degenerates to exact brute force).

    Same shuffle discipline as the LSH path: ids ONLY ride the
    cluster equi-join (a (query, neighbor) pair can appear at most once
    — a neighbor lives in exactly one cluster — so no pair dedup is
    needed, unlike multi-table LSH); vectors join back once per side
    for the scoring. Cluster key cardinality is n_centroids with
    k-means-balanced sizes ~n/k; a pathological all-points-one-cluster
    corpus degrades toward brute force but never duplicates pairs.

    SCALE RULE (measured, BENCH/SCALE10X.md): with n_centroids FIXED,
    all-vs-all candidates grow ~n^2 * n_probe / n_centroids — the 10x
    bench saw ~720x shuffle (25-35x wall across runs) at a frozen
    k=16, vs ~1x wall with k ~ sqrt(n). n_centroids
    must track corpus size (k ~ sqrt(n) gives ~n^1.5 total candidate
    work, the standard IVF trade). Centroids ship as a single-row
    broadcast array at EVERY k (map-side cross join + per-row HOF
    argmin/top-n_probe — no corpus row or vector ever crosses an
    exchange, plan size independent of k); see ``centroid_encoding``
    below for the literal second-witness encoding.

    ``centroid_encoding``: "broadcast" (default) ships centroids as a
    single-row broadcast array — one stable plan at any k, codegen
    reused across calls and Lloyd rounds; "literal" embeds them as
    expression literals (the second-witness encoding, bit-identical
    output, parity-tested).

    SERVING MODE: pass ``queries`` (a separate frame with the same
    id/vec columns) to answer only those queries against the corpus —
    the index-once/query-many pattern — and/or ``centroids`` (the
    persisted quantizer from a previous run) to skip k-means entirely.
    In serving mode every corpus doc is a legal neighbor, including one
    sharing a query's id (id namespaces are the caller's); only
    self-search excludes self-pairs. Defaults reproduce all-vs-all
    self-search with learned centroids."""
    if centroids is not None:
        # A persisted quantizer is the likeliest place for dimension
        # drift, and a mismatch is a SILENT total-recall loss (zip_with
        # null-pads, every distance folds to NULL, assignment becomes an
        # arbitrary constant) — same failure class lsh_bucket asserts.
        for i, c in enumerate(centroids):
            if len(c) != dim:
                raise ValueError(
                    f"centroids[{i}] has {len(c)} dims, expected dim={dim}"
                )

    def _assert_dim(b: DataFrame, what: str) -> DataFrame:
        return b.where(
            F.when(
                F.size("_v") != F.lit(dim),
                F.raise_error(
                    F.concat(
                        F.lit(f"ivf_ann_topk: dim={dim} but {what} vector has "),
                        F.size("_v").cast("string"),
                        F.lit(" elements"),
                    )
                ).cast("boolean"),
            ).otherwise(F.lit(True))
        )

    base = _assert_dim(
        with_norm(df.select(id_col, vec_col), vec_col), "corpus"
    ).localCheckpoint(eager=True)
    qbase = (
        base
        if queries is None
        else _assert_dim(
            with_norm(queries.select(id_col, vec_col), vec_col), "query"
        ).localCheckpoint(eager=True)
    )
    cents = (
        centroids
        if centroids is not None
        else kmeans_centroids(
            df, vec_col, dim, n_centroids, n_iter, seed, prepared=base
        )
    )
    if centroid_encoding not in ("broadcast", "literal"):
        raise ValueError(f"unknown centroid_encoding: {centroid_encoding!r}")
    if centroid_encoding == "broadcast":
        # One map-side pass per frame computes the sorted distance
        # prefix; assignment is its element 0 (the global argmin — the
        # slice is taken AFTER the full sort), probes are the first
        # n_probe. The tiny (id, prefix) frames are checkpointed so the
        # corpus/probe branches don't re-run the distance folds.
        def _prefix(b: DataFrame) -> DataFrame:
            return (
                _with_centroids_col(b.select(id_col, "_v"), cents)
                .select(
                    id_col,
                    F.slice(
                        _sorted_centroid_dists(F.col("_v")), 1, n_probe
                    ).alias("ps"),
                )
                .localCheckpoint(eager=True)
            )

        crows = _prefix(base)
        qrows = crows if queries is None else _prefix(qbase)
        corpus = crows.select(
            F.col(id_col).alias("neighbor_id"),
            F.col("ps")[0]["i"].alias("cluster"),
        )
        probes = qrows.select(
            F.col(id_col).alias("query_id"),
            F.explode(F.transform("ps", lambda s: s["i"])).alias("cluster"),
        )
    else:
        # Same single-pass shape as the broadcast branch: ONE sorted
        # (distance, index) prefix per row serves both the assignment
        # (element 0 — identical to the argmin, the sort's minimum) and
        # the n_probe probe set. In self-search this halves the
        # distance-fold work vs computing corpus argmin and query probes
        # separately (the folds are the interpreted hot spot — measured
        # ~2x on the sf0.1 fixture).
        probe_entries = F.array(
            *[
                F.struct(
                    _sqdist(F.col("_v"), c).alias("d"), F.lit(i).alias("i")
                )
                for i, c in enumerate(cents)
            ]
        )

        def _prefix_lit(b: DataFrame) -> DataFrame:
            return b.select(
                id_col,
                F.slice(F.array_sort(probe_entries), 1, n_probe).alias("ps"),
            ).localCheckpoint(eager=True)

        crows = _prefix_lit(base)
        qrows = crows if queries is None else _prefix_lit(qbase)
        corpus = crows.select(
            F.col(id_col).alias("neighbor_id"),
            F.col("ps")[0]["i"].alias("cluster"),
        )
        probes = qrows.select(
            F.col(id_col).alias("query_id"),
            F.explode(F.transform("ps", lambda s: s["i"])).alias("cluster"),
        )
    pairs = probes.join(corpus, "cluster")
    if queries is None:
        # Self-search only: a row is never its own neighbor. In serving
        # mode the frames are distinct and an id collision means a
        # re-queried doc — its indexed copy IS a legitimate neighbor;
        # filtering it here would silently drop the true best match.
        pairs = pairs.where(F.col("query_id") != F.col("neighbor_id"))
    pairs = pairs.select("query_id", "neighbor_id")
    return _rerank_pairs(
        _join_back_vectors(pairs, base, id_col, qvecs=qbase), k
    )


# ---------------------------------------------------------------------------
# SemDeDup-style semantic deduplication: cluster, then dedup within clusters.
# ---------------------------------------------------------------------------


def assign_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster) nearest-centroid assignment under a supplied
    quantizer — the standalone document-clustering primitive IVF and
    semantic_dedup share. Centroids ride as the single-row broadcast
    array (_with_centroids_col), so the pass is map-side: no vector
    ever crosses an exchange and the plan is independent of k. Same
    left-fold distance and (d, i) tie-break as every IVF path, so
    assignments are bit-identical across the suite."""
    if not centroids:
        raise ValueError("assign_clusters: centroids is empty")
    dim = len(centroids[0])
    for i, c in enumerate(centroids):
        if len(c) != dim:
            raise ValueError(
                f"assign_clusters: centroids[{i}] has {len(c)} dims, expected {dim}"
            )
    base = with_norm(df.select(id_col, vec_col), vec_col).where(
        F.when(
            F.size("_v") != F.lit(dim),
            F.raise_error(
                F.concat(
                    F.lit(f"assign_clusters: centroid dim={dim} but vector has "),
                    F.size("_v").cast("string"),
                    F.lit(" elements"),
                )
            ).cast("boolean"),
        ).otherwise(F.lit(True))
    )
    return _with_centroids_col(base, centroids).select(
        id_col,
        "_v",
        "_norm",
        _sorted_centroid_dists(F.col("_v"))[0]["i"].alias("cluster"),
    )


def semantic_near_pairs(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cosine_threshold: float = 0.95,
    assigned: DataFrame | None = None,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """In-cluster semantic near-dup pairs: (id_a, id_b, cosine) for
    pairs sharing a nearest centroid with exact cosine >= threshold —
    the pair stage of SemDeDup, exposed standalone so the CLI dedup
    stage can write a pair table like the MinHash method.
    ``assigned``: pass a pre-computed assign_clusters frame to share it
    with a downstream component join (semantic_dedup does).
    ``max_cluster_size``: optional honesty guard against a degenerate
    quantizer — in-cluster work is |c|^2/2, so one giant cluster
    silently reintroduces the all-pairs blowup the clustering exists
    to avoid; with the cap set, the job raises at execution time the
    moment any cluster exceeds it (same in-pipeline window guard as
    ngram_jaccard_pairs' max_group_rows: the count window keys on the
    cluster the pair join shuffles on, so the clustering is reused).
    The fix for a tripped cap is a finer quantizer (k ~ n/target_size;
    BENCH/SCALE10X.md measures the rule), not waiving the guard."""
    if assigned is None:
        assigned = assign_clusters(df, centroids, id_col, vec_col)
    if max_cluster_size is not None:
        from pyspark.sql import Window

        assigned = assigned.withColumn(
            "_csize", F.count(F.lit(1)).over(Window.partitionBy("cluster"))
        ).where(
            F.when(
                F.col("_csize") > F.lit(max_cluster_size),
                F.raise_error(
                    F.concat(
                        F.lit("semantic_near_pairs: cluster "),
                        F.col("cluster").cast("string"),
                        F.lit(
                            f" exceeds max_cluster_size={max_cluster_size}"
                            " — use a finer quantizer (more centroids)"
                        ),
                    )
                ).cast("boolean"),
            ).otherwise(F.lit(True))
        ).drop("_csize")
    # Scale-adaptive salted self-join (guide §2.5): the join key has
    # only n_clusters distinct values, so with a SMALL quantizer the
    # in-cluster cosine work lands on n_clusters tasks no matter how
    # many cores exist (the 8-cluster driver config ran its 2.4M
    # cosines 8-wide on 32 cores). When n_clusters is below the
    # session's parallelism, a deterministic salt on the a-side
    # (pmod(xxhash64(id)) — never rand(), which breaks under task
    # retry, §2.5) with the b-side exploded `salt` ways joins each
    # pair EXACTLY once (the pair's salt is a function of id_a), so
    # the pair set — and every cosine — is identical while the stage
    # runs n_clusters x salt wide. The salt derives from parallelism
    # vs k, NOT a constant: at production k ~ sqrt(n) >> cores it is
    # 1 and the plan is the plain cluster join (replicating the
    # b-side's vectors would multiply shuffle bytes for nothing).
    par = assigned.sparkSession.sparkContext.defaultParallelism
    salt = max(1, min(16, -(-par // max(1, len(centroids)))))
    a_cols = [
        F.col(id_col).alias("id_a"), F.col("cluster"),
        F.col("_v").alias("v_a"), F.col("_norm").alias("n_a"),
    ]
    b_cols = [
        F.col(id_col).alias("id_b"), F.col("cluster"),
        F.col("_v").alias("v_b"), F.col("_norm").alias("n_b"),
    ]
    if salt > 1:
        a = assigned.select(
            *a_cols,
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt)).cast("int").alias("_salt"),
        )
        b = assigned.select(
            *b_cols,
            F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("_salt"),
        )
        joined = a.join(b, ["cluster", "_salt"])
    else:
        joined = assigned.select(*a_cols).join(assigned.select(*b_cols), "cluster")
    cos = _cosine_or_null(_dot(F.col("v_a"), F.col("v_b")), F.col("n_a"), F.col("n_b"))
    return (
        joined.where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cos)
        .where(F.col("cosine") >= cosine_threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cosine_threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", 2023 — public): find
    semantic duplicates by comparing embeddings ONLY within k-means
    clusters (semantic_near_pairs), then resolve duplicate groups and
    mark one keeper each. Returns (id, cluster, component_id, keeper)
    for every document in at least one near-dup pair; docs with no
    semantic dup yield no row (callers LEFT-join and treat null as
    keeper).

    Scale shape: the all-pairs cosine is confined to each cluster —
    candidate work is sum over clusters of |c|^2 ~ n^2/k instead of
    n^2, the paper's trade. Assignment is map-side (broadcast
    centroids); the pair join keys on the cluster id, and vectors DO
    ride that one shuffle (they are needed for the in-cluster cosine) —
    with k ~ n/1e5 each cluster is bounded and the per-key fan-in is
    |c| rows. A pathological giant cluster degrades toward all-pairs:
    re-cluster it with a finer quantizer before dedup (the same k~n
    scaling rule BENCH/SCALE10X.md measures for IVF). Duplicate-group
    resolution reuses the hub-degree-bounded connected_components, so
    transitive chains collapse without any unbounded row."""
    from .dedup import connected_components

    assigned = assign_clusters(df, centroids, id_col, vec_col).localCheckpoint(
        eager=True
    )
    pairs = semantic_near_pairs(
        df, centroids, id_col, vec_col, cosine_threshold, assigned=assigned
    ).select("id_a", "id_b")
    comps = connected_components(pairs)
    return (
        comps.join(
            assigned.select(F.col(id_col).alias("doc_id"), "cluster"), "doc_id"
        )
        .select(
            F.col("doc_id").alias(id_col),
            "cluster",
            "component_id",
            (F.col("doc_id") == F.col("component_id")).alias("keeper"),
        )
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Symmetric per-vector integer quantization of an embedding column
    — the 100 TB ANN memory lever: an int8 cell is 4x smaller than
    float32 (16x smaller than the doubles Spark computes in), and
    cosine is SCALE-INVARIANT, so retrieval runs directly on the
    quantized vectors (integer dots, exact in doubles) with no
    dequantization — feed the output straight to cosine_topk /
    lsh_ann_topk. ``scale`` (the per-vector max-abs) rides along for
    consumers that need value reconstruction (x ~ q * scale / levels).

    Determinism / oracle exactness: cell = floor(v * levels / scale) —
    floor, not round, the suite's standard dodge of cross-engine
    half-tie modes (temperature_sample precedent); each step is one
    correctly-rounded IEEE op on doubles, so the quantized INTEGERS are
    bit-identical cross-engine and every downstream dot/cosine is
    exact. The floor makes the grid asymmetric by at most one level
    (e.g. -127..127 but v=+scale hits 127 while -scale hits -127 via
    floor(-127.0)): an off-by-half-ULP quantizer bias is irrelevant to
    retrieval and a fair price for bit-exactness.

    Zero vectors: scale 0, all-zero cells (no defined direction; every
    cosine consumer NULLs them out downstream). Map-only, zero shuffle.
    """
    if not 2 <= bits <= 16:
        raise ValueError(f"quantize_embeddings: bits must be in [2, 16], got {bits}")
    levels = (1 << (bits - 1)) - 1
    v = F.transform(vec_col, lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, F.abs))
    cell = F.transform(
        v,
        lambda x: F.when(amax > 0, F.floor(x * F.lit(float(levels)) / amax))
        .otherwise(F.lit(0))
        .cast("int"),
    )
    return df.select(
        F.col(id_col),
        cell.alias("qvec"),
        amax.alias("scale"),
    )


def ann_recall(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """ANN quality audit: per-query recall of an approximate top-k
    result against exact ground truth — the "measure, don't guess"
    operator a pipeline runs whenever it tunes an ANN knob (LSH plane
    count, IVF n_probe/k, quantization bits). Both inputs are
    (query_id, neighbor_id, ...) frames — compose any exact leg
    (cosine_topk on a query sample) with any approximate leg
    (lsh_ann_topk / ivf_ann_topk / quantized retrieval).

    recall(q) = |approx(q) ∩ exact(q)| / |exact(q)| over the queries
    present in the EXACT frame (ground truth defines the denominator;
    a query the ANN missed entirely scores 0, extra ANN queries are
    ignored). Returns (query_id, n_exact, n_hit, recall round 6).

    Scale shape: ids-only — one LEFT SEMI on (query_id, neighbor_id),
    two per-query count aggregates, one broadcast-size join back
    (#queries rows). Ground truth at 100 TB is computed on a SAMPLE of
    queries (cosine_topk's broadcast contract enforces that), so every
    frame here is sample-sized."""
    # Both sides deduped: a unioned/overlapping ground truth would
    # otherwise inflate n_exact AND n_hit (the same row can survive the
    # semi-join twice), skewing recall in either direction.
    e = exact.select("query_id", "neighbor_id").distinct()
    a = approx.select("query_id", "neighbor_id").distinct()
    hits = e.join(a, ["query_id", "neighbor_id"], "left_semi")
    n_exact = e.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    n_hit = hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        n_exact.join(n_hit, "query_id", "left")
        .select(
            "query_id",
            F.col("n_exact").cast("long").alias("n_exact"),
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0)) / F.col("n_exact"), 6
            ).alias("recall"),
        )
    )


