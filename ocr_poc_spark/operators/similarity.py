"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k (baseline; exact; O(Q*N) broadcast join)
  and exact all-pairs cosine near-dup pairs (O(n^2); oracle-checkable)
- IVF ANN: supplied coarse quantizer + n_probe search, exact re-rank

All arithmetic runs JVM-side through higher-order functions
(zip_with/aggregate); no Python UDFs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from pyspark.sql.column import Column


def _dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Adds `_v` (double-cast vector) and `_norm`, behind a PLAN FENCE.

    The non-eager localCheckpoint is load-bearing (measured 10x on the
    nearest-centroid assignment, r6): without it Catalyst collapses the
    projection chain and every downstream higher-order expression
    (per-centroid distance folds, cosines) re-evaluates the inlined
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
    embedding_topk and ann_ivf_bcast oracles pin it, so it must not
    fork per operator.
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


def _join_back_vectors(pairs: DataFrame, vecs: DataFrame, id_col: str) -> DataFrame:
    """Join normalized vectors back onto ids-only candidate pairs, once
    per side (the candidate-generation shuffles stay ids-only)."""
    return pairs.join(
        vecs.select(F.col(id_col).alias("query_id"), F.col("_v").alias("q_v"),
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
    as the query side would run out of memory at scale (use
    ivf_ann_topk for all-vs-all). A bounded query list over
    ``max_broadcast_queries`` is refused for the same reason.
    """
    if query_ids is None:
        raise ValueError(
            "cosine_topk requires explicit query_ids (the query side is "
            "broadcast); for all-vs-all ANN use ivf_ann_topk"
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


def cosine_near_dup_pairs_exact(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cosine_threshold: float = 0.95,
) -> DataFrame:
    """EXACT embedding-cosine near-dup pairs: all-pairs self-join with
    the threshold filter (O(n^2); oracle-checkable)."""
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


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: supplied coarse quantizer + n_probe search.
# ---------------------------------------------------------------------------
def _with_centroids_col(base: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Attach the full centroid table to every row as ONE broadcast
    array column `_cents` (sorted struct<i, cvec> — struct ordering
    sorts on the leading cidx field, fixing collect_list's arbitrary
    order). A broadcast cross join against a single-row frame is
    map-side: no corpus row, and in particular no vector, ever crosses
    an exchange, while keeping the PLAN size independent of k (the
    centroids ride as data, not as k*dim literal nodes)."""
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
    are the probe set. Left-fold squared distance with a (d, i)
    lexicographic tie-break, the order the ann_ivf_bcast SQL oracle
    replays."""
    dists = F.transform(
        "_cents",
        lambda c: F.struct(
            F.aggregate(
                # zip_with + fold, NOT an index fold: the centroid is a
                # RUNTIME struct element, and an index fold pays 4
                # array-gets + 2 struct extractions per step (the
                # squared difference has no let-binding) — measured
                # ~1.5x slower at the k~sqrt(n) shape.
                F.zip_with(F.col("_v"), c["cvec"], lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, e: acc + e,
            ).alias("d"),
            c["i"].alias("i"),
        ),
    )
    return F.array_sort(dists)


def ivf_ann_topk(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    dim: int = 64,
    n_probe: int = 4,
) -> DataFrame:
    """IVF approximate all-vs-all top-k under a supplied quantizer:
    every vector is assigned to its nearest centroid; each vector, as a
    query, probes its n_probe nearest centroids and re-ranks the
    candidates there with the exact cosine. A row is never its own
    neighbor. Recall/cost dial is n_probe/len(centroids) (probing all
    centroids degenerates to exact brute force).

    Ids ONLY ride the cluster equi-join (a (query, neighbor) pair can
    appear at most once — a neighbor lives in exactly one cluster — so
    no pair dedup is needed); vectors join back once per side for the
    scoring. A pathological all-points-one-cluster corpus degrades
    toward brute force but never duplicates pairs.

    SCALE RULE (measured in round 3, see README History): with the
    centroid count FIXED, candidates grow ~n^2 * n_probe / k — the 10x
    bench saw ~720x shuffle at a frozen k=16, vs ~1x wall with
    k ~ sqrt(n). The quantizer must track corpus size. Centroids ship
    as a single-row broadcast array (map-side cross join + per-row HOF
    sorted-distance prefix), so no corpus row or vector crosses an
    exchange and the plan size is independent of k."""
    # A persisted quantizer is the likeliest place for dimension drift,
    # and a mismatch is a SILENT total-recall loss (zip_with null-pads,
    # every distance folds to NULL, assignment becomes an arbitrary
    # constant).
    for i, c in enumerate(centroids):
        if len(c) != dim:
            raise ValueError(
                f"centroids[{i}] has {len(c)} dims, expected dim={dim}"
            )
    base = (
        with_norm(df.select(id_col, vec_col), vec_col)
        .where(
            F.when(
                F.size("_v") != F.lit(dim),
                F.raise_error(
                    F.concat(
                        F.lit(f"ivf_ann_topk: dim={dim} but corpus vector has "),
                        F.size("_v").cast("string"),
                        F.lit(" elements"),
                    )
                ).cast("boolean"),
            ).otherwise(F.lit(True))
        )
        .localCheckpoint(eager=True)
    )
    # One map-side pass computes each row's sorted distance prefix;
    # assignment is its element 0 (the global argmin — the slice is
    # taken AFTER the full sort), probes are the first n_probe. The
    # tiny (id, prefix) frame is checkpointed so the corpus and probe
    # branches don't re-run the distance folds.
    rows = (
        _with_centroids_col(base.select(id_col, "_v"), centroids)
        .select(
            id_col,
            F.slice(_sorted_centroid_dists(F.col("_v")), 1, n_probe).alias("ps"),
        )
        .localCheckpoint(eager=True)
    )
    corpus = rows.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("ps")[0]["i"].alias("cluster"),
    )
    probes = rows.select(
        F.col(id_col).alias("query_id"),
        F.explode(F.transform("ps", lambda s: s["i"])).alias("cluster"),
    )
    pairs = (
        probes.join(corpus, "cluster")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    return _rerank_pairs(_join_back_vectors(pairs, base, id_col), k)
