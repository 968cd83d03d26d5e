"""Deduplication operators behind run_dedup (minhash_band_index, the
banding alone, serves the perfbench dedup probe).

All-native column expressions (zero Python in the hot path):

- MinHash + LSH        : shingle -> 32 minhashes -> 8 banded signatures
                         -> bucket self-join -> candidate pairs
- connected components : near-dup pairs -> duplicate clusters

Scale notes: MinHash avoids the O(n^2) pair explosion by joining only
within LSH bands; only ids ride the band shuffles (the shingle arrays
are joined back per deduped candidate pair) and the exact verify runs on
candidates only. All shuffles key on the band signature, which is
uniform by construction (hash output) — no skew handling needed.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.texthash import norm_words

NUM_MINHASHES = 32
NUM_BANDS = 8  # 4 hashes per band
SHINGLE_K = 3
MAX_ROUNDS = 12  # connected_components: covers chains of ~2^12 docs


def word_shingles(df: DataFrame) -> DataFrame:
    """Adds a `shingles` column: SHINGLE_K-word n-grams of `text`
    (native HOF, no UDF).

    Documents with fewer than k words get an EMPTY shingle array — the
    naive `sequence(1, greatest(size-k+1, 0))` is a trap: for short docs
    it evaluates to sequence(1, 0) = [1, 0] (descending) and slice(_, 0,
    k) throws at runtime, poison-pilling the whole dedup job."""
    k = SHINGLE_K
    df = df.withColumn("_words", norm_words("text"))
    expr = (
        f"CASE WHEN size(_words) >= {k} THEN "
        f"transform(sequence(1, size(_words) - {k - 1}), "
        f"i -> concat_ws(' ', slice(_words, i, {k}))) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    return df.withColumn("shingles", F.expr(expr)).drop("_words")


def minhash_signature(df: DataFrame) -> DataFrame:
    """Adds minhash_0..NUM_MINHASHES-1 columns: min over shingles of
    xxhash64(shingle, seed).

    NB the seed must be closed over via a factory function: a two-arg
    lambda (`lambda s, j=j: ...`) is interpreted by F.transform as
    (element, index) and the array INDEX silently overrides the seed —
    degenerating all N hashes to one identical function (found by the
    DuckDB exact-Jaccard oracle: a 0.989-Jaccard pair missed 32/32)."""

    def _mh(j: int):
        return F.array_min(
            F.transform("shingles", lambda s: F.xxhash64(s, F.lit(j)))
        )

    for j in range(NUM_MINHASHES):
        df = df.withColumn(f"minhash_{j}", _mh(j))
    return df


def _shingles(df: DataFrame) -> DataFrame:
    """(id, shingles) from a (doc_id, text) frame."""
    return word_shingles(df.select("doc_id", "text")).select(
        F.col("doc_id").alias("id"), "shingles"
    )


def _bands(shingled: DataFrame) -> DataFrame:
    """(id, band, sig): NUM_BANDS banded MinHash signatures per id."""
    rows_per_band = NUM_MINHASHES // NUM_BANDS
    sig = minhash_signature(shingled)
    bands = []
    for b in range(NUM_BANDS):
        cols = [F.col(f"minhash_{b * rows_per_band + r}") for r in range(rows_per_band)]
        bands.append(F.struct(F.lit(b).alias("band"), F.xxhash64(*cols).alias("sig")))
    return sig.select(
        "id", F.explode(F.array(*bands)).alias("bs")
    ).select("id", "bs.band", "bs.sig")


def minhash_band_index(df: DataFrame) -> DataFrame:
    """The MinHash inverted file: (id, band, sig), one row per document
    per band — the exact banding minhash_lsh_pairs joins on, ~NUM_BANDS
    small fixed-width rows per document, never document text."""
    return _bands(_shingles(df))


def minhash_lsh_pairs(df: DataFrame, jaccard_threshold: float = 0.7) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b) of a (doc_id, text) frame via
    MinHash banding, verified with exact shingle-set Jaccard on the
    candidates only.

    Both intermediate frames are referenced twice (shingles on each
    verify side, bands on each side of the band self-join), so each is
    localCheckpoint-ed eagerly: the tokenize+shingle pass and the
    NUM_MINHASHES-fold signature pass each run ONCE instead of once per
    reference (4 scans + 2 signature passes before, measured in
    plans/r06/dedup_minhash_before.txt). localCheckpoint is fine up to
    very large corpora; at 10^12 docs persist the two frames as
    intermediate tables instead."""
    # Ids ONLY through the band shuffle: shipping the document-sized
    # shingle arrays on both sides of the self-join would multiply
    # shuffle volume by ~doc_size x num_bands at 100TB. Candidate id
    # pairs are deduped first; the shingle arrays are joined back ONCE
    # per side for the exact-Jaccard verify.
    shingled = _shingles(df).localCheckpoint(eager=True)
    band_ids = _bands(shingled).localCheckpoint(eager=True)

    left = band_ids.select(F.col("id").alias("id_a"), "band", "sig")
    right = band_ids.select(F.col("id").alias("id_b"), "band", "sig")
    cand = (
        left.join(right, ["band", "sig"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
        .join(
            shingled.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a")),
            "id_a",
        )
        .join(
            shingled.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b")),
            "id_b",
        )
    )
    sa = F.array_distinct("sh_a")
    sb = F.array_distinct("sh_b")
    inter = F.size(F.array_intersect(sa, sb))
    union = F.size(F.array_union(sa, sb))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        cand.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _star_round(edges: DataFrame) -> DataFrame:
    """One large-star + small-star contraction round over an (u, v)
    edge frame (SoCC'14). Hub-degree-bounded: neighborhood minima come
    from scalar `min` aggregates joined back onto the edges — a hub of
    degree d contributes d three-scalar rows, never a d-element array,
    and no array-typed column crosses any Exchange (plan-asserted in
    tests/test_plan_shapes.py::test_star_round_is_hub_degree_bounded).
    """
    # Large-star: every neighbor LARGER than u links to the minimum of
    # u's closed neighborhood.
    und = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = und.groupBy("u").agg(F.least(F.col("u"), F.min("v")).alias("m"))
    large = (
        und.where("v > u")
        .join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where("u != v")
    )
    # Small-star: direct edges large->small, then every smaller
    # neighbor (and u itself) links to the neighborhood minimum.
    # (No intermediate distinct between the stars: the small-star min
    # is duplicate-insensitive and the round's closing distinct dedups
    # — one Exchange fewer per round; duplicate rows between the stars
    # stay bounded by |und|.)
    directed = large.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins2 = directed.groupBy("u").agg(F.min("v").alias("m"))
    return (
        directed.join(mins2, "u")
        .where("v != m")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionByName(mins2.select("u", F.col("m").alias("v")))
        .where("u != v")
        .distinct()
    )


def connected_components(pairs: DataFrame) -> DataFrame:
    """Duplicate-cluster resolution: connected components over a
    near-dup pair list (id_a, id_b) -> (doc_id, component_id),
    component_id = min doc id in the component. The stage a dedup
    pipeline runs AFTER MinHash pair generation, so "A~B, B~C" collapses
    to one keeper even when A~C was never emitted.

    Ids may be any orderable type (numeric doc ids or url strings —
    the CLI curation frame keys on url); component_id is the minimum
    under that type's ordering.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): chains contract in
    O(log d) rounds (vs O(d) for naive label propagation), and every
    shuffle carries bare (id, id) edges only. Each star pass is
    **hub-degree-bounded**: the per-node neighborhood minimum comes
    from a `min` aggregate (map-side partial combine keeps per-key
    state to one scalar per partition) joined back onto the edge list
    — no `collect_set` neighborhood arrays, so a 10M-copy boilerplate
    cluster's hub node never materializes its neighborhood in a single
    row, and no array-typed column ever crosses an Exchange
    (plan-asserted in tests/test_plan_shapes.py). The edge frame is
    localCheckpoint-ed per round — iterative plans otherwise grow the
    lineage/codegen DAG linearly in rounds. The checkpoints are lazy:
    each round's convergence aggregate (count + order-insensitive hash
    sum of the edge multiset) is the one job that materializes that
    round's edges, so a round costs one Spark job. Raises if MAX_ROUNDS
    rounds do not converge.
    """
    e = pairs.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ).where("u IS NOT NULL AND v IS NOT NULL AND u != v")
    edges = e.distinct().localCheckpoint(eager=False)
    # Node set derived from the CHECKPOINTED frame: deriving it from the
    # pre-checkpoint lineage would re-run the entire upstream
    # pair-generation DAG (LSH banding + verify) a second time when the
    # result is evaluated.
    nodes = edges.select("u").union(
        edges.select(F.col("v").alias("u"))
    ).distinct()

    def _sig(df: DataFrame):
        # decimal(38,0) accumulator: a bigint sum of 64-bit hashes
        # overflows (ANSI) after a handful of rows.
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    sig = _sig(edges)
    for _ in range(MAX_ROUNDS):
        edges = _star_round(edges).localCheckpoint(eager=False)
        new_sig = _sig(edges)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {MAX_ROUNDS} rounds"
        )

    # At the fixpoint every edge is (member, component-min); nodes that
    # appear only as roots map to themselves.
    membership = edges.groupBy("u").agg(F.min("v").alias("component_id"))
    return nodes.join(membership, "u", "left").select(
        F.col("u").alias("doc_id"),
        F.coalesce("component_id", F.col("u")).alias("component_id"),
    )
