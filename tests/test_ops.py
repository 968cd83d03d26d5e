"""Unit tests for dedup / similarity / textstats operators."""

import pyspark.sql.functions as F

from ocr_poc_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs
from ocr_poc_spark.operators.similarity import cosine_topk, lsh_ann_topk
from ocr_poc_spark.operators.textstats import fingerprint, lang_id


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en", "s0"),
        (2, "the quick brown fox jumps over the lazy dog", "en", "s0"),  # exact dup
        (3, "the quick brown fox leaps over the lazy dog", "en", "s0"),  # near dup
        (4, "completely different text about spark pipelines here", "en", "s0"),
        (5, "le renard brun saute par dessus le chien paresseux", "fr", "s1"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def test_ngram_jaccard_pairs(spark):
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(_docs(spark), group_col="source", threshold=0.5).collect()
    }
    assert out[(1, 2)] == 1.0           # identical
    assert 0.5 <= out[(1, 3)] < 1.0     # one word differs
    assert (1, 4) not in out


def test_minhash_lsh_finds_near_dups(spark):
    out = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(_docs(spark), jaccard_threshold=0.5).collect()}
    assert (1, 2) in out
    assert (1, 4) not in out


def test_cosine_topk_exact(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),  # opposite
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cosine_topk(df, query_ids=[0], k=3).collect()
    assert [r["neighbor_id"] for r in out] == [1, 2, 3]
    assert out[0]["cosine"] > 0.99


def test_cosine_topk_broadcast_guard(spark):
    import pytest

    df = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="query_ids"):
        cosine_topk(df, k=1)
    with pytest.raises(ValueError, match="refusing to broadcast"):
        cosine_topk(df, query_ids=list(range(10)), k=1, max_broadcast_queries=5)


def test_lsh_ann_agrees_with_bruteforce_mostly(spark, fixture_rows):
    import numpy as np

    rs = np.random.RandomState(3)
    rows = [(i, rs.randn(16).astype(float).tolist()) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk(df, query_ids=list(range(80)), k=1).collect()
    }
    approx = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in lsh_ann_topk(df, k=1, dim=16, n_planes=4).collect()
    }
    hits = sum(1 for k, v in approx.items() if exact.get(k) == v)
    assert hits >= 0.5 * len(exact)  # approximate, but far above chance


def test_token_stats_and_fingerprint(spark):
    d = _docs(spark)
    fp = {r["doc_id"]: r for r in fingerprint(d).collect()}
    assert fp[1]["md5_fp"] == fp[2]["md5_fp"]
    assert fp[1]["md5_fp"] != fp[4]["md5_fp"]
    assert fp[1]["winnow_fp"] == fp[2]["winnow_fp"]


def test_lang_id(spark):
    d = _docs(spark)
    out = {r["doc_id"]: r["lang_guess"] for r in lang_id(d).collect()}
    assert out[1] == "en" and out[5] == "fr"


def test_ngram_jaccard_refuses_oversized_groups(spark):
    """The all-pairs variant must refuse quadratic blowups explicitly."""
    import pytest

    df = spark.createDataFrame(
        [(i, "same words here", "en", "s0") for i in range(30)],
        "doc_id long, text string, lang string, source string",
    )
    with pytest.raises(Exception, match="minhash_lsh_pairs"):
        ngram_jaccard_pairs(df, group_col="lang", max_group_rows=10).count()
    # waivable, and the small default passes untouched
    assert ngram_jaccard_pairs(df, group_col="lang", max_group_rows=None).count() > 0


def test_lsh_bucket_dim_mismatch_raises(spark):
    """A wrong dim must raise loudly, not silently return zero rows."""
    import pytest

    df = spark.createDataFrame(
        [(0, [1.0] * 16), (1, [0.9] * 16)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="lsh_bucket: dim=64"):
        lsh_ann_topk(df, k=1, dim=64, n_planes=4).collect()


def test_embedding_near_dup_lsh_recall_bound(spark):
    """Property bounds for the LSH-bucketed embedding near-dup SCALE path
    (similarity.embedding_near_dup_pairs) in the approximate regime the
    driver query can't cover (its planted x2-copy pairs have provable
    recall 1.0):

    - precision is EXACT: every emitted pair must also satisfy the
      cosine threshold under the exact all-pairs variant (the operator
      re-scores candidates exactly, so this must be equality-of-subset);
    - recall vs the exact variant >= 0.9 on a corpus of genuinely
      near-but-not-identical pairs (cosine ~0.98, i.e. the regime
      hyperplane LSH is built for; seeded, deterministic).
    """
    import numpy as np

    from ocr_poc_spark.operators.similarity import (
        cosine_near_dup_pairs_exact,
        embedding_near_dup_pairs,
    )

    rs = np.random.RandomState(11)
    base = rs.randn(120, 32)
    noisy = base + 0.10 * rs.randn(120, 32)  # cosine vs base ~0.97-0.99
    rows = [(i, base[i].astype(float).tolist()) for i in range(120)] + [
        (1000 + i, noisy[i].astype(float).tolist()) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_pairs_exact(df, cosine_threshold=0.95).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            df, cosine_threshold=0.95, dim=32, n_planes=8, n_tables=8
        ).collect()
    }
    assert len(exact) >= 80  # the fixture really contains near-dup pairs
    assert lsh <= exact  # precision 1.0: no emitted pair below threshold
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.3f} < 0.9 ({len(lsh)}/{len(exact)})"


def test_connected_components_transitive_chain(spark):
    """A~B, B~C without A~C must land in ONE component keyed by the min
    id; disjoint pairs stay separate; isolated structure preserved."""
    from ocr_poc_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    got = {
        (r.doc_id, r.component_id)
        for r in connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20), (23, 20),
    }


def test_connected_components_long_chain_converges_in_log_rounds(spark):
    """A 64-node path graph (worst diameter per edge) must converge
    within the default max_iter=12 (large-star/small-star halves chain
    depth per round) and produce a single component."""
    from ocr_poc_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    rows = connected_components(pairs).collect()
    assert len(rows) == 64
    assert {r.component_id for r in rows} == {0}


def test_connected_components_empty_and_self_pairs(spark):
    """Empty input -> empty output; self-pairs are dropped, not looped."""
    from ocr_poc_spark.operators.dedup import connected_components

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).count() == 0
    selfp = spark.createDataFrame([(5, 5), (5, 6)], "id_a long, id_b long")
    got = {
        (r.doc_id, r.component_id)
        for r in connected_components(selfp).collect()
    }
    assert got == {(5, 5), (6, 5)}


def test_connected_components_string_ids(spark):
    """The CLI curation frame keys documents on url STRINGS — the
    operator must work on any orderable id type, component_id = the
    lexicographic minimum."""
    from ocr_poc_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [("b.com/1", "c.com/2"), ("c.com/2", "a.com/9")],
        "id_a string, id_b string",
    )
    got = {
        (r.doc_id, r.component_id)
        for r in connected_components(pairs).collect()
    }
    assert got == {
        ("a.com/9", "a.com/9"),
        ("b.com/1", "a.com/9"),
        ("c.com/2", "a.com/9"),
    }


def test_ivf_ann_recall_vs_bruteforce(spark):
    """IVF with n_probe=4 of 8 centroids must recover the exact top-1
    neighbor for most queries (far above chance) and every returned
    cosine must be exact (the re-rank is exact by construction: verify
    against brute force where the pair overlaps)."""
    import numpy as np

    from ocr_poc_spark.operators.similarity import cosine_topk, ivf_ann_topk

    rs = np.random.RandomState(11)
    rows = [(i, rs.randn(16).astype(float).tolist()) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in cosine_topk(df, query_ids=list(range(80)), k=1).collect()
    }
    approx = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in ivf_ann_topk(
            df, k=1, dim=16, n_centroids=8, n_probe=4, n_iter=3
        ).collect()
    }
    hits = sum(
        1 for key, (nid, _) in approx.items() if exact.get(key, (None,))[0] == nid
    )
    assert hits >= 0.5 * len(exact)
    for key, (nid, cos) in approx.items():
        if exact.get(key, (None,))[0] == nid:
            assert abs(exact[key][1] - cos) < 1e-12


def test_ivf_kmeans_is_deterministic_across_partitionings(spark):
    """Centroids (and therefore assignments/results) must be byte-stable
    whether the input arrives in 1 or 7 partitions — the 4-decimal
    rounding absorbs double-summation order differences."""
    import numpy as np

    from ocr_poc_spark.operators.similarity import kmeans_centroids

    rs = np.random.RandomState(5)
    rows = [(i, rs.randn(8).astype(float).tolist()) for i in range(60)]
    df1 = spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(1)
    df7 = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(7)
    c1 = kmeans_centroids(df1, dim=8, n_centroids=4, n_iter=3, seed=2)
    c7 = kmeans_centroids(df7, dim=8, n_centroids=4, n_iter=3, seed=2)
    assert c1 == c7


def test_minhash_incremental_equals_batch_restriction(spark):
    """minhash_lsh_pairs_incremental(new, corpus) must EXACTLY equal
    minhash_lsh_pairs(new UNION corpus) restricted to pairs touching a
    new id — including new-vs-new pairs and identical jaccard values —
    whether the index is passed in precomputed or derived internally."""
    import numpy as np

    from ocr_poc_spark.operators.dedup import (
        minhash_band_index,
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
    )

    rs = np.random.RandomState(9)
    words = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(60):
        toks = [words[j] for j in rs.randint(0, 40, size=25)]
        rows.append((i, " ".join(toks)))
        if i % 5 == 4:  # plant a near-dup of the previous doc
            mut = list(toks)
            mut[3] = words[rs.randint(0, 40)]
            rows.append((i + 1000, " ".join(mut)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    new = df.where("doc_id % 3 = 0")
    corpus = df.where("doc_id % 3 != 0")

    batch = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(df, jaccard_threshold=0.5).collect()
        if r.id_a % 3 == 0 or r.id_b % 3 == 0
    }
    assert batch, "fixture produced no near-dup pairs touching new docs"
    inc = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs_incremental(
            new, corpus, jaccard_threshold=0.5
        ).collect()
    }
    assert inc == batch
    idx = minhash_band_index(corpus)
    inc2 = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs_incremental(
            new, corpus, corpus_index=idx, jaccard_threshold=0.5
        ).collect()
    }
    assert inc2 == batch


def test_connected_components_star_graphs_both_orientations(spark):
    """Degree skew: a 400-edge star must resolve in one component
    whether the hub is the component MINIMUM (already canonical) or the
    MAXIMUM (every spoke must re-point away from the hub)."""
    from ocr_poc_spark.operators.dedup import connected_components

    hub_min = spark.createDataFrame(
        [(0, i) for i in range(1, 401)], "id_a long, id_b long"
    )
    got = connected_components(hub_min).collect()
    assert len(got) == 401 and {r.component_id for r in got} == {0}

    hub_max = spark.createDataFrame(
        [(10_000, i) for i in range(1, 401)], "id_a long, id_b long"
    )
    got = connected_components(hub_max).collect()
    assert len(got) == 401 and {r.component_id for r in got} == {1}


def test_connected_components_matches_union_find_on_random_graphs(spark):
    """Seeded random-graph sweep vs a pure-Python union-find reference:
    the distributed large-star/small-star fixpoint must produce exactly
    the min-id component labelling on arbitrary topologies (cycles,
    multi-edges, self-loops, isolated chains)."""
    import numpy as np

    from ocr_poc_spark.operators.dedup import connected_components

    for seed in (1, 2, 3, 4, 5):
        rs = np.random.RandomState(seed)
        n_edges = int(rs.randint(5, 60))
        edges = [
            (int(rs.randint(0, 40)), int(rs.randint(0, 40)))
            for _ in range(n_edges)
        ]
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        nodes = set()
        for a, b in edges:
            if a != b:
                nodes.update((a, b))
                parent[find(a)] = find(b)
        comp_min: dict[int, int] = {}
        for x in nodes:
            r = find(x)
            comp_min[r] = min(comp_min.get(r, x), x)
        expected = {(x, comp_min[find(x)]) for x in nodes}

        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            (r.doc_id, r.component_id)
            for r in connected_components(df).collect()
        }
        assert got == expected, f"seed={seed}"


def test_ivf_broadcast_and_literal_paths_agree(spark):
    """The broadcast centroid encoding (the default at every k since
    round 4) must produce EXACTLY the literal encoding's output — same
    distance folds, same (d, i) argmin tie-break, same probes."""
    import numpy as np

    import ocr_poc_spark.operators.similarity as sim

    rs = np.random.RandomState(21)
    rows = [(i, rs.randn(16).astype(float).tolist()) for i in range(70)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    lit = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in sim.ivf_ann_topk(
            df, k=2, dim=16, n_centroids=8, n_probe=3, n_iter=2,
            centroid_encoding="literal",
        ).collect()
    }
    bc = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in sim.ivf_ann_topk(
            df, k=2, dim=16, n_centroids=8, n_probe=3, n_iter=2
        ).collect()
    }
    assert bc == lit


def test_hash_embedding_shape_and_contracts(spark):
    """Fixed-dim integer vectors; each token moves exactly one cell by
    +-1 (sum of |cells| <= n_tokens, equality when no sign collisions);
    empty/null text yields the zero vector; non-power-of-two dim is
    refused; output is partitioning-independent."""
    import pytest

    from ocr_poc_spark.operators.textstats import hash_embedding

    df = spark.createDataFrame(
        [(1, "alpha beta gamma alpha"), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.embedding for r in hash_embedding(df, dim=8).collect()}
    assert all(len(v) == 8 for v in rows.values())
    assert sum(abs(x) for x in rows[1]) <= 4
    assert sum(abs(x) for x in rows[1]) > 0
    assert rows[2] == [0] * 8 and rows[3] == [0] * 8

    with pytest.raises(ValueError, match="power of two"):
        hash_embedding(df, dim=12)

    r7 = {
        r.doc_id: r.embedding
        for r in hash_embedding(df.repartition(7), dim=8).collect()
    }
    assert r7 == rows


def test_ivf_serving_mode_separate_queries_and_fixed_centroids(spark):
    """Serving mode: only the supplied query frame is answered, every
    neighbor comes from the corpus frame, and passing centroids skips
    k-means (deterministic output for fixed centroids)."""
    import numpy as np

    from ocr_poc_spark.operators.similarity import ivf_ann_topk

    rs = np.random.RandomState(31)
    corpus = spark.createDataFrame(
        [(i, rs.randn(8).astype(float).tolist()) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(1000 + i, rs.randn(8).astype(float).tolist()) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    cents = rs.randn(6, 8).astype(float).tolist()
    out = ivf_ann_topk(
        corpus, k=2, dim=8, n_probe=3, queries=queries, centroids=cents
    ).collect()
    assert out, "no results"
    assert {r.query_id for r in out} <= {1000 + i for i in range(10)}
    assert {r.neighbor_id for r in out} <= set(range(60))
    out2 = ivf_ann_topk(
        corpus, k=2, dim=8, n_probe=3, queries=queries, centroids=cents
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_ivf_serving_broadcast_branch_agrees_with_literal(spark):
    """The serving-mode BROADCAST branch (the path production serving
    would take with k ~ sqrt(n)) must equal the literal path for the
    same centroids — in particular the probe prefix must come from the
    QUERY frame, not the corpus frame."""
    import numpy as np

    import ocr_poc_spark.operators.similarity as sim

    rs = np.random.RandomState(41)
    corpus = spark.createDataFrame(
        [(i, rs.randn(8).astype(float).tolist()) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(900 + i, rs.randn(8).astype(float).tolist()) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    cents = rs.randn(6, 8).astype(float).tolist()
    lit = sorted(
        map(tuple, sim.ivf_ann_topk(
            corpus, k=2, dim=8, n_probe=3, queries=queries, centroids=cents,
            centroid_encoding="literal",
        ).collect())
    )
    bc = sorted(
        map(tuple, sim.ivf_ann_topk(
            corpus, k=2, dim=8, n_probe=3, queries=queries, centroids=cents
        ).collect())
    )
    assert bc == lit


def test_ivf_rejects_mismatched_centroid_and_vector_dims(spark):
    """Dim drift in a persisted quantizer or the input vectors must FAIL
    LOUDLY, never silently collapse recall (zip_with null-pads on
    mismatch, turning every distance into NULL)."""
    import numpy as np
    import pytest

    from ocr_poc_spark.operators.similarity import ivf_ann_topk

    rs = np.random.RandomState(43)
    df = spark.createDataFrame(
        [(i, rs.randn(8).astype(float).tolist()) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="dims, expected dim"):
        ivf_ann_topk(df, dim=8, centroids=rs.randn(4, 4).tolist())
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    with pytest.raises((Py4JJavaError, SparkRuntimeException, Exception)):
        ivf_ann_topk(df, dim=16, n_centroids=4, n_iter=1).collect()


def test_cosine_ops_survive_zero_vectors(spark):
    """An all-zero vector (empty doc through hash_embedding) must never
    crash a cosine consumer (ANSI DIVIDE_BY_ZERO) nor appear in any
    pair/top-k output — it has no defined direction."""
    from ocr_poc_spark.operators.similarity import (
        cosine_near_dup_pairs_exact,
        cosine_topk,
        ivf_ann_topk,
        lsh_ann_topk,
    )

    df = spark.createDataFrame(
        [
            (0, [1.0, 2.0, 0.0, 1.0]),
            (1, [1.0, 2.0, 0.1, 1.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),  # zero vector
        ],
        "vec_id long, embedding array<float>",
    )
    pairs = cosine_near_dup_pairs_exact(df, cosine_threshold=0.5).collect()
    assert pairs and all(2 not in (r.id_a, r.id_b) for r in pairs)
    topk = cosine_topk(df, query_ids=[0, 1, 2], k=2).collect()
    assert topk and all(r.query_id != 2 and r.neighbor_id != 2 for r in topk)
    ann = lsh_ann_topk(df, k=2, dim=4, n_planes=2, n_tables=2).collect()
    assert all(r.query_id != 2 and r.neighbor_id != 2 for r in ann)
    ivf = ivf_ann_topk(df, k=2, dim=4, n_centroids=2, n_probe=2, n_iter=1).collect()
    assert all(r.query_id != 2 and r.neighbor_id != 2 for r in ivf)


def test_connected_components_partitioning_independent(spark):
    """Same labelling whether edges arrive in 1 or 7 partitions (the
    fixpoint is a pure function of the edge SET; localCheckpoints must
    not leak partition-layout artifacts into results)."""
    import numpy as np

    from ocr_poc_spark.operators.dedup import connected_components

    rs = np.random.RandomState(17)
    edges = [
        (int(rs.randint(0, 30)), int(rs.randint(0, 30))) for _ in range(40)
    ]
    df1 = spark.createDataFrame(edges, "id_a long, id_b long").coalesce(1)
    df7 = spark.createDataFrame(edges, "id_a long, id_b long").repartition(7)
    r1 = sorted(map(tuple, connected_components(df1).collect()))
    r7 = sorted(map(tuple, connected_components(df7).collect()))
    assert r1 == r7


def test_connected_components_hub_star_1e5(spark):
    """A single ~1e5-leaf star (the 10M-copy-boilerplate-cluster shape
    at test scale): the hub-degree-bounded star rounds must label every
    leaf with the hub min without materializing the hub's neighborhood
    as an array anywhere (plan side pinned separately in
    test_plan_shapes.py::test_star_round_is_hub_degree_bounded)."""
    from ocr_poc_spark.operators.dedup import connected_components

    n = 100_000
    # hub id sits mid-range so the component min is a LEAF id (0), not
    # the hub — exercises both star directions on the skewed node.
    hub = n // 2
    pairs = spark.range(n).selectExpr(
        f"CASE WHEN id = {hub} THEN id + 1 ELSE id END AS id_a",
        f"{hub}L AS id_b",
    )
    got = connected_components(pairs)
    agg = got.groupBy("component_id").count().collect()
    assert len(agg) == 1
    assert agg[0]["component_id"] == 0
    assert agg[0]["count"] == n


def test_incremental_dedup_rejects_mismatched_index(spark):
    """A persisted band index built with a different banding config must
    fail LOUDLY, not silently lose recall (band sigs never colliding)."""
    import pytest

    from ocr_poc_spark.operators.dedup import (
        minhash_band_index,
        minhash_lsh_pairs_incremental,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog again")],
        "doc_id long, text string",
    )
    # schema drift: missing band column
    bad = minhash_band_index(corpus).select("id", "sig")
    with pytest.raises(ValueError, match="missing columns"):
        minhash_lsh_pairs_incremental(new, corpus, corpus_index=bad)
    # config drift: index built with MORE bands than the query side
    wide = minhash_band_index(corpus, num_hashes=32, num_bands=16)
    with pytest.raises(Exception, match="band out of range"):
        minhash_lsh_pairs_incremental(
            new, corpus, corpus_index=wide, num_hashes=8, num_bands=4
        ).collect()
    # matching config still works end-to-end
    ok = minhash_band_index(corpus)
    pairs = minhash_lsh_pairs_incremental(
        new, corpus, corpus_index=ok
    ).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(1, 100)]


def test_semantic_dedup_within_cluster_groups(spark):
    """Near-dup groups resolve within clusters with one keeper (min
    id); transitive chains collapse; pairs straddling a centroid
    boundary are NOT emitted (the SemDeDup approximation, by
    contract); dup-free docs yield no row; dim mismatch raises."""
    import pytest

    from ocr_poc_spark.operators.similarity import assign_clusters, semantic_dedup

    centroids = [[10.0, 0.0], [0.0, 10.0]]
    rows = [
        (1, [9.0, 0.0]),     # cluster 0
        (2, [9.0, 0.1]),     # ~dup of 1
        (3, [8.9, 0.2]),     # ~dup of 2 (chain 1-2-3)
        (4, [0.0, 9.0]),     # cluster 1
        (5, [0.1, 9.0]),     # ~dup of 4
        (6, [5.1, 5.0]),     # straddles the boundary -> cluster 0
        (7, [5.0, 5.1]),     # near-identical to 6 but cluster 1
        (8, [-9.0, 0.5]),    # no dup anywhere
    ]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    asg = {r["vec_id"]: r["cluster"] for r in assign_clusters(d, centroids).collect()}
    assert asg[6] == 0 and asg[7] == 1 and asg[1] == 0 and asg[4] == 1

    out = {r["vec_id"]: r for r in semantic_dedup(d, centroids, cosine_threshold=0.999).collect()}
    assert set(out) == {1, 2, 3, 4, 5}  # 6/7 split by the boundary; 8 dup-free
    assert {k: v["component_id"] for k, v in out.items()} == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}
    assert [k for k, v in out.items() if v["keeper"]] == [1, 4] or \
        sorted(k for k, v in out.items() if v["keeper"]) == [1, 4]

    with pytest.raises(ValueError, match="centroids is empty"):
        semantic_dedup(d, [], cosine_threshold=0.9)
    with pytest.raises(Exception, match="dim"):
        semantic_dedup(d, [[1.0, 2.0, 3.0]], cosine_threshold=0.9).collect()


def test_semantic_near_pairs_cluster_cap(spark):
    """The honesty guard: a cluster above max_cluster_size fails the
    job loudly instead of silently running |c|^2 cosines; under the
    cap the output is unchanged."""
    import pytest

    from ocr_poc_spark.operators.similarity import semantic_near_pairs

    d = spark.createDataFrame(
        [(i, [9.0, float(i % 3) / 10]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    cents = [[10.0, 0.0], [-10.0, 0.0]]  # everything lands in cluster 0
    ok = semantic_near_pairs(d, cents, cosine_threshold=0.999,
                             max_cluster_size=50).collect()
    assert ok == sorted(
        semantic_near_pairs(d, cents, cosine_threshold=0.999).collect()
    ) or {tuple(r) for r in ok} == {
        tuple(r) for r in semantic_near_pairs(d, cents, cosine_threshold=0.999).collect()
    }

    with pytest.raises(Exception, match="exceeds max_cluster_size"):
        semantic_near_pairs(
            d, cents, cosine_threshold=0.999, max_cluster_size=10
        ).collect()


def test_quantize_embeddings_scale_invariant_retrieval(spark):
    """int8 quantization: cells are floor(v*127/maxabs) ints in
    [-127, 127], zero vectors quantize to zero cells with scale 0,
    and because cosine is scale-invariant, top-k retrieval over the
    quantized vectors closely tracks the exact float ranking."""
    import math

    import pytest

    from ocr_poc_spark.operators.similarity import (
        cosine_topk, quantize_embeddings,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),    # near 0
        (2, [0.0, 1.0, 0.0, 0.0]),    # orthogonal to 0
        (3, [-0.5, 0.25, 0.125, -1.0]),
        (4, [0.0, 0.0, 0.0, 0.0]),    # zero vector
    ]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = {r["vec_id"]: r for r in quantize_embeddings(d).collect()}
    assert q[0]["qvec"] == [127, 0, 0, 0] and q[0]["scale"] == 1.0
    # floor asymmetry: -0.5*127/1.0 = -63.5 -> -64; +0.25*127 -> 31
    assert q[3]["qvec"] == [-64, 31, 15, -127] and q[3]["scale"] == 1.0
    assert q[4]["qvec"] == [0, 0, 0, 0] and q[4]["scale"] == 0.0
    assert all(
        -127 <= c <= 127 for r in q.values() for c in r["qvec"]
    )

    # retrieval parity: quantized neighbor order == exact order here,
    # and the quantized cosine is within quantization error of exact
    exact = {
        (r["query_id"], r["rank"]): r
        for r in cosine_topk(d, query_ids=[0], k=3).collect()
    }
    qd = quantize_embeddings(d).select(
        "vec_id", F.col("qvec").alias("embedding")
    )
    quant = {
        (r["query_id"], r["rank"]): r
        for r in cosine_topk(qd, query_ids=[0], k=3).collect()
    }
    assert [exact[k]["neighbor_id"] for k in sorted(exact)] == \
           [quant[k]["neighbor_id"] for k in sorted(quant)]
    for k in exact:
        assert math.isclose(
            exact[k]["cosine"], quant[k]["cosine"], abs_tol=0.02
        )
    # zero vector is nobody's neighbor (cosine NULL contract)
    assert all(r["neighbor_id"] != 4 for r in exact.values())

    with pytest.raises(ValueError, match="bits"):
        quantize_embeddings(d, bits=1)


def test_ann_recall_audit(spark):
    """Recall audit: exact ground truth defines the denominator, a
    query the ANN missed scores 0, extra ANN-only queries are ignored,
    duplicate ANN rows don't double-count."""
    from ocr_poc_spark.operators.similarity import ann_recall

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21), (3, 30)],
        "query_id long, neighbor_id long",
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 99), (2, 20), (2, 21), (2, 21), (9, 90)],
        "query_id long, neighbor_id long",
    )
    out = {r["query_id"]: r for r in ann_recall(exact, approx).collect()}
    assert set(out) == {1, 2, 3}
    assert (out[1]["n_exact"], out[1]["n_hit"], out[1]["recall"]) == (2, 1, 0.5)
    assert (out[2]["n_exact"], out[2]["n_hit"], out[2]["recall"]) == (2, 2, 1.0)
    assert (out[3]["n_exact"], out[3]["n_hit"], out[3]["recall"]) == (1, 0, 0.0)
