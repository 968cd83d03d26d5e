"""Unit tests for dedup / similarity / textstats operators."""

import pyspark.sql.functions as F

from ocr_poc_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs
from ocr_poc_spark.operators.similarity import cosine_topk
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
            df, k=1, dim=16, n_probe=4, centroids=[v for _, v in rows[:8]]
        ).collect()
    }
    hits = sum(
        1 for key, (nid, _) in approx.items() if exact.get(key, (None,))[0] == nid
    )
    assert hits >= 0.5 * len(exact)
    for key, (nid, cos) in approx.items():
        if exact.get(key, (None,))[0] == nid:
            assert abs(exact[key][1] - cos) < 1e-12


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
        ivf_ann_topk(df, dim=16, centroids=rs.randn(4, 16).tolist()).collect()


def test_cosine_ops_survive_zero_vectors(spark):
    """An all-zero vector (empty doc through hash_embedding) must never
    crash a cosine consumer (ANSI DIVIDE_BY_ZERO) nor appear in any
    pair/top-k output — it has no defined direction."""
    from ocr_poc_spark.operators.similarity import (
        cosine_near_dup_pairs_exact,
        cosine_topk,
        ivf_ann_topk,
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
    ivf = ivf_ann_topk(
        df, k=2, dim=4, n_probe=2,
        centroids=[[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]],
    ).collect()
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
