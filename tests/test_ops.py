"""Unit tests for the dedup and language-guess operators."""

import pyspark.sql.functions as F

from ocr_poc_spark.operators.dedup import minhash_lsh_pairs
from ocr_poc_spark.operators.textstats import lang_guess_expr


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en", "s0"),
        (2, "the quick brown fox jumps over the lazy dog", "en", "s0"),  # exact dup
        (3, "the quick brown fox leaps over the lazy dog", "en", "s0"),  # near dup
        (4, "completely different text about spark pipelines here", "en", "s0"),
        (5, "le renard brun saute par dessus le chien paresseux", "fr", "s1"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def test_minhash_lsh_finds_near_dups(spark):
    out = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(_docs(spark), jaccard_threshold=0.5).collect()}
    assert (1, 2) in out
    assert (1, 4) not in out


def test_lang_id(spark):
    """The run_job `lang_guess` column: stopword argmax, 'unknown' for NULL
    text, and en before fr when their hit counts tie."""
    extra = spark.createDataFrame(
        [(6, None, "en", "s0"), (7, "le chat the dog", "fr", "s1")],
        "doc_id long, text string, lang string, source string",
    )
    d = _docs(spark).unionByName(extra)
    out = {
        r["doc_id"]: r["g"]
        for r in d.select("doc_id", lang_guess_expr(F.col("text")).alias("g")).collect()
    }
    assert out[1] == "en" and out[5] == "fr"
    assert out[6] == "unknown"
    assert out[7] == "en"


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
    within MAX_ROUNDS = 12 rounds (large-star/small-star halves chain
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
