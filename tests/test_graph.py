"""Triangle counting: known-graph answers, clustering coefficients, and
the orientation invariant (wedges generated at the unique apex count each
triangle exactly once)."""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import Row

from pythondataingestionprocess_spark.operators.graph import (
    _closed_triangles,
    clustering_coefficient_from_chain,
    triangle_count_from_chain,
)


def _edges(spark, pairs):
    return spark.createDataFrame([Row(u=min(a, b), v=max(a, b)) for a, b in pairs]).distinct()


def _count(spark, pairs) -> tuple[int, int, int]:
    r = triangle_count_from_chain(*_closed_triangles(_edges(spark, pairs), False)).collect()[0]
    return r["n_vertices"], r["n_edges"], r["n_triangles"]


def test_k4_has_four_triangles(spark):
    pairs = list(combinations(range(4), 2))
    assert _count(spark, pairs) == (4, 6, 4)


def test_cycle5_has_no_triangles(spark):
    pairs = [(i, (i + 1) % 5) for i in range(5)]
    assert _count(spark, pairs) == (5, 5, 0)


def test_two_triangles_sharing_an_edge(spark):
    pairs = [(0, 1), (1, 2), (0, 2), (1, 3), (2, 3)]
    assert _count(spark, pairs) == (4, 5, 2)


def test_star_graph_has_no_triangles(spark):
    """A hub with many leaves is the skew case the orientation
    handles: all edges point hub-ward (hub has max degree), so the
    hub generates ZERO wedges — the naive form would generate
    C(deg, 2) of them."""
    pairs = [(0, i) for i in range(1, 30)]
    assert _count(spark, pairs) == (30, 29, 0)


def test_matches_brute_force_on_random_graph(spark):
    import random

    rng = random.Random(7)
    n = 30
    pairs = {tuple(sorted(rng.sample(range(n), 2))) for _ in range(120)}
    adj = {i: set() for i in range(n)}
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    brute = sum(
        1
        for a, b, c in combinations(range(n), 3)
        if b in adj[a] and c in adj[a] and c in adj[b]
    )
    verts = {x for p in pairs for x in p}
    assert _count(spark, list(pairs)) == (len(verts), len(pairs), brute)


def _coefficients(spark, pairs):
    _, deg, closed = _closed_triangles(_edges(spark, pairs), False)
    return clustering_coefficient_from_chain(deg, closed).collect()


def test_clustering_coefficient_known_graphs(spark):
    # two triangles sharing edge (1,2): vertices 1,2 have deg 3 and
    # sit in 2 triangles -> 2/3; vertices 0,3 have deg 2, 1 triangle -> 1.0
    pairs = [(0, 1), (1, 2), (0, 2), (1, 3), (2, 3)]
    rows = {
        r["w"]: (r["deg"], r["n_triangles"], r["coefficient"])
        for r in _coefficients(spark, pairs)
    }
    assert rows[0] == (2, 1, 1.0)
    assert rows[3] == (2, 1, 1.0)
    assert rows[1][0] == 3 and rows[1][1] == 2 and abs(rows[1][2] - 2 / 3) < 1e-12
    assert rows[2][0] == 3 and rows[2][1] == 2 and abs(rows[2][2] - 2 / 3) < 1e-12

    # a star closes nothing: hub and leaves all coefficient 0
    star = [(0, i) for i in range(1, 6)]
    srows = {r["w"]: r["coefficient"] for r in _coefficients(spark, star)}
    assert set(srows.values()) == {0.0}
