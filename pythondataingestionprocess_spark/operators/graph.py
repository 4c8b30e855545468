"""Triangle counting with degree orientation — the third graph
primitive next to ``components.py`` (connected components) and the
PageRank query (``pagerank_nations``).

Naive triangle counting joins the edge list with itself on a shared
vertex and checks closure: the wedge intermediate is Σ deg(v)², which
a single hot vertex turns quadratic — the classic 100 TB graph
failure. The standard fix (Cohen's MapReduce triangle algorithm;
also the GraphX/Galois formulation) ORIENTS each undirected edge from
its lower-(degree, id) endpoint to its higher one. Every triangle
then has exactly one vertex with two outgoing oriented edges, wedges
are generated only at that apex, and the intermediate shrinks to
Σ outdeg(v)² where outdeg is bounded by ~√|E| for every vertex —
skew-proof without salting.

Everything is equi-joins + aggregations (no Python), and the whole
pipeline is integer-exact, so a DuckDB oracle can replay the same
CTE chain and the driver hash-check covers the full algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def normalize_edges(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """Undirected edge list from raw pairs: order endpoints, drop
    self-loops and duplicates. Output columns (u, v) with u < v."""
    return (
        pairs.select(
            F.least(F.col(a), F.col(b)).alias("u"),
            F.greatest(F.col(a), F.col(b)).alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )


def triangle_count(edges: DataFrame, materialize: bool = True) -> DataFrame:
    """Count triangles in an undirected graph given as normalized
    (u, v) edges (u < v, distinct).

    Degree-oriented: each edge points from its lower-(degree, id)
    endpoint to the higher one; wedges (s→x, s→y) are generated at
    the unique low-order apex and closed against the oriented edge
    (x, y). Returns a 1-row frame (n_vertices, n_edges, n_triangles).

    Scale: two |E|-keyed joins to attach degrees, one wedge self-join
    whose output is Σ outdeg² ≤ |E|·√|E| worst-case (vs Σ deg² —
    unbounded under skew — for the unoriented form), and one closure
    join at wedge grain. No vertex ever fans out more than its
    oriented out-degree.

    ``materialize`` (default on) localCheckpoints the three reused
    frames (edges, degrees, oriented). DataFrame reuse is NOT common-
    subexpression elimination (the repo's q20/dedup_ingest lesson):
    without the barrier, every one of this plan's seven references to
    ``edges`` re-executes the caller's whole edge-building subtree —
    28 source scans observed for the co-purchase graph. Graph
    algorithms are exactly where Spark's cache/checkpoint idiom is
    mandatory (GraphX materializes its edge RDDs for the same
    reason). Pass False only for plan inspection of the pure shape.
    """
    return triangle_count_from_chain(*_closed_triangles(edges, materialize))


def triangle_count_from_chain(
    edges: DataFrame, deg: DataFrame, closed: DataFrame
) -> DataFrame:
    """The (n_vertices, n_edges, n_triangles) roll-up over an already
    built (edges, deg, closed) chain — split out so callers that run
    SEVERAL graph analytics on one graph (triangle count + clustering
    coefficients here) can build the expensive wedge/closure chain
    once and aggregate it many ways, the way an engine materializes a
    shared intermediate (r17 optimization).

    ONE aggregation job (r18, guide §2.4): the three counts ride a
    tagged union through a single global aggregate with map-side
    partials instead of three separate 1-row aggregation jobs glued
    by two broadcast-nested-loop cross joins — same integer-exact
    values, one pass, no broadcast exchanges."""
    u = (
        deg.select(F.lit("v").alias("k"))
        .unionAll(edges.select(F.lit("e").alias("k")))
        .unionAll(closed.select(F.lit("t").alias("k")))
    )
    return u.agg(
        F.count(F.when(F.col("k") == "v", 1)).alias("n_vertices"),
        F.count(F.when(F.col("k") == "e", 1)).alias("n_edges"),
        F.count(F.when(F.col("k") == "t", 1)).alias("n_triangles"),
    )


def _closed_triangles(edges: DataFrame, materialize):
    """Shared chain: degrees → orientation → apex wedges → closure.
    Returns (edges, deg, closed) where ``closed`` has one row
    (src, x, y) per triangle, emitted at its unique low-order apex.

    ``materialize`` modes:

    - ``True`` — localCheckpoint the reused frames (edges, deg,
      oriented). The ONE-SHOT operator path: barriers are paid once
      and discarded with the query. DataFrame reuse is not CSE (the
      repo's q20/dedup_ingest lesson) so the barriers are mandatory
      here.
    - ``"persist"`` — lazy StorageLevel caching with RECOMPUTABLE
      lineage for deg (the caller persists ``closed`` and brings its
      own persisted edges). The session-cache path
      (plans/graph_queries._graph_chain): cached frames OUTLIVE the
      query there, and a checkpoint's severed lineage would make any
      lost block unrecoverable for every later graph query in the
      session.
      ``oriented`` is deliberately NOT cached: both wedge sides read
      it, but it is one cheap projection over the cached edges+deg
      join, and skipping the cache avoids a third block set and the
      eager barrier.
    - ``False`` — pure plan shape, for inspection.
    """
    if materialize is True:
        edges = edges.localCheckpoint()
    deg = (
        edges.select(F.col("u").alias("w"))
        .unionAll(edges.select(F.col("v").alias("w")))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    if materialize is True:
        deg = deg.localCheckpoint()
    elif materialize == "persist":
        deg = deg.persist()
    du = deg.select(F.col("w").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("w").alias("v"), F.col("deg").alias("deg_v"))
    with_deg = edges.join(du, "u").join(dv, "v")
    # orient: src = lower (degree, id) endpoint
    src_is_u = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    oriented = with_deg.select(
        F.when(src_is_u, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(src_is_u, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    if materialize is True:
        oriented = oriented.localCheckpoint()
    # wedges at the apex: two out-edges (src→x), (src→y), x < y keeps
    # each unordered pair once. SHUFFLE_HASH hint: the planner's
    # default sort-merge pays two full sorts of the oriented edge
    # list, and the wedge stream feeds an unordered semi-join + counts,
    # so nothing downstream wants that order. The orientation bounds
    # each KEY's out-degree by O(√|E|), not the build side: a
    # ShuffledHashJoin builds one hash table over its whole partition
    # (~|E|/numPartitions rows) and cannot spill, so the hint holds
    # only while a partition of the oriented edges fits in executor
    # memory.
    o1 = oriented.select(F.col("src"), F.col("dst").alias("x"))
    o2 = oriented.select(F.col("src"), F.col("dst").alias("y"))
    wedges = o1.join(o2.hint("shuffle_hash"), "src").filter(F.col("x") < F.col("y"))
    # closure: the third side exists as an UNDIRECTED edge; normalized
    # edges already store it as (min, max) = (x, y)
    closed = wedges.join(
        edges.select(F.col("u").alias("x"), F.col("v").alias("y")), ["x", "y"], "left_semi"
    )
    return edges, deg, closed


def clustering_coefficient(edges: DataFrame, materialize: bool = True) -> DataFrame:
    """Per-vertex local clustering coefficient: for each vertex w,
    tri(w) / C(deg(w), 2) — the fraction of w's neighbor pairs that
    are themselves connected; the community-density signal on a
    co-occurrence graph.

    Reuses the oriented triangle chain: every closed triangle
    (src, x, y) credits its three vertices (one explode, triangle-
    grain), then a left join back onto the degree table gives every
    vertex a row (coefficient 0 when it closes no triangle, NULL-free
    via coalesce). All counts integer-exact; the coefficient is one
    double division — deterministic cross-engine.
    """
    _, deg, closed = _closed_triangles(edges, materialize)
    return clustering_coefficient_from_chain(deg, closed)


def clustering_coefficient_from_chain(
    deg: DataFrame, closed: DataFrame
) -> DataFrame:
    """Per-vertex coefficients over an already built chain — the
    shared-intermediate twin of :func:`triangle_count_from_chain`."""
    tri_v = (
        closed.select(
            F.explode(F.array(F.col("src"), F.col("x"), F.col("y"))).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    out = deg.join(tri_v, "w", "left").select(
        "w",
        "deg",
        F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
        F.when(
            F.col("deg") >= 2,
            F.coalesce(F.col("n_triangles"), F.lit(0))
            / (F.col("deg") * (F.col("deg") - 1) / 2),
        )
        .otherwise(F.lit(0.0))
        .alias("coefficient"),
    )
    return out
