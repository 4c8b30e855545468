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


def triangle_count_from_chain(
    edges: DataFrame, deg: DataFrame, closed: DataFrame
) -> DataFrame:
    """The (n_vertices, n_edges, n_triangles) roll-up over an already
    built (edges, deg, closed) chain — split out so callers that run
    SEVERAL graph analytics on one graph (triangle count + clustering
    coefficients here) can build the expensive wedge/closure chain
    once and aggregate it many ways, the way an engine materializes a
    shared intermediate.

    ONE aggregation job: the three counts ride a
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

    - ``"persist"`` — lazy StorageLevel caching with RECOMPUTABLE
      lineage for deg (the caller persists ``closed`` and brings its
      own persisted edges). The session-cache path
      (plans/graph_queries._graph_chain): cached frames OUTLIVE the
      query there, and a checkpoint's severed lineage would make any
      lost block unrecoverable for every later graph query in the
      session. DataFrame reuse is not common-subexpression
      elimination, so without the cache every reference to ``deg``
      re-runs its aggregate.
      ``oriented`` is deliberately NOT cached: both wedge sides read
      it, but it is one cheap projection over the cached edges+deg
      join, and skipping the cache avoids a third block set and the
      eager barrier.
    - ``False`` — pure plan shape, for inspection and small graphs.
    """
    deg = (
        edges.select(F.col("u").alias("w"))
        .unionAll(edges.select(F.col("v").alias("w")))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    if materialize == "persist":
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
