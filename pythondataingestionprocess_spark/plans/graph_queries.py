"""Graph analytics queries (beyond-reference depth). Completes the
graph primitive family: connected components (``dedup_groups_cc``),
PageRank (``pagerank_nations``), and now triangle counting with
degree orientation (``operators/graph.py`` — the skew-proof wedge
generation that makes clustering-coefficient / community analysis
runnable on a 100 TB co-occurrence graph).

The co-purchase graph: parts appearing together in the same order
(high-quantity lines only, which keeps graph density realistic at
every SF). The whole pipeline is integer-exact equi-joins, so the
DuckDB oracle replays the identical CTE chain and the driver
hash-check covers orientation, wedge generation, and closure — not
just the final count's plausibility.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pythondataingestionprocess_spark.catalog import cached, load_table
from pythondataingestionprocess_spark.operators.graph import (
    _closed_triangles,
    clustering_coefficient_from_chain,
    triangle_count_from_chain,
)
from pythondataingestionprocess_spark.plans.registry import query

# Shared CTE chain for the co-purchase graph — both graph oracles
# replay the same edge build / degree / orientation / wedge / closure
# steps, then aggregate differently.
_GRAPH_CTES = """
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 26
),
pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT w, COUNT(*) AS deg FROM (
    SELECT u AS w FROM pairs UNION ALL SELECT v AS w FROM pairs
  ) GROUP BY 1
),
oriented AS (
  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.u ELSE e.v END AS src,
         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.v ELSE e.u END AS dst
  FROM pairs e
  JOIN deg du ON e.u = du.w
  JOIN deg dv ON e.v = dv.w
),
wedges AS (
  SELECT o1.src, o1.dst AS x, o2.dst AS y
  FROM oriented o1 JOIN oriented o2
    ON o1.src = o2.src AND o1.dst < o2.dst
),
closed AS (
  SELECT w.src, w.x, w.y FROM wedges w
  WHERE EXISTS (SELECT 1 FROM pairs p WHERE p.u = w.x AND p.v = w.y)
)
"""

_TRIANGLE_ORACLE = _GRAPH_CTES + """
SELECT (SELECT COUNT(*) FROM deg)    AS n_vertices,
       (SELECT COUNT(*) FROM pairs)  AS n_edges,
       (SELECT COUNT(*) FROM closed) AS n_triangles
"""

_COEFF_ORACLE = _GRAPH_CTES + """
, verts AS (
  SELECT unnest([src, x, y]) AS w FROM closed
),
tri AS (
  SELECT w, COUNT(*) AS n_triangles FROM verts GROUP BY 1
)
SELECT d.w AS part_id,
       d.deg,
       COALESCE(t.n_triangles, 0) AS n_triangles,
       ROUND(COALESCE(t.n_triangles, 0) / (d.deg * (d.deg - 1) / 2), 6) AS coefficient
FROM deg d LEFT JOIN tri t ON d.w = t.w
WHERE d.deg >= 5
ORDER BY coefficient DESC, part_id
LIMIT 20
"""


@query("copurchase_triangles", oracle=_TRIANGLE_ORACLE, tags=("graph", "join", "triangle"))
def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the part co-purchase graph (parts sharing an
    order, quantity ≥ 26): the transitive-co-occurrence signal that
    feeds clustering coefficients and community detection over a
    product graph.

    Degree-oriented counting (operators/graph.py): each undirected
    edge points from its lower-(degree, id) endpoint, wedges are
    generated only at each triangle's unique low-order apex, and the
    intermediate is Σ outdeg² — bounded by |E|·√|E| even under a
    hot-vertex degree distribution, where the naive Σ deg² wedge join
    goes quadratic. All equi-joins and integer counts; the oracle
    replays the identical orientation/wedge/closure chain.
    """
    return triangle_count_from_chain(*_graph_chain(spark, sf_dir))


# The materialized co-purchase edge list: both graph queries consume
# the SAME edge table, so the session cache holds it once, persisted.
# Each query's own internal checkpoints then start from the cached
# blocks.
def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cached(spark, sf_dir, "copurchase_edges", lambda: _build_edges(spark, sf_dir))


def _build_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    # Per-order co-purchase pairs WITHOUT a self-join: collect the
    # order's distinct part set (collect_set dedups, sort_array orders
    # it so u < v holds by construction) and expand pairs map-side —
    # one exchange on l_orderkey + the final pair distinct, versus a
    # distinct-exchange + self-join + distinct. Basket sizes are
    # order-bounded (single digits on this schema and any realistic
    # basket), so the in-row expansion is O(basket²) with tiny
    # constants — the same sorted-array pair expansion as
    # operators/dedup.bucket_candidate_pairs' small branch. Single-part
    # baskets are filtered out BEFORE the expansion, so the pair
    # expression never sees an array it can't index and needs no
    # empty-array branch (whose element type would come from coercing
    # array<null>).
    ids = (
        lineitem.filter(F.col("l_quantity") >= 26)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pair_sql = (
        "flatten(transform(sequence(1, size(ids) - 1), "
        "i -> transform(slice(ids, i + 1, size(ids) - i), "
        "j -> struct(ids[i - 1] AS u, j AS v))))"
    )
    return (
        ids.select(F.explode(F.expr(pair_sql)).alias("p"))
        .select(F.col("p.u"), F.col("p.v"))
        .distinct()
        .persist()
    )


def _graph_chain(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The full (edges, deg, closed-triangles) chain, shared by BOTH
    graph queries: the wedge self-join + closure semi-join is the
    expensive half of either query, and the two aggregate the SAME
    triangle set. deg and closed are persisted over the cached edges
    (recomputable lineage, see the catalog cache), and move with them."""
    edges = _copurchase_edges(spark, sf_dir)

    def build() -> tuple[DataFrame, DataFrame]:
        _, deg, closed = _closed_triangles(edges, materialize="persist")
        return deg, closed.persist()

    deg, closed = cached(spark, sf_dir, "graph_chain", build, deps=("copurchase_edges",))
    return edges, deg, closed


@query("part_clustering_coefficient", oracle=_COEFF_ORACLE, tags=("graph", "triangle", "topk"))
def part_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 best-connected parts by LOCAL clustering coefficient
    (tri(w) / C(deg(w), 2), degree ≥ 5): how much of a part's
    co-purchase neighborhood buys together — the community-density
    feature for product-graph segmentation.

    Same oriented chain as copurchase_triangles, but each closed
    triangle credits its three vertices (one triangle-grain explode)
    before a left join back onto the degree table. The coefficient is
    one double division over exact integer counts (deterministic
    cross-engine); ordering is on the ROUNDED value with part_id as
    tiebreak, so the LIMIT cuts identically in both engines.
    """
    _, deg, closed = _graph_chain(spark, sf_dir)
    cc = clustering_coefficient_from_chain(deg, closed)
    return (
        cc.filter(F.col("deg") >= 5)
        .select(
            F.col("w").alias("part_id"),
            "deg",
            "n_triangles",
            F.round("coefficient", 6).alias("coefficient"),
        )
        .orderBy(F.col("coefficient").desc(), F.col("part_id"))
        .limit(20)
    )
