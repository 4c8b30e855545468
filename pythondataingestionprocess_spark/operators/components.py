"""Connected components over near-duplicate pair graphs.

Pair detection (MinHash/SimHash/cosine — operators/dedup.py) emits
EDGES; corpus dedup needs GROUPS: every document labeled with a
canonical representative (the min doc id reachable through any chain of
near-dup pairs), so that keep-one-per-group is a single groupBy and
transitive duplicates (A~B, B~C, A≁C) collapse together.

Algorithm: iterative min-label propagation expressed as DataFrame
joins — each round every vertex takes the min of its own label and its
neighbors' labels; fixpoint when no label changes. Rounds needed =
graph diameter. Near-dup clusters are near-cliques (every member pairs
with most others), so diameter is 2-3 and the loop terminates in a
handful of rounds; the driver only ever sees ONE scalar per round (the
changed-label count — the legitimate convergence probe), never data.

At 100 TB:

- each round is one shuffle-join on vertex id + one partial-agg min —
  both map-side combinable; `localCheckpoint` truncates the growing
  lineage so round N doesn't replay rounds 1..N-1;
- for graphs with LONG chains (not the dedup shape), use
  :func:`connected_components_star` — the alternating
  large-star/small-star rounds of Kiveris et al., "Connected
  Components in MapReduce and Beyond" (SoCC 2014), which converge in
  O(log²) rounds on any diameter (property-tested on a 120-node path
  where propagation would need 120 rounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(id, group_id) for every vertex in ``pairs``; ``group_id`` is the
    min id reachable from the vertex (undirected). Deterministic.

    Raises RuntimeError if the fixpoint is not reached in ``max_iter``
    rounds (diameter > max_iter — see module docstring for the
    log-rounds alternative before raising the cap).
    """
    edges = pairs.select(
        F.col(id_a).cast("long").alias("src"), F.col(id_b).cast("long").alias("dst")
    )
    edges = (
        edges.unionAll(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(
                labels.select(F.col("id").alias("dst"), F.col("label").alias("dst_label")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dst_label").alias("neighbor_label"))
            .withColumnRenamed("src", "id")
        )
        updated = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("neighbor_label", F.col("label"))
                ).alias("label"),
                (
                    F.coalesce("neighbor_label", F.col("label")) < F.col("label")
                ).alias("_changed"),
            )
            .localCheckpoint(eager=True)
        )
        n_changed = updated.filter(F.col("_changed")).count()
        labels = updated.drop("_changed")
        if n_changed == 0:
            return labels.withColumnRenamed("label", "group_id")
    raise RuntimeError(
        f"connected_components: no fixpoint after {max_iter} rounds "
        "(graph diameter exceeds cap — use the large-star/small-star body)"
    )


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _star_round(edges: DataFrame, large: bool) -> DataFrame:
    """One large-star / small-star round (Kiveris et al., SoCC 2014).

    For every node u over its undirected neighborhood Γ(u):
    m = min(Γ(u) ∪ {u}); large-star rewires the strictly-larger
    neighbors (v > u) to m, small-star rewires the not-larger ones
    (v ≤ u, plus u itself) to m. Each round is one symmetrize + one
    groupBy-min + one co-partitioned join — no iteration-count
    dependence on graph diameter.
    """
    adj = _symmetrize(edges)
    m = adj.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    joined = adj.join(m, "src")
    if large:
        rewired = joined.filter(F.col("dst") > F.col("src")).select(
            F.col("dst").alias("src"), F.col("m").alias("dst")
        )
    else:
        smaller = joined.filter(F.col("dst") <= F.col("src")).select(
            F.col("dst").alias("src"), F.col("m").alias("dst")
        )
        self_link = m.select(F.col("src"), F.col("m").alias("dst"))
        rewired = smaller.unionAll(self_link)
    return rewired.filter(F.col("src") != F.col("dst")).distinct()


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """(id, group_id) via alternating large-star/small-star rounds —
    O(log² n) rounds on ANY graph shape, vs O(diameter) for
    :func:`connected_components`. Use this form when the pair graph can
    chain (entity resolution, link graphs); the plain propagation is
    cheaper per round on the near-clique graphs dedup produces.

    Same output contract as connected_components: every vertex labeled
    with the min id reachable from it.
    """
    edges = (
        pairs.select(
            F.col(id_a).cast("long").alias("src"),
            F.col(id_b).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    vertices = (
        _symmetrize(edges).select(F.col("src").alias("id")).distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        after_large = _star_round(edges, large=True).localCheckpoint(eager=True)
        after_small = _star_round(after_large, large=False).localCheckpoint(eager=True)
        # converged when the small-star output is a fixpoint: every
        # edge already points at its component minimum (star shape) —
        # detected by edge-set equality. subtract() both ways is the
        # small-data form; at 100 TB compare (count, sum(src), sum(dst))
        # — the star rounds monotonically decrease both sums, so the
        # triple is a cheap sound convergence witness.
        same = (
            after_small.exceptAll(edges).limit(1).count() == 0
            and edges.exceptAll(after_small).limit(1).count() == 0
        )
        edges = after_small
        if same:
            labels = edges.select(
                F.col("src").alias("id"), F.col("dst").alias("group_id")
            )
            # star centers label themselves; vertices absent from the
            # final edge list (isolated after self-loop removal) too
            centers = vertices.join(
                labels.select("id"), "id", "left_anti"
            ).select("id", F.col("id").alias("group_id"))
            return labels.unionByName(centers)
    raise RuntimeError(
        f"connected_components_star: no fixpoint after {max_iter} rounds"
    )


def incremental_components(
    labels: DataFrame,
    new_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Maintain a components labeling under a NEW batch of near-dup
    pairs — the daily-ingest face of dedup grouping, completing the
    incremental family next to minhash_lsh_pairs_incremental /
    cosine_near_dup_pairs_incremental (which produce exactly these
    batch edges).

    ``labels`` is the stored ``(id, group_id)`` table (group_id = min
    reachable id, the connected_components output contract);
    ``new_pairs`` is the batch edge list, which may mention brand-new
    ids. Returns the updated full labeling under the same contract —
    bit-equal to re-running CC over the entire edge history (pinned by
    tests), without touching that history:

    1. CONTRACT: each batch endpoint is replaced by its current label
       (itself when unlabeled) — one broadcastable lookup join per
       side; edges that fall inside one existing group vanish here.
    2. SOLVE: connected components over the contracted graph, whose
       vertices are touched group ids + new ids — BATCH-sized, so the
       star rounds iterate over a few thousand edges however large the
       corpus labeling is.
    3. REMAP: one join of the stored labels against the contracted
       solution on group_id (merged groups adopt the new min — which
       can be a NEW id smaller than every existing member), plus
       self-or-solved labels for the batch's new ids.

    Per-batch cost: one pass over the labels table + CC(|batch|). A
    full re-solve is O(rounds × |all edges ever|) — the difference is
    the whole point at a 100 TB corpus with a daily pair feed.
    """
    edges = (
        new_pairs.select(
            F.col(id_a).cast("long").alias("src"),
            F.col(id_b).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    batch_ids = (
        _symmetrize(edges).select(F.col("src").alias("id")).distinct()
    )
    lookup = labels.select(
        F.col("id").alias("_lid"), F.col("group_id").alias("_lgrp")
    )
    contracted = (
        edges.join(lookup, edges.src == lookup._lid, "left")
        .select(F.coalesce("_lgrp", "src").alias("src"), "dst")
        .join(lookup, F.col("dst") == lookup._lid, "left")
        .select("src", F.coalesce("_lgrp", "dst").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    solved = connected_components_star(
        contracted, id_a="src", id_b="dst", max_iter=max_iter
    ).select(F.col("id").alias("_sid"), F.col("group_id").alias("_sgrp"))

    updated_old = labels.join(
        solved, labels.group_id == F.col("_sid"), "left"
    ).select("id", F.coalesce("_sgrp", "group_id").alias("group_id"))
    new_ids = batch_ids.join(labels.select("id"), "id", "left_anti")
    new_rows = new_ids.join(
        solved, new_ids.id == F.col("_sid"), "left"
    ).select("id", F.coalesce("_sgrp", "id").alias("group_id"))
    return updated_old.unionByName(new_rows)
