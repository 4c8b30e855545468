"""SemDeDup — semantic (embedding-space) deduplication via cluster-
scoped near-duplicate screening (Abbas et al., "SemDeDup: Data-
efficient learning at web-scale through semantic deduplication",
arXiv:2303.09540).

The published pipeline: k-means the corpus embeddings, then inside
each cluster mark every pair above a cosine threshold as semantic
duplicates and KEEP the member with the LOWEST cosine similarity to
the cluster centroid (edge examples carry more training signal than
prototypical ones — the paper's §3 keep-rule), dropping the rest.
Cross-cluster duplicates are deliberately not searched — that
approximation is what makes the method linear-ish instead of n²; the
paper accepts it, and so do we (pinned in tests).

Distributed shape (never all-pairs):

1. **assignment** — one map-side pass. For the small-k face used by
   the registered query, assignment is a PURE COLUMN EXPRESSION:
   ``array_min`` over a literal array of ``struct(dist, cid, cos_c)``
   built from the broadcast centroid list — no join, no UDF, no
   shuffle, whole-stage codegen end to end, and a DuckDB oracle can
   replay it bit-for-bit (sequential double folds — see
   functions/vectors.py). For large k (the paper runs 50k clusters)
   swap in the Arrow-batched GEMM assigner (``assigner="gemm"``,
   :func:`_assign_gemm_udf` below — NOT ivf._assign_udf, which lacks
   the cos_c keep-rank output) — same output contract, vectorized
   argmin.
2. **within-cluster screen** — self-join on the cluster id (one
   shuffle per side, co-partitioned hash join), pair condition
   ``cos >= threshold`` and keep-rule dominance. Quadratic only
   WITHIN a cluster; k scales with the corpus so cluster size stays
   bounded — that is the paper's own scaling knob.
3. **verdict** — dropped rows aggregate to ``(id, dup_of)`` where
   ``dup_of`` is the dominating neighbor with the best (lowest)
   keep-rank; survivors are the corpus anti-joined on the dropped set
   (the caller's anti-join; this module returns the dropped set).

Keep-rule total order inside a cluster: ``(cos_to_centroid ASC,
id ASC)`` — the paper's low-centroid-similarity preference with ids
breaking exact ties, which makes the whole operator deterministic
(bit-identical embeddings have bit-identical centroid cosines, so
duplicate GROUPS always resolve by id).

Reference parity note: the reference system (966-LoC pandas/psycopg2
ingestion) has no embedding surface at all — this module is part of
the driver-mandated LLM-training-pipeline family, built on the
published SemDeDup design.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pythondataingestionprocess_spark.functions.vectors import cosine


def md5_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
) -> list[tuple[int, list[float]]]:
    """Deterministic data-derived centroid pick: the ``k`` corpus
    vectors with the smallest ``md5(cast(id as string))``, cluster ids
    assigned in that md5 order (0..k-1).

    This is the md5-spread sample used for k-means init elsewhere
    (operators/ivf.py), promoted to the WHOLE quantizer for the
    oracle-able face: zero refinement iterations means a SQL engine
    can recompute the identical centroid set, which Lloyd iterations
    would forbid. Dedup semantics only need near-dups to land in the
    SAME cell — bit-identical embeddings always do, under any fixed
    centroid set. Driver payload is k rows (codebook-sized, the
    legitimate driver state of any quantizer).
    """
    rows = (
        df.select(
            F.col(id_col), F.col(vec_col), F.md5(F.col(id_col).cast("string")).alias("_m")
        )
        .orderBy("_m", id_col)
        .limit(k)
        .collect()
    )
    return [(cid, list(r[vec_col])) for cid, r in enumerate(rows)]


def _lit_vec(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def _assign_gemm_udf(centroids: list[tuple[int, list[float]]]):
    """Arrow-batched GEMM assigner for the large-k regime (the k-sweep
    in BASELINE.md puts the local expression/GEMM crossover at
    k≈16–32; the paper's k≈50k is GEMM territory from the start). Returns struct(c, cos) — same contract as the
    expression assigner; same argmin-(d, cid) tie-break (np.argmin
    takes the first minimum and rows are ordered by cid)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    c = np.array([v for _, v in sorted(centroids)], dtype=np.float64)
    cids = np.array([cid for cid, _ in sorted(centroids)], dtype=np.int32)
    c_sq = (c * c).sum(axis=1)
    c_norm = np.sqrt(c_sq)

    @pandas_udf("struct<c:int,cos:double>")
    def _assign(emb):  # pd.Series -> pd.DataFrame (struct columns)
        mat = np.vstack(emb.to_numpy()).astype(np.float64)
        dots = mat @ c.T
        d = c_sq[None, :] - 2.0 * dots  # |x|^2 constant per row
        best = d.argmin(axis=1)
        # cos_c is the KEEP-RANK — the tie-breaker between bit-identical
        # embeddings — so it must not depend on which Arrow batch a row
        # landed in. BLAS GEMM results for the SAME row differ by ~1 ulp
        # across batch shapes (OpenBLAS picks different kernels/threading
        # by M: measured 7.1e-15 drift between M=64 and M=100), which
        # flipped (cos, id) rank order between a copy pair whose batches
        # differed in size. Recompute the selected-centroid
        # dot per row with numpy's fixed-order row reduction instead —
        # bit-identical for a given row regardless of batch size or BLAS
        # threading (pinned by test_gemm_cos_is_batch_shape_invariant).
        # GEMM still feeds ONLY the argmin, where centroid distance gaps
        # are orders of magnitude above ulp noise (the margin
        # certificate's guarantee), so cluster choice is shape-stable.
        sel = c[best]
        dot_sel = np.einsum("ij,ij->i", mat, sel)
        x_norm = np.sqrt((mat * mat).sum(axis=1))
        denom = x_norm * c_norm[best]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = dot_sel / denom
        # zero-norm rows/centroids: the expr path's try_divide yields
        # NULL — mirror that (NaN would sort ABOVE every double in the
        # keep-rank and silently diverge the dropped set).
        # Mask ONLY the zero-denominator rows: pd.array(..., "Float64")
        # would coerce EVERY NaN to NA, so a NaN embedding component
        # (expr path: try_divide(NaN, NaN) = NaN, divisor nonzero)
        # would re-open the same divergence from the other side.
        # FloatingArray with an explicit
        # mask keeps unmasked NaN as NaN through Arrow.
        cos_out = pd.arrays.FloatingArray(cos, mask=(denom == 0.0))
        return pd.DataFrame({"c": cids[best], "cos": cos_out})

    return _assign


def assign_clusters(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    cos_col: str = "cos_c",
    assigner: str = "expr",
) -> DataFrame:
    """Nearest-centroid assignment. ``assigner="expr"`` (default) is
    one column expression: for each centroid build
    ``struct(squared_L2, cid, cos)`` from literal arrays, take
    ``array_min`` (lexicographic: distance, then cid — ties resolve to
    the lowest cluster id in both engines) — no UDF, codegen end to
    end, and a SQL oracle can replay it. ``assigner="gemm"`` is the
    Arrow-batched numpy kernel for large k (expression size grows ∝ k;
    measured crossover k≈16–32, BASELINE.md). Both add
    ``cluster_col`` and ``cos_col`` (cosine to the OWN centroid, the
    keep-rank key) with the same argmin-(d, cid) semantics; the dedup
    OUTPUT is assigner-invariant (see semdedup_dropped) even where
    distance ulps would flip a noise vector's cell."""
    if assigner == "gemm":
        best = _assign_gemm_udf(centroids)(F.col(vec_col))
        return (
            df.withColumn("_b", best)
            .withColumn(cluster_col, F.col("_b")["c"])
            .withColumn(cos_col, F.col("_b")["cos"])
            .drop("_b")
        )
    if assigner != "expr":
        raise ValueError(f"unknown assigner {assigner!r}")
    # dot identity: argmin ||x-c||^2 = argmin (|c|^2 - 2 x.c), |x|^2
    # constant per row — one zip_with fold per centroid instead of a
    # subtract-square fold, and cos reuses the same dot with the row
    # norm factored out once. The exact float form differs from a
    # literal (x-y)^2 fold, which is fine: dedup output is
    # assignment-formula-invariant (see semdedup_dropped docstring —
    # noise never passes the threshold, copy groups move together).
    x_norm = F.sqrt(
        F.aggregate(
            F.transform(
                F.col(vec_col), lambda x: x.cast("double") * x.cast("double")
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    candidates = []
    for cid, vec in centroids:
        lit = _lit_vec(vec)
        c_sq = float(sum(x * x for x in (float(v) for v in vec)))
        dot_xc = F.aggregate(
            F.zip_with(F.col(vec_col), lit, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        candidates.append(
            F.struct(
                (F.lit(c_sq) - F.lit(2.0) * dot_xc).alias("d"),
                F.lit(cid).alias("c"),
                F.try_divide(dot_xc, F.col("_xn") * F.lit(c_sq**0.5)).alias("cos"),
            )
        )
    best = F.array_min(F.array(*candidates))
    return (
        df.withColumn("_xn", x_norm)
        .withColumn(cluster_col, best["c"])
        .withColumn(cos_col, best["cos"])
        .drop("_xn")
    )


def semdedup_dropped(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    assigner: str = "expr",
) -> DataFrame:
    """``(id_col, dup_of)`` — one row per DROPPED corpus member.

    A row ``b`` drops when some same-cluster ``a`` has
    ``cos(a, b) >= threshold`` and a strictly better keep-rank
    ``(cos_c, id)``; ``dup_of`` is the best-ranked such ``a`` — the
    evidence neighbor, NOT necessarily a survivor (see below).

    Semantics contract (pinned in tests): a duplicate CLIQUE (e.g.
    bit-identical embeddings, mutually >= any threshold) keeps exactly
    its lowest-rank member. A similarity CHAIN that is not a clique
    (a~b, b~c, a≁c) drops BOTH b and c — the same keep-one-per-
    component convention as ``dedup_keep_one``/connected-components,
    slightly more aggressive than the paper's sequential greedy screen
    (which would re-admit c once b is gone). One corpus pass, no
    iteration; ``dup_of`` for a chain tail can therefore name a row
    that was itself dropped."""
    # localCheckpoint: the assignment expression (k struct candidates,
    # one fold each) is wide codegen — evaluate it ONCE and join the
    # materialized result with itself, instead of compiling+running it
    # on both sides of the self-join. Lineage past this point is one
    # map stage over the source, so the lost-executor recompute window
    # is the same one components.py documents.
    assigned = (
        assign_clusters(df, centroids, vec_col=vec_col, assigner=assigner)
        .select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            "cluster",
            "cos_c",
        )
        .localCheckpoint(eager=False)
    )
    a = assigned.select(
        F.col("_id").alias("id_a"),
        F.col("_v").alias("va"),
        "cluster",
        F.col("cos_c").alias("cos_a"),
    )
    b = assigned.select(
        F.col("_id").alias("id_b"),
        F.col("_v").alias("vb"),
        "cluster",
        F.col("cos_c").alias("cos_b"),
    )
    pairs = a.join(b, "cluster").filter(
        (
            F.struct(F.col("cos_a").alias("r"), F.col("id_a").alias("i"))
            < F.struct(F.col("cos_b").alias("r"), F.col("id_b").alias("i"))
        )
        & (cosine("va", "vb") >= F.lit(threshold))
    )
    return pairs.groupBy("id_b").agg(
        F.min(F.struct(F.col("cos_a").alias("r"), F.col("id_a").alias("i")))[
            "i"
        ].alias("dup_of")
    ).select(F.col("id_b").alias(id_col), "dup_of")
